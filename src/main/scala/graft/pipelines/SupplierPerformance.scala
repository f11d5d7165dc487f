package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Entities
import graft.model.Entities.{dec, decD, decQ}

/** Supplier performance mart — re-expression of the reference DAG node
  * `m_load_suppliers_performance` (reference:
  * `ETL_Airflow/dags/tasks/m_supplier_performance_task.py:13-172`):
  *
  *   SQ(sales,products,suppliers) → FIL(status != Cancelled)
  *   → sales ⟕ products → ⟖ suppliers → REVENUE = qty*(price - disc)
  *   → AGG supplier×product → { window top-1 product ; re-agg supplier }
  *   → join branches → fillna/No-sales → ordered target.
  *
  * Deviations from the reference, by design:
  *   - Window order adds PRODUCT_ID as tiebreak (the reference's revenue-only
  *     ordering is nondeterministic under ties).
  *   - Money math in DECIMAL(18,4), cast to DOUBLE at the end (exact,
  *     order-independent — see [[graft.model.Entities]]).
  *   - DAY_DT is the injected clock, not `current_date()`.
  *
  * Scale posture (plan-reviewed via explain("formatted")):
  *   - products is broadcast into the big sales scan; the lineitem⟕orders
  *     backbone stays a key-partitioned join.
  *   - The supplier×product AGGREGATION RUNS BEFORE the suppliers join
  *     (the reference joins first): an outer join cannot broadcast its
  *     preserved side, so joining raw sales to suppliers forces a
  *     sort-merge of the full fact table — aggregating first shrinks the
  *     join input from |sales| to |supplier×product| rows. Results are
  *     identical: the aggregation keys functionally determine the
  *     supplier, and unmatched/no-sales rows flow the same way.
  *   - The aggregate feeds both branches (window top-1 and supplier
  *     re-agg); it is persisted in the [[ResultSort]] window so the
  *     diamond computes the fact scan ONCE (slightly different pushed
  *     constraints per branch defeat ReuseExchange otherwise — verified
  *     in the physical plan).
  *   - The final global orderBy is a range-partitioned sort, fine at any
  *     scale.
  */
object SupplierPerformance {

  def apply(spark: SparkSession, dir: String): DataFrame = {
    val sales = Entities.sales(spark, dir)
      .select("PRODUCT_ID", "QUANTITY", "ORDER_STATUS", "DISCOUNT")
    val products = Entities.products(spark, dir)
      .select("PRODUCT_ID", "SUPPLIER_ID", "PRODUCT_NAME", "SELLING_PRICE")
    val suppliers = Entities.suppliers(spark, dir)

    val filtered = sales.filter(col("ORDER_STATUS") =!= "Cancelled")

    // Explicit ON joins: the reference selects the *right* side's key after
    // an `on="name"` join (its J6 qualified-projection idiom); Seq-joins
    // would coalesce the key column away (SURVEY.md §7.5 item 6).
    val salesProducts = filtered
      .join(broadcast(products),
        filtered("PRODUCT_ID") === products("PRODUCT_ID"), "left")
      .select(filtered("QUANTITY"), filtered("DISCOUNT"),
        products("PRODUCT_ID"), products("SUPPLIER_ID"),
        products("PRODUCT_NAME"), products("SELLING_PRICE"))
      .withColumn("REVENUE",
        decQ(col("QUANTITY")) * (dec(col("SELLING_PRICE")) -
          coalesce(decD(col("DISCOUNT")), lit(0).cast(Entities.DiscDec))))

    // Aggregate BEFORE the suppliers outer join (see scale posture above):
    // the join then touches |supplier×product| rows, not |sales|.
    val aggSalesProduct = salesProducts
      .groupBy("SUPPLIER_ID", "PRODUCT_ID", "PRODUCT_NAME")
      .agg(
        sum("REVENUE").as("agg_REVENUE"),
        sum("QUANTITY").as("agg_QUANTITY"))

    // diamond: consumed by both the window and the re-agg branch
    val aggSupplierProduct = ResultSort.window.add(aggSalesProduct
      .join(suppliers,
        aggSalesProduct("SUPPLIER_ID") === suppliers("SUPPLIER_ID"), "right")
      .select(aggSalesProduct("PRODUCT_ID"), aggSalesProduct("PRODUCT_NAME"),
        aggSalesProduct("agg_REVENUE"), aggSalesProduct("agg_QUANTITY"),
        suppliers("SUPPLIER_ID"), suppliers("SUPPLIER_NAME")))

    val w = Window.partitionBy("SUPPLIER_ID")
      .orderBy(col("agg_REVENUE").desc, col("PRODUCT_ID").asc)
    val topProducts = aggSupplierProduct
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") === 1)
      .withColumnRenamed("PRODUCT_NAME", "TOP_SELLING_PRODUCT")
      .select("SUPPLIER_ID", "TOP_SELLING_PRODUCT")

    val aggSupplier = aggSupplierProduct
      .groupBy("SUPPLIER_ID", "SUPPLIER_NAME")
      .agg(
        sum("agg_REVENUE").as("agg_TOTAL_REVENUE"),
        sum("agg_QUANTITY").as("agg_TOTAL_STOCK_SOLD"),
        countDistinct("PRODUCT_ID").as("agg_TOTAL_PRODUCTS_SOLD"))

    aggSupplier
      .join(topProducts, Seq("SUPPLIER_ID"), "left")
      .select(
        lit(java.sql.Date.valueOf(Entities.DayDtLit)).as("DAY_DT"),
        col("SUPPLIER_ID"),
        col("SUPPLIER_NAME"),
        coalesce(col("agg_TOTAL_REVENUE"), lit(0)).cast("double").as("TOTAL_REVENUE"),
        col("agg_TOTAL_PRODUCTS_SOLD").as("TOTAL_PRODUCTS_SOLD"),
        coalesce(col("agg_TOTAL_STOCK_SOLD"), lit(0)).cast("double").as("TOTAL_STOCK_SOLD"),
        coalesce(col("TOP_SELLING_PRODUCT"), lit("No sales")).as("TOP_SELLING_PRODUCT"))
  }

  /** DuckDB oracle — same math, same decimal discipline, same tiebreaks. */
  val oracle: String = Entities.sqlCtes + """
    |, fil AS (SELECT * FROM sales WHERE ORDER_STATUS <> 'Cancelled')
    |, sp AS (
    |  SELECT f.QUANTITY, f.DISCOUNT, p.PRODUCT_ID, p.SUPPLIER_ID, p.PRODUCT_NAME, p.SELLING_PRICE
    |  FROM fil f LEFT JOIN products p ON f.PRODUCT_ID = p.PRODUCT_ID
    |), ws AS (
    |  SELECT sp.PRODUCT_ID, sp.PRODUCT_NAME, sp.QUANTITY, sp.SELLING_PRICE,
    |         s.SUPPLIER_ID, s.SUPPLIER_NAME,
    |         CAST(sp.QUANTITY AS DECIMAL(8,2)) *
    |           (CAST(sp.SELLING_PRICE AS DECIMAL(12,4)) - COALESCE(CAST(sp.DISCOUNT AS DECIMAL(8,4)), CAST(0 AS DECIMAL(8,4)))) AS REVENUE
    |  FROM sp RIGHT JOIN suppliers s ON sp.SUPPLIER_ID = s.SUPPLIER_ID
    |), aggsp AS (
    |  SELECT SUPPLIER_ID, SUPPLIER_NAME, PRODUCT_ID, PRODUCT_NAME,
    |         SUM(REVENUE) AS agg_REVENUE, SUM(QUANTITY) AS agg_QUANTITY
    |  FROM ws GROUP BY 1,2,3,4
    |), top AS (
    |  SELECT SUPPLIER_ID, PRODUCT_NAME AS TOP_SELLING_PRODUCT
    |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY SUPPLIER_ID ORDER BY agg_REVENUE DESC, PRODUCT_ID ASC) AS rn FROM aggsp)
    |  WHERE rn = 1
    |), aggs AS (
    |  SELECT SUPPLIER_ID, SUPPLIER_NAME, SUM(agg_REVENUE) AS tr, SUM(agg_QUANTITY) AS ts,
    |         COUNT(DISTINCT PRODUCT_ID) AS tp
    |  FROM aggsp GROUP BY 1,2
    |)
    |SELECT DATE '2025-01-01' AS DAY_DT, a.SUPPLIER_ID, a.SUPPLIER_NAME,
    |       CAST(COALESCE(a.tr, 0) AS DOUBLE) AS TOTAL_REVENUE,
    |       a.tp AS TOTAL_PRODUCTS_SOLD,
    |       CAST(COALESCE(a.ts, 0) AS DOUBLE) AS TOTAL_STOCK_SOLD,
    |       COALESCE(t.TOP_SELLING_PRODUCT, 'No sales') AS TOP_SELLING_PRODUCT
    |FROM aggs a LEFT JOIN top t ON a.SUPPLIER_ID = t.SUPPLIER_ID
    |ORDER BY a.SUPPLIER_ID""".stripMargin
}
