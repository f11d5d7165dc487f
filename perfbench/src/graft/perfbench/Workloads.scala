package graft.perfbench

/** The benchmark's named workloads. Both read the committed sf0.01
  * fixture. A pass runs every operation of the workload once ("dag" is
  * the nightly DAG; every other name is a `SparkEntry.queries` cell).
  *
  * Operations come in groups. The seed permutes the groups, and the same
  * permutation applies to every pass of a run. Cells that share a cache
  * window stay in one group in a fixed order, so the same cell pays the
  * shared build whatever the seed. */
object Workloads {

  final case class Workload(name: String, groups: Seq[Seq[String]],
                            inputTables: Seq[String]) {
    def ops: Seq[String] = groups.flatten
    def cells: Seq[String] = ops.filterNot(_ == "dag")
  }

  val RelationalTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val CorpusTables: Seq[String] = Seq("events", "documents", "embeddings")

  /** Cells that build an `IndexStore` artifact on their first call. */
  val IndexedCells: Set[String] = Set("q_select_dsir_indexed")

  /** The reference's nightly DAG, then its duplicate gate and the Raptor
    * reconciliation surface. */
  val EtlNightly: Workload = Workload("etl_nightly",
    Seq("dag", "dup_check", "reconcile_row_diff", "reconcile_col_mismatch",
      "reconcile_src_extra", "reconcile_tgt_extra", "reconcile_summary",
      "reconcile_col_summary").map(Seq(_)),
    RelationalTables)

  /** A fixed subset of `SparkEntry.queries` with cells from every query
    * module: the job-count diet targets (customer_sales_report,
    * q_nb_calibration, q_eval_pq_recall, q_select_dsir), the dsir
    * index-store builder, the corpus-curation funnel, a cell that reads
    * through graft.streaming.EventStreams, and two cheap driver-bound
    * operator cells. The full 208-cell sweep takes about two minutes per
    * pass on 4 cores, too long for one benchmark run. */
  val CellSweep: Workload = Workload("cell_sweep", Seq(
    Seq("customer_sales_report"),
    Seq("q_nb_calibration"),
    Seq("q_eval_pq_recall"),
    Seq("q_select_dsir", "q_select_dsir_indexed"),
    Seq("q_corpus_pipeline"),
    Seq("q_events_windowed"),
    Seq("q_ingest_suppliers_snapshot"),
    Seq("q_join_semi")),
    RelationalTables ++ CorpusTables)

  val all: Map[String, Workload] = Seq(EtlNightly, CellSweep).map(w => w.name -> w).toMap

  /** Tables the nightly DAG lands under `raw/` and `legacy/`, and the
    * marts among them that have an oracle query of the same name. */
  val DagTables: Seq[String] = Seq("suppliers", "products", "customers",
    "sales", "supplier_performance", "product_performance",
    "customer_sales_report")
  val DagMarts: Seq[String] =
    Seq("supplier_performance", "product_performance", "customer_sales_report")
}
