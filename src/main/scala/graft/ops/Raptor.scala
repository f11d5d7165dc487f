package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's `submit_raptor_request` end-to-end flow
  * (`Raptor.py:491-534` → `536-655`): resolve each side from its source
  * mode, run the composed diff, persist the delta tables, render the
  * report, and (via [[submitAndDeliver]]) hand the report to an
  * injectable [[graft.io.Mail.Mailer]] — completing the reference's
  * SMTP delivery step (`Raptor.py:675-683`) without binding the engine
  * to a transport.
  *
  * Source modes mirror the reference exactly:
  *   - `JdbcSide` — "pg_admin": arbitrary SQL pushed down as a dbtable
  *     subquery (`Raptor.py:20-38`).
  *   - `ParquetSide` — "reporting": parquet → temp view → SQL with the
  *     `reporting.<view>` prefix rewritten (`Raptor.py:89-100`).
  *   - `FrameSide` — a frame already in hand (tests, composition).
  */
object Raptor {

  sealed trait Side
  final case class JdbcSide(url: String, sql: String,
                            props: Map[String, String]) extends Side
  final case class ParquetSide(path: String, view: String, sql: String) extends Side
  final case class FrameSide(df: DataFrame) extends Side

  final case class RaptorResult(diff: Reconcile.DiffResult,
                                deltaTables: Map[String, String],
                                reportHtml: String)

  def resolve(spark: SparkSession, side: Side): DataFrame = side match {
    case JdbcSide(url, sql, props) => graft.io.Sources.jdbcQuery(spark, url, sql, props)
    case ParquetSide(path, view, sql) => graft.io.Sources.parquetSql(spark, path, view, sql)
    case FrameSide(df) => df
  }

  /** Full comparison run: diff + `work.*_{runstamp}` persistence + HTML.
    * The four delta tables and the report read one persisted comparison
    * core ([[Reconcile.diff]]), so the sides are joined once per run. */
  def submit(spark: SparkSession, source: Side, target: Side,
             keys: Seq[String], name: String, runstamp: String,
             baseDir: String, sampleRows: Int = 15): RaptorResult = {
    val d = Reconcile.diff(resolve(spark, source), resolve(spark, target), keys)
    val written = Reconcile.persist(d, name, runstamp, baseDir)
    val html = HtmlReport.render(s"Raptor: $name @ $runstamp", d, sampleRows)
    RaptorResult(d, written, html)
  }

  /** The report mail the reference assembles before its SMTP send
    * (`Raptor.py:142-263`): subject names the comparison + runstamp, body
    * is the rendered HTML report. */
  def reportMessage(result: RaptorResult, name: String, runstamp: String,
                    from: String, to: Seq[String]): graft.io.Mail.Message =
    graft.io.Mail.Message(from, to,
      s"Raptor comparison report: $name @ $runstamp", result.reportHtml)

  /** [[submit]] + delivery through the injected mailer — the complete
    * reference flow (`Raptor.py:536-683`) with the transport as a seam. */
  def submitAndDeliver(spark: SparkSession, source: Side, target: Side,
                       keys: Seq[String], name: String, runstamp: String,
                       baseDir: String, from: String, to: Seq[String],
                       mailer: graft.io.Mail.Mailer,
                       sampleRows: Int = 15): RaptorResult = {
    val result = submit(spark, source, target, keys, name, runstamp, baseDir, sampleRows)
    mailer(reportMessage(result, name, runstamp, from, to))
    result
  }
}
