package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Reconcile

class ReconcileSpec extends SparkSpec {
  import spark.implicits._

  private def src = Seq(
    (1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)
  ).toDF("id", "name", "amt")

  // id=2 value-mismatch on name; id=4 missing; id=5 extra
  private def tgt = Seq(
    (1, "a", 10.0), (2, "B", 20.0), (3, "c", 30.0), (5, "e", 50.0)
  ).toDF("id", "name", "amt")

  test("diff of a frame with itself is empty everywhere") {
    val keys = Seq("id")
    assert(Reconcile.rowDiff(src, src, keys).isEmpty)
    assert(Reconcile.colMismatch(src, src, keys).isEmpty)
    assert(Reconcile.srcExtra(src, src, keys).isEmpty)
    assert(Reconcile.tgtExtra(src, src, keys).isEmpty)
  }

  test("rowDiff finds exactly the rows whose records differ") {
    val rows = Reconcile.rowDiff(src, tgt, Seq("id")).collect()
    assert(rows.map(_.getString(0)).toSet == Set("2"))
  }

  test("colMismatch names the differing column and both values") {
    val rows = Reconcile.colMismatch(src, tgt, Seq("id")).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("mismatch_column_name") == "name")
    assert(r.getAs[String]("source_value") == "b")
    assert(r.getAs[String]("target_value") == "B")
  }

  test("extra-row detection both directions") {
    assert(Reconcile.srcExtra(src, tgt, Seq("id")).collect()
      .map(_.getString(0)).toSet == Set("4"))
    assert(Reconcile.tgtExtra(src, tgt, Seq("id")).collect()
      .map(_.getString(0)).toSet == Set("5"))
  }

  test("null and empty string are indistinguishable by design (Raptor erasure)") {
    val a = Seq((1, Option("x")), (2, None: Option[String])).toDF("id", "v")
    val b = Seq((1, "x"), (2, "")).toDF("id", "v")
    assert(Reconcile.rowDiff(a, b, Seq("id")).isEmpty)
  }

  test("summary carries the six reconciliation counts") {
    val m = Reconcile.summary(src, tgt, Seq("id")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("Number of rows in Source") == "4")
    assert(m("Number of rows in Target") == "4")
    assert(m("Number of rows in common") == "3")
    assert(m("Number of rows mismatch") == "1")
    assert(m("Number of rows in Source but not in Target") == "1")
    assert(m("Number of rows in Target but not in Source") == "1")
    assert(m("Row Mismatch Percentage") == "33.33%")
  }

  test("colSummary computes per-column mismatch percentage of compared rows") {
    val rows = Reconcile.colSummary(src, tgt, Seq("id")).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("mismatch_column_name") == "name")
    assert(rows.head.getAs[Long]("Mismatch_Record_Count_Column_Level") == 1L)
    assert(rows.head.getAs[String]("Percentage_Of_Mismatch") == "33.33%")
  }

  test("diff composes all six artifacts; persist writes Q8 delta tables") {
    val d = Reconcile.diff(src, tgt, Seq("id"))
    assert(d.rowDiff.count() == 1)
    assert(d.srcExtra.count() == 1 && d.tgtExtra.count() == 1)
    assert(d.summary.count() == 7)
    val base = java.nio.file.Files.createTempDirectory("graft_recon_").toString
    val written = Reconcile.persist(d, "orders", "20250101120000", base)
    assert(written.keySet == Set(
      "col_orders_20250101120000", "col_lvl_orders_20250101120000",
      "src_orders_20250101120000", "tgt_orders_20250101120000"))
    written.values.foreach { p =>
      assert(spark.read.parquet(p).columns.nonEmpty)
    }
  }

  test("HtmlReport renders bounded, escaped sections") {
    val d = Reconcile.diff(src, tgt, Seq("id"))
    val html = graft.ops.HtmlReport.render("orders vs orders_v2", d)
    assert(html.contains("<h2>orders vs orders_v2</h2>"))
    assert(html.contains("Reconciliation Summary"))
    assert(html.contains("Number of rows in Source"))
    assert(html.contains("<td>4</td>"))
    // escaping
    val evil = Seq((1, "<script>")).toDF("id", "payload")
    assert(!graft.ops.HtmlReport.table(evil).contains("<script>"))
  }

  test("Raptor.submit runs end-to-end over parquet and frame sides") {
    val base = java.nio.file.Files.createTempDirectory("graft_raptor_").toString
    src.write.mode("overwrite").parquet(s"$base/src_in")
    val result = graft.ops.Raptor.submit(spark,
      graft.ops.Raptor.ParquetSide(s"$base/src_in", "src_v",
        "select id, name, amt from reporting.src_v"),
      graft.ops.Raptor.FrameSide(tgt),
      keys = Seq("id"), name = "t", runstamp = "20250101", baseDir = base)
    assert(result.diff.rowDiff.count() == 1)
    assert(result.deltaTables.size == 4)
    assert(result.reportHtml.contains("Raptor: t @ 20250101"))
  }

  test("Raptor.submit end-to-end on MIXED sources: JDBC (Derby) source " +
       "vs dated-path parquet target, work.* + report + mail spool") {
    // the reference's submit_raptor_request cross-source contract
    // (Raptor.py:491-534 → 536-655): source_type "pg_admin" (JDBC SQL
    // pushdown) compared against target_type "reporting" (bucket parquet
    // behind the reporting.<view> rewrite) in ONE run — dated-path
    // resolution, the 6-artifact diff, work.*_{runstamp} persistence,
    // HTML report, and delivery through the injected mailer.
    val url = "jdbc:derby:memory:graft_raptor_mixed;create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    graft.io.Sinks.jdbc(src, url, "raptor_src",
      org.apache.spark.sql.SaveMode.Overwrite, props)
    val base = java.nio.file.Files.createTempDirectory("graft_raptor_mixed_").toString
    // target lands at the reference's {bucket}/{yyyymmdd}/{entity}_{yyyymmdd}
    // dated-path convention (S9) before the compare reads it back
    val dated = graft.io.Sources.datedPath(base, "orders",
      java.time.LocalDate.of(2025, 1, 2), "parquet")
    tgt.write.mode("overwrite").parquet(dated)
    var sent: Option[graft.io.Mail.Message] = None
    val runstamp = "20250102120000"
    val result = graft.ops.Raptor.submitAndDeliver(spark,
      // Derby folds unquoted identifiers to uppercase; Spark's JDBC
      // writer created quoted case-exact columns, so the database-side
      // SQL quotes them (the JdbcSpec S5 lesson)
      graft.ops.Raptor.JdbcSide(url,
        "SELECT \"id\", \"name\", \"amt\" FROM raptor_src", props),
      graft.ops.Raptor.ParquetSide(dated, "orders_v3",
        "select id, name, amt from reporting.orders_v3"),
      keys = Seq("id"), name = "orders_mixed", runstamp = runstamp,
      baseDir = base, from = "raptor@example.invalid",
      to = Seq("team@example.invalid"), mailer = m => sent = Some(m))
    // findings bit-equal to the in-memory frame diff: the source mode
    // must not change the comparison semantics
    assert(result.diff.rowDiff.collect().map(_.getString(0)).toSet == Set("2"))
    assert(result.diff.srcExtra.collect().map(_.getString(0)).toSet == Set("4"))
    assert(result.diff.tgtExtra.collect().map(_.getString(0)).toSet == Set("5"))
    val cm = result.diff.colMismatch.collect()
    assert(cm.length == 1 &&
      cm.head.getAs[String]("mismatch_column_name") == "name")
    // work.*_{runstamp} artifacts persisted and re-readable
    assert(result.deltaTables.keySet == Set(
      s"col_orders_mixed_$runstamp", s"col_lvl_orders_mixed_$runstamp",
      s"src_orders_mixed_$runstamp", s"tgt_orders_mixed_$runstamp"))
    val srcExtraBack = spark.read
      .parquet(result.deltaTables(s"src_orders_mixed_$runstamp"))
    assert(srcExtraBack.collect().map(_.getString(0)).toSet == Set("4"))
    // report + delivery
    assert(result.reportHtml.contains(s"Raptor: orders_mixed @ $runstamp"))
    val msg = sent.getOrElse(fail("mailer never invoked"))
    assert(msg.subject == s"Raptor comparison report: orders_mixed @ $runstamp")
    assert(msg.htmlBody == result.reportHtml)
  }

  test("Raptor.submitAndDeliver hands the report to the injected mailer") {
    val base = java.nio.file.Files.createTempDirectory("graft_raptor_mail_").toString
    src.write.mode("overwrite").parquet(s"$base/src_in")
    var sent: Option[graft.io.Mail.Message] = None
    val result = graft.ops.Raptor.submitAndDeliver(spark,
      graft.ops.Raptor.ParquetSide(s"$base/src_in", "src_v2",
        "select id, name, amt from reporting.src_v2"),
      graft.ops.Raptor.FrameSide(tgt),
      keys = Seq("id"), name = "orders", runstamp = "20250102", baseDir = base,
      from = "raptor@example.invalid", to = Seq("team@example.invalid"),
      mailer = m => sent = Some(m))
    val msg = sent.getOrElse(fail("mailer never invoked"))
    assert(msg.from == "raptor@example.invalid")
    assert(msg.to == Seq("team@example.invalid"))
    assert(msg.subject == "Raptor comparison report: orders @ 20250102")
    assert(msg.htmlBody == result.reportHtml)
    assert(msg.htmlBody.contains("Reconciliation Summary"))
  }

  test("Mail.fileMailer spools an RFC-822-shaped .eml, idempotent on retry") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mail_").toString
    val mailer = graft.io.Mail.fileMailer(dir)
    val msg = graft.io.Mail.Message("a@example.invalid",
      Seq("b@example.invalid", "c@example.invalid"),
      "Raptor comparison report: orders @ 20250102", "<h2>body</h2>")
    mailer(msg)
    mailer(msg) // DAG retry: overwrites, never duplicates
    val files = new java.io.File(dir).listFiles().toSeq
    assert(files.map(_.getName) ==
      Seq("raptor_comparison_report_orders_20250102.eml"))
    val text = new String(
      java.nio.file.Files.readAllBytes(files.head.toPath), "UTF-8")
    assert(text.startsWith("From: a@example.invalid\n"))
    assert(text.contains("To: b@example.invalid, c@example.invalid"))
    assert(text.contains("Content-Type: text/html"))
    assert(text.contains("<h2>body</h2>"))
  }

  test("Mail.render never truncates at pipes and folds header newlines") {
    // body lines shaped like stripMargin margins must survive verbatim,
    // and CR/LF smuggled into a header value must NOT become new headers
    val msg = graft.io.Mail.Message("a@example.invalid", Seq("b@example.invalid"),
      "status\n  |urgent\r\nBcc: evil@example.invalid",
      "<pre>\n  |col1|col2|\n  |a   |b   |\n</pre>")
    val text = graft.io.Mail.render(msg)
    assert(text.contains("Subject: status |urgent Bcc: evil@example.invalid"))
    assert(!text.contains("\nBcc:"), "header injection must be folded")
    assert(text.contains("\n  |col1|col2|\n"), "body pipes survive verbatim")
  }

  test("multi-column composite keys reconcile") {
    val a = Seq((1, "x", "p"), (1, "y", "q")).toDF("k1", "k2", "v")
    val b = Seq((1, "x", "p"), (1, "y", "Z")).toDF("k1", "k2", "v")
    val diff = Reconcile.colMismatch(a, b, Seq("k1", "k2")).collect()
    assert(diff.length == 1)
    assert(diff.head.getAs[String]("mismatch_column_name") == "v")
  }

  /** The shared core's artifacts, the per-artifact entries and the
    * pre-core reference forms all agree on `source` vs `target`. */
  private def assertSameArtifacts(source: DataFrame, target: DataFrame,
                                  keys: Seq[String]): Unit = {
    val expected = ReconcileReference.contents(
      ReconcileReference.artifacts(source, target, keys))
    for (forms <- Seq(ReconcileReference.perArtifact(source, target, keys),
                      ReconcileReference.of(Reconcile.diff(source, target, keys))))
      ReconcileReference.contents(forms).zip(expected).foreach { case (got, want) =>
        assert(got == want)
      }
  }

  test("the shared core's artifacts equal the per-artifact and pre-core " +
       "forms: fixture pair, composite keys, empty sides, all extra") {
    assertSameArtifacts(src, tgt, Seq("id"))
    val a = Seq((1, "x", "p", 1.0), (1, "y", "q", 2.0), (2, "x", "r", 3.0))
      .toDF("k1", "k2", "v", "w")
    val b = Seq((1, "x", "p", 1.5), (1, "y", "Z", 2.0), (3, "x", "r", 3.0))
      .toDF("k1", "k2", "v", "w")
    assertSameArtifacts(a, b, Seq("k1", "k2"))
    assertSameArtifacts(src, tgt.where(lit(false)), Seq("id"))
    assertSameArtifacts(src.where(lit(false)), tgt, Seq("id"))
    assertSameArtifacts(src, tgt.withColumn("id", col("id") + 100), Seq("id"))
  }

  test("the shared core's artifacts equal the pre-core forms on nulls and " +
       "on values that contain the record separator") {
    val nulls = Seq((1, Option("x"), Option(1.0)), (2, None, Option(2.0)),
      (3, Option("z"), None), (4, None, None))
      .toDF("id", "v", "amt")
    val other = Seq((1, Option(""), Option(1.0)), (2, None, None),
      (3, Option("z"), Option(3.0)), (4, Option("w"), None))
      .toDF("id", "v", "amt")
    assertSameArtifacts(nulls, other, Seq("id"))
    // id 1: the split records differ at an in-range position, which the
    // reference's positional column diff names by position; id 2: equal
    // records from unequal columns, compared but with no differing cell
    val sep = Reconcile.Sep
    val a = Seq((1, s"a${sep}b", "x"), (2, s"p$sep", "q"), (3, "s", "t"))
      .toDF("id", "v", "w")
    val b = Seq((1, s"a${sep}c", "x"), (2, "p", s"${sep}q"), (3, "s", "t"))
      .toDF("id", "v", "w")
    assertSameArtifacts(a, b, Seq("id"))
    // a differing position past the last column fails in both forms
    val over = Seq((1, "x", s"y${sep}p")).toDF("id", "v", "w")
    val under = Seq((1, "x", s"y${sep}q")).toDF("id", "v", "w")
    for (f <- Seq[(DataFrame, DataFrame, Seq[String]) => DataFrame](
           ReconcileReference.colMismatch, Reconcile.colMismatch,
           ReconcileReference.colSummary, Reconcile.colSummary))
      intercept[Exception](f(over, under, Seq("id")).collect())
  }

  test("the six reconcile cells of one session share one persisted core") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.pipelines.{ReconcileQueries => Q, ResultSort}
    graft.ops.CacheWindows.releaseAll()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val cells = Seq[(SparkSession, String) => DataFrame](Q.colSummary,
      Q.rowDiff, Q.colMismatch, Q.srcExtra, Q.tgtExtra, Q.summary)
    cells.head(spark, sf).collect()
    assert(ResultSort.window.registered(spark).size == 1)
    val helper = new AdaptiveSparkPlanHelper {}
    cells.tail.foreach { cell =>
      val df = cell(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(helper.collect(plan) { case s: InMemoryTableScanExec => s }.nonEmpty, plan)
      assert(helper.collect(plan) { case j: BaseJoinExec => j }.isEmpty, plan)
    }
    assert(ResultSort.window.registered(spark).size == 1)
    assert((sc.getPersistentRDDs.keySet -- before).size == 1)
    ResultSort.releaseCaches()
    assert(sc.getPersistentRDDs.keySet -- before == Set.empty)
  }
}
