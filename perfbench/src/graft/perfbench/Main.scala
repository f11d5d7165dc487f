package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.SparkEntry
import graft.pipelines.Dag

/** Benchmark harness: one run of one workload in this JVM.
  *
  *   graft.perfbench.Main workload=W seed=N seconds=S trace=0|1 cores=C
  *                        data=DIR work=DIR
  *
  * Sets up (session, then a first pass that warms the JVM, builds the
  * run's indexes into a fresh store and dumps oracle-backed outputs), then
  * runs timed passes until S seconds have elapsed. Raw per-pass figures go to
  * `<work>/result.json`, which perfbench/run.py checks and aggregates.
  *
  * The engine is used as a library: only public entry points are called
  * (`Dag.runAllWithRetries`, `SparkEntry.queries`, the modules'
  * `releaseCaches()`), and Spark is watched through its public listener
  * APIs (see [[LayerProbe]]). */
object Main {

  final case class Conf(workload: Workloads.Workload, seed: Long,
                        seconds: Double, trace: Boolean, cores: Int,
                        data: String, work: String)

  def main(args: Array[String]): Unit = {
    val kv = args.toSeq.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val w = kv("workload")
    new Run(Conf(Workloads.all.getOrElse(w, sys.error(s"unknown workload '$w'")),
      kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("cores").toInt, kv("data"), kv("work"))).run()
  }

  /** Order-independent digest of a frame's rows: row count plus the sum of
    * a 64-bit hash of each row. Map-typed values are hashed through their
    * JSON form, since Spark refuses to hash maps. */
  def digestColumns(df: DataFrame): Seq[Column] = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    Seq(count(lit(1)).as("n"),
      sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("h"))
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** One benchmark run: set-up, then timed passes. */
final class Run(conf: Main.Conf) {
  import Main._

  private val w = conf.workload
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val work = Paths.get(conf.work)
  private val etlOut = work.resolve("etl_out").toString
  private val dumpDir = work.resolve("dump")

  private val spark: SparkSession = SparkSession.builder()
    .master(s"local[${conf.cores}]")
    .appName(s"perfbench-${w.name}")
    .config("spark.sql.shuffle.partitions", conf.cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  private val sc = spark.sparkContext

  private val probe: Option[LayerProbe] =
    if (conf.trace) Some(LayerProbe.attach(spark, conf.cores)) else None
  private val spans = new Spans(s"${w.name}-${conf.seed}-$jvmStartMs")

  private val order: Seq[String] =
    new scala.util.Random(conf.seed).shuffle(w.groups).flatten

  private def prop(k: String, v: String): Unit = sc.setLocalProperty(k, v)

  /** Every module's public cache-window release. */
  private def releaseCaches(): Unit = {
    graft.ops.Classifier.releaseCaches()
    graft.ops.Dedup.releaseCaches()
    graft.ops.Linkage.releaseCaches()
    graft.ops.Ranks.releaseCaches()
    graft.ops.Retrieval.releaseCaches()
    graft.ops.Selection.releaseCaches()
    graft.ops.LanguageModel.releaseCaches()
    graft.ops.SemanticDedup.releaseCaches()
    graft.ops.TextAnalysis.releaseCaches()
    graft.ops.TimeSeries.releaseCaches()
    graft.pipelines.ResultSort.releaseCaches()
  }

  final case class OpRec(name: String, sec: Double, buildSec: Double,
                         ok: Boolean, error: String, digest: String)

  /** Run one operation. A cell is built (its function, which may run eager
    * jobs of its own) and then sunk: to a parquet dump in the set-up
    * pass, which the DuckDB oracle check reads, and to Spark's noop sink
    * in timed passes. Both sinks observe the row digest. */
  private def runOp(name: String, dump: Boolean, parent: Long): OpRec = {
    val span = spans.open(name, parent)
    prop(LayerProbe.SpanKey, span.toString)
    val t0 = System.nanoTime()
    var buildSec = 0.0
    val res: Either[Throwable, String] =
      try {
        if (name == "dag") {
          prop(LayerProbe.StageKey, "run")
          val bad = Dag.runAllWithRetries(spark, conf.data, etlOut)
            .filterNot(_.isInstanceOf[Dag.TaskSucceeded])
          if (bad.nonEmpty) sys.error(s"DAG tasks not succeeded: ${bad.mkString(", ")}")
          Right("")
        } else {
          prop(LayerProbe.StageKey, "build")
          val b = spans.open("build", span)
          val df = SparkEntry.queries(name)(spark, conf.data)
          spans.close(b)
          buildSec = secs(t0)
          prop(LayerProbe.StageKey, "run")
          val s = spans.open("sink", span)
          val obs = Observation()
          val dc = digestColumns(df)
          val observed = df.observe(obs, dc.head, dc.tail: _*)
          if (dump) observed.write.mode("overwrite").parquet(dumpDir.resolve(name).toString)
          else observed.write.mode("overwrite").format("noop").save()
          val m = obs.get
          spans.close(s)
          Right(s"${m("n")}:${m("h")}")
        }
      } catch { case NonFatal(e) => Left(e) }
    val sec = secs(t0)
    spans.close(span)
    res match {
      case Right(d) => OpRec(name, sec, buildSec, ok = true, "", d)
      case Left(e) =>
        System.err.println(s"[perfbench] $name failed: $e")
        OpRec(name, sec, buildSec, ok = false, e.toString, "")
    }
  }

  /** Digests of the DAG's landed tables, and the legacy-append invariant:
    * after the k-th night, each legacy table holds k copies of raw. */
  private def dagChecks(night: Int): (Map[String, String], Seq[String]) = {
    val errs = Seq.newBuilder[String]
    val digests = Workloads.DagTables.map { t =>
      val raw = spark.read.parquet(s"$etlOut/raw/$t")
      val dc = digestColumns(raw)
      val m = raw.agg(dc.head, dc.tail: _*).head()
      val n = m.getLong(0)
      val legacy = spark.read.parquet(s"$etlOut/legacy/$t").count()
      if (legacy != night * n)
        errs += s"legacy/$t has $legacy rows after night $night, expected ${night * n}"
      t -> s"$n:${m.get(1)}"
    }.toMap
    (digests, errs.result())
  }

  final case class PassRec(index: Int, passSec: Double, startMs: Long,
                           endMs: Long, ops: Seq[OpRec], leaked: Seq[String],
                           checkErrors: Seq[String], tableDigests: Map[String, String],
                           heapAfterGcMb: Double, layers: Map[String, Double])

  private var nights = 0

  /** RDDs still persisted after every module released its caches. They
    * could carry answers from one pass into the next, so they are dropped
    * (with every cached plan) and reported. */
  private def dropLeftovers(): Seq[String] = {
    releaseCaches()
    val leaked = sc.getPersistentRDDs.values.toSeq.sortBy(_.id)
      .map(r => s"rdd ${r.id} ${r.name.linesIterator.take(3).mkString(" ")}")
    if (leaked.nonEmpty) {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    leaked
  }

  /** One pass. It starts from released caches; layer counters cover only
    * the operations. After it, the DAG's output is checked and the heap
    * that survives a full GC, once caches are released, is measured. */
  private def pass(index: Int, dump: Boolean): PassRec = {
    val leaked = dropLeftovers()
    probe.foreach(_.begin())
    prop(LayerProbe.PhaseKey, LayerProbe.RunPhase)
    val span = spans.open(if (dump) "setup_pass" else s"pass_$index", 0L)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ops = order.map(runOp(_, dump, span))
    val passSec = secs(t0)
    val endMs = System.currentTimeMillis()
    spans.close(span)
    prop(LayerProbe.PhaseKey, "check")
    prop(LayerProbe.StageKey, null)
    prop(LayerProbe.SpanKey, null)
    val layers = probe.map { p =>
      val l = p.end(startMs, endMs)
      spans.addJobs(p.takeJobSpans())
      l
    }.getOrElse(Map.empty)
    val (tableDigests, checkErrors) =
      if (ops.exists(o => o.name == "dag" && o.ok)) {
        nights += 1
        dagChecks(nights)
      } else (Map.empty[String, String], Nil)
    releaseCaches()
    System.gc()
    // live heap as the full GC left it, before new allocations
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).flatMap(p => Option(p.getCollectionUsage))
      .map(_.getUsed).sum / 1048576.0
    PassRec(index, passSec, startMs, endMs, ops, leaked, checkErrors,
      tableDigests, heap, layers)
  }

  /** Row count and byte size of the workload's input tables, from the
    * parquet footers. */
  private def inputStats(): (Long, Long) = {
    val hconf = sc.hadoopConfiguration
    w.inputTables.map { t =>
      val f = Paths.get(s"${conf.data}/$t.parquet")
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), hconf))
      try (r.getRecordCount, Files.size(f)) finally r.close()
    }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  def run(): Unit = {
    prop(LayerProbe.PhaseKey, "setup")
    val (inputRows, inputBytes) = inputStats()
    // set-up pass: warms the JVM, builds the run's indexes into a fresh
    // store, and dumps oracle-backed outputs for the DuckDB check
    val setupPass = pass(0, dump = true)
    val setupSec = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val passes = mutable.ArrayBuffer[PassRec]()
    val t0 = System.nanoTime()
    while (passes.isEmpty || secs(t0) < conf.seconds)
      passes += pass(passes.size + 1, dump = false)

    val oracles = SparkEntry.oracleSql
    // oracle name -> (operation that produced the output, its parquet path)
    val oracleTargets: Map[String, (String, String)] =
      w.cells.filter(oracles.contains).map(c => c -> (c, dumpDir.resolve(c).toString)).toMap ++
        (if (w.ops.contains("dag"))
           Workloads.DagMarts.map(m => m -> ("dag", s"$etlOut/raw/$m")).toMap
         else Map.empty)
    val result = Map(
      "workload" -> w.name,
      "seed" -> conf.seed,
      "order" -> order,
      "input_rows" -> inputRows,
      "input_bytes" -> inputBytes,
      "setup_s" -> setupSec,
      "index_build_s" ->
        setupPass.ops.filter(o => Workloads.IndexedCells(o.name)).map(_.buildSec).sum,
      "setup_pass" -> passJson(setupPass),
      "passes" -> passes.map(passJson).toSeq,
      "oracle" -> oracleTargets.map { case (k, (op, path)) =>
        k -> Map("sql" -> oracles(k), "op" -> op, "path" -> path) },
      "modules" -> w.cells.map(c => c -> queryModule(c)).toMap,
      "spans" -> (if (conf.trace) spans.write(work.resolve("spans.jsonl")) else ""),
    )
    Files.writeString(work.resolve("result.json"), Json.write(result), UTF_8)
    spark.stop()
  }

  private def passJson(p: PassRec): Map[String, Any] = Map(
    "index" -> p.index, "pass_s" -> p.passSec, "start_ms" -> p.startMs,
    "end_ms" -> p.endMs, "leaked" -> p.leaked, "check_errors" -> p.checkErrors,
    "table_digests" -> p.tableDigests, "heap_after_gc_mb" -> p.heapAfterGcMb,
    "layers" -> p.layers,
    "ops" -> p.ops.map(o => Map("name" -> o.name, "s" -> o.sec,
      "build_s" -> o.buildSec, "ok" -> o.ok, "error" -> o.error,
      "digest" -> o.digest)))

  /** The `SparkEntry.queries` constituent a cell comes from. */
  private def queryModule(cell: String): String =
    if (SparkEntry.baseQueries.contains(cell)) "base"
    else if (graft.pipelines.OperatorQueries.all.contains(cell)) "operator"
    else if (graft.pipelines.ExtensionQueries.queries.contains(cell)) "extension"
    else if (graft.pipelines.ModelQueries.queries.contains(cell)) "model"
    else "curation"
}
