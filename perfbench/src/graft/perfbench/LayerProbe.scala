package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for one pass, taken from Spark's public listener
  * APIs only: a `SparkListener` (jobs, stages, tasks, task metrics, block
  * puts) and a `QueryExecutionListener` (Catalyst phase times, actions,
  * files written).
  *
  * Jobs count when their thread carries `PhaseKey = RunPhase`, so the
  * benchmark's own checks between passes stay out. Events arrive on
  * Spark's listener bus after the fact; [[begin]] and [[end]] first
  * drain it with a one-task sentinel job, whose end event is queued
  * behind every event posted before it. */
final class LayerProbe private (spark: SparkSession, cores: Int)
    extends SparkListener with QueryExecutionListener {
  import LayerProbe._

  private val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val tasks = mutable.ArrayBuffer[(Long, Long)]()
  private val jobSpans = mutable.ArrayBuffer[Map[String, Any]]()
  private val jobOpen = mutable.Map[Int, (Long, String)]()

  /** Stage id → module of the job that submitted it (run-phase jobs only). */
  private val stageModule = new ConcurrentHashMap[Int, String]()
  /** SQL execution id → module of its call site. */
  private val execModule = new ConcurrentHashMap[Long, String]()
  private val sentinels = new ConcurrentHashMap[Int, CountDownLatch]()
  @volatile private var sentinelLatch: CountDownLatch = _

  private def add(k: String, v: Double): Unit = counts.synchronized(counts(k) += v)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execModule.put(s.executionId, moduleOf(s.details))
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val p = Option(js.properties)
    def get(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    if (get(SentinelKey).isDefined) sentinels.put(js.jobId, sentinelLatch)
    else if (get(PhaseKey).contains(RunPhase)) {
      val module = get("spark.sql.execution.id").flatMap(id => Option(execModule.get(id.toLong)))
        .getOrElse(moduleOf(js.stageInfos.maxBy(_.stageId).details))
      js.stageIds.foreach(stageModule.put(_, module))
      add("scheduler.jobs", 1)
      add(s"jobs.$module", 1)
      if (get(StageKey).contains("build")) add("pipelines.build_jobs", 1)
      counts.synchronized(jobOpen(js.jobId) = (js.time, get(SpanKey).getOrElse("0")))
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    Option(sentinels.remove(je.jobId)).foreach(_.countDown())
    counts.synchronized(jobOpen.remove(je.jobId).foreach { case (t0, parent) =>
      jobSpans += Map("name" -> s"job_${je.jobId}", "start_ms" -> t0,
        "end_ms" -> je.time, "parent" -> parent.toLong)
    })
  }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
    if (stageModule.containsKey(s.stageInfo.stageId)) add("scheduler.stages", 1)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val module = stageModule.get(t.stageId)
    if (module != null) {
      val i = t.taskInfo
      val m = t.taskMetrics
      counts.synchronized(tasks += ((i.launchTime, i.finishTime)))
      add("scheduler.tasks", 1)
      if (m != null) {
        add("executor.run_s", m.executorRunTime / 1e3)
        add("executor.cpu_s", m.executorCpuTime / 1e9)
        add("executor.gc_s", m.jvmGCTime / 1e3)
        add(s"task_s.$module", m.executorRunTime / 1e3)
        add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / Mb)
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / Mb)
        add("shuffle.spill_mb", m.diskBytesSpilled / Mb)
        add("io.read_mb", m.inputMetrics.bytesRead / Mb)
        add("io.write_mb", m.outputMetrics.bytesWritten / Mb)
      }
    }
  }

  override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = {
    val u = b.blockUpdatedInfo
    if (u.blockId.isRDD && u.storageLevel.isValid) {
      add("storage.cache_blocks", 1)
      add("storage.cache_mb", (u.memSize + u.diskSize) / Mb)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    add("catalyst.actions", 1)
    qe.tracker.phases.foreach { case (phase, s) => add(s"catalyst.${phase}_s", s.durationMs / 1e3) }
    qe.executedPlan.foreach(_.metrics.get("numFiles").foreach(m => add("io.files_written", m.value)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    add("catalyst.actions", 1)

  /** Wait until the listener bus has delivered every event posted so far. */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    val latch = new CountDownLatch(1)
    sentinelLatch = latch
    val old = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(SentinelKey, "1")
    sc.setLocalProperty(PhaseKey, null)
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty(SentinelKey, null)
      sc.setLocalProperty(PhaseKey, old)
    }
    if (!latch.await(60, TimeUnit.SECONDS))
      System.err.println("[perfbench] listener bus did not drain within 60 s")
  }

  /** Start counting a pass from zero. */
  def begin(): Unit = {
    drain()
    counts.synchronized { counts.clear(); tasks.clear(); jobOpen.clear() }
    stageModule.clear()
  }

  /** The pass's counters; `startMs`/`endMs` bound the pass on the wall
    * clock, for driver idle time (no task running) and slot use. */
  def end(startMs: Long, endMs: Long): Map[String, Double] = {
    drain()
    counts.synchronized {
      val wall = math.max(endMs - startMs, 1L)
      val clipped = tasks.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var reach = startMs
      clipped.foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
      counts("scheduler.driver_idle_s") = (wall - covered) / 1e3
      counts("scheduler.slot_util") =
        tasks.map { case (a, b) => b - a }.sum.toDouble / (wall * cores)
      counts.toMap
    }
  }

  /** Spans of the run-phase jobs seen since the last [[begin]]. */
  def takeJobSpans(): Seq[Map[String, Any]] = counts.synchronized {
    val out = jobSpans.toList
    jobSpans.clear()
    out
  }
}

object LayerProbe {
  val PhaseKey = "perfbench.phase"
  val RunPhase = "run"
  val StageKey = "perfbench.stage"
  val SpanKey = "perfbench.span"
  private val SentinelKey = "perfbench.sentinel"
  private val Mb = 1048576.0

  /** Engine modules a job can be attributed to; `benchmark` is this
    * harness (the sink actions), `other` anything else. */
  val Modules: Seq[String] =
    Seq("io", "model", "ops", "pipelines", "streaming", "benchmark", "other")

  /** Module of the innermost `graft.*` frame of a call site. */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case Some(f) =>
        val pkg = f.stripPrefix("graft.").takeWhile(_ != '.')
        if (pkg == "perfbench") "benchmark"
        else if (Modules.contains(pkg)) pkg
        else "other"
      case None => "other"
    }

  def attach(spark: SparkSession, cores: Int): LayerProbe = {
    val p = new LayerProbe(spark, cores)
    spark.sparkContext.addSparkListener(p)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(p)
    p
  }
}
