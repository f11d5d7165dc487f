package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev probe: per-query wall time, job count, task count, and (with
  * GRAFT_JOB_DEBUG) a per-job timeline for ANY comma-list of
  * `SparkEntry.queries` names — the floor-vs-compute decomposition
  * behind OPTIMIZATION_r18.md's per-cell job/floor tables and the
  * NOTES_r18 customer-mart swing decomposition.
  * args: queryNames.csv [sfDir] [reps]
  */
object QueryJobProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val builder = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    // extra confs via env, ";"-separated key=value pairs, e.g.
    // SPARK_GRAFT_CONF="spark.sql.adaptive.coalescePartitions.parallelismFirst=false"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger()
    val tasks = new AtomicInteger()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val debug = sys.env.contains("GRAFT_JOB_DEBUG")
    val taskTimeMs = new AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        tasks.addAndGet(js.stageInfos.map(_.numTasks).sum)
        jobStart.put(js.jobId, System.nanoTime())
        if (debug)
          println(s"    job ${js.jobId} START " +
            js.stageInfos.map(si => s"${si.name.takeWhile(_ != '(')}x${si.numTasks}")
              .mkString(" | "))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val t0 = jobStart.remove(je.jobId)
        if (debug && t0 != null.asInstanceOf[Long] && t0 != 0L)
          println(f"    job ${je.jobId} END   ${(System.nanoTime() - t0) / 1e9}%7.3fs")
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        taskTimeMs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
      }
    })
    spark.read.parquet(s"$sfDir/lineitem.parquet").count() // warmup
    val all = graft.SparkEntry.queries
    (1 to reps).foreach { rep =>
      // cold cache windows per rep, exactly like a Bench pass
      graft.ops.CacheWindows.releaseAll()
      names.foreach { name =>
        val j0 = jobs.get(); val k0 = tasks.get(); val m0 = taskTimeMs.get()
        val t0 = System.nanoTime()
        all(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"rep$rep $name%-34s ${wall}%7.3fs  jobs=${jobs.get() - j0}%-3d " +
          f"tasks=${tasks.get() - k0}%-4d taskTime=${(taskTimeMs.get() - m0) / 1e3}%7.3fs")
      }
    }
    spark.stop()
  }
}
