package graft.io

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one artifact store: every persisted corpus index (DSIR, postings,
  * IVF-PQ) and saved model (NB) is written and reopened here. An artifact
  * is N named parquet frames under one directory, with one fingerprint,
  * one nonce and one publish: `<dir>/<part>/part-*.parquet` plus a
  * `<dir>/_ARTIFACT` sidecar (nonce, part names, source fingerprint).
  * `getOrBuild`/`getOrBuildAll` build one under a versioned key on FIRST
  * use, and every later call — across sessions and bench passes — reads
  * it back; `publish`/`open` do the same at a given path.
  *
  * Every filesystem step uses the Hadoop `FileSystem` of the path, from
  * the session's Hadoop configuration (where [[Sources.configureFs]]
  * registers schemes), so the root may be any Hadoop URI. Parts are
  * staged, compacted into `<dir>.tmp-<nonce>`, the sidecar is written
  * last, and the tmp dir is RENAMED to `<dir>`: a reader never sees half
  * an artifact, and a `try/finally` deletes stage and tmp dirs whatever
  * failed. Hadoop's `rename` onto an EXISTING dir returns true and moves
  * the source INSIDE it, so a builder that loses a cross-process race
  * takes its nested copy back out and never overwrites the winner
  * (readers open parts by the sidecar's names, never that entry).
  *
  * Keys embed a version (bumped when a build's dataflow or the layout
  * changes) and the fixture dir; a [[dirFingerprint]] mismatch rebuilds
  * a REGENERATED source at the same path (ADVICE r17).
  *
  * Deliberately outside: `Dedup.persistCorpusIndex` stays a catalog-
  * bucketed table (the bucket spec lives only in the catalog and lets the
  * probe skip the corpus-side exchange, BucketingSpec); and no
  * `_SUCCESS`-marker fallback for stores without atomic rename exists,
  * since no caller or connector here has one. The root is /tmp by
  * default — point GRAFT_INDEX_STORE at durable storage for real use. */
object IndexStore {

  private def root: String =
    sys.env.getOrElse("GRAFT_INDEX_STORE", "/tmp/graft_index_store")

  /** Target parquet file size of a stored part (guide §6: 128 MB – 1 GB
    * files, never one tiny file per shuffle partition of the build). */
  private val TargetFileBytes: Long = 128L << 20

  /** Part name of a single-frame artifact. */
  private val Data = "data"

  private val Sidecar = "_ARTIFACT"

  /** A publication's sidecar; its `text` versions the read memo (the
    * nonce makes each publication distinct, even within one mtime tick). */
  private final case class Artifact(nonce: String, parts: Seq[String], fingerprint: String) {
    def text: String = s"$nonce\n${parts.mkString(",")}\n$fingerprint"
  }

  // The one memo of reloaded frames, shared with `Entities.read`: each
  // `spark.read.parquet` pays a listing job plus a fresh analysis. A
  // BOUNDED LRU (128 = the two memos it replaced); a weak session key would
  // be illusory (a Dataset holds its session), so stopped ones drop on a miss.
  private val memo =
    new java.util.LinkedHashMap[(SparkSession, String, String), DataFrame](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String, String), DataFrame])
          : Boolean = size() > 128
    }

  /** `spark.read.parquet(path)`, memoized per (session, path, version);
    * the caller chooses what `version` means (a publication, an mtime).
    * The returned frame is SHARED by every caller of that version: never
    * persist or unpersist it. */
  def readParquet(spark: SparkSession, path: String, version: String): DataFrame =
    memo.synchronized {
      val k = (spark, path, version)
      val hit = memo.get(k)
      if (hit != null) hit
      else {
        memo.keySet.removeIf(_._1.sparkContext.isStopped)
        val df = spark.read.parquet(path)
        memo.put(k, df)
        df
      }
    }

  /** Filesystem-safe key component for a fixture dir. */
  def keyOf(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Cheap source fingerprint: md5 over the sorted (relative path, size,
    * mtime) triples of every file under `dir`. Stats only — no data is
    * read, so it is safe per call even against a 100 TB source tree. */
  def dirFingerprint(spark: SparkSession, dir: String): String = {
    val top = new Path(dir)
    val fs = fsOf(spark, top)
    def files(st: FileStatus, prefix: String): Seq[String] = {
      val name = st.getPath.getName
      if (st.isDirectory)
        fs.listStatus(st.getPath).sortBy(_.getPath.getName).toSeq
          .flatMap(files(_, s"$prefix$name/"))
      else Seq(s"$prefix$name:${st.getLen}:${st.getModificationTime}")
    }
    val manifest = files(fs.getFileStatus(top), "").mkString("\n")
    java.security.MessageDigest.getInstance("MD5").digest(manifest.getBytes(UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** The one-part case of [[getOrBuildAll]]. */
  def getOrBuild(spark: SparkSession, key: String, fingerprint: String = "")
                (build: => DataFrame): DataFrame =
    getOrBuildAll(spark, key, fingerprint)(Seq(Data -> build))(Data)

  /** The artifact at `key`, its parts by name. Builds and publishes all of
    * `build`'s frames as ONE artifact first if it is absent, half-written
    * (a part without its `_SUCCESS`), or built from a source whose
    * `fingerprint` no longer matches. Synchronized: concurrent callers in
    * one JVM build once; cross-process racers resolve at the publish. The
    * frames are shared: never persist or unpersist them. */
  def getOrBuildAll(spark: SparkSession, key: String, fingerprint: String = "")
                   (build: => Seq[(String, DataFrame)]): Map[String, DataFrame] =
    synchronized {
      val dir = new Path(root, key)
      val fs = fsOf(spark, dir)
      val found = published(fs, dir)
      val artifact = found.filter(_.fingerprint == fingerprint).getOrElse {
        if (found.isDefined)
          System.err.println(s"[index-store] $key fingerprint changed — rebuilding")
        System.err.println(s"[index-store] building $key")
        write(spark, fs, dir, fingerprint, build)
        published(fs, dir).getOrElse(
          throw new IllegalStateException(s"[index-store] $key did not publish"))
      }
      frames(spark, dir, artifact)
    }

  /** Publish `parts` as one artifact at `path`, replacing any there.
    * Readers see the old artifact, none, or the new one — never a mix. */
  def publish(spark: SparkSession, path: String, parts: Seq[(String, DataFrame)]): Unit = {
    val dir = new Path(path)
    write(spark, fsOf(spark, dir), dir, "", parts)
  }

  /** The artifact published at `path`, its parts by name; throws if there
    * is no complete publication, never returns a partial one. The frames
    * are shared: never persist or unpersist them. */
  def open(spark: SparkSession, path: String): Map[String, DataFrame] = {
    val dir = new Path(path)
    frames(spark, dir, published(fsOf(spark, dir), dir).getOrElse(
      throw new IllegalStateException(s"[index-store] no artifact published at $path")))
  }

  /** Drop one stored index (test hygiene / forced rebuild). */
  def invalidate(spark: SparkSession, key: String): Unit =
    synchronized { val dir = new Path(root, key); fsOf(spark, dir).delete(dir, true): Unit }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The sidecar of the complete publication at `dir`, if there is one. */
  private def published(fs: FileSystem, dir: Path): Option[Artifact] = {
    val side = new Path(dir, Sidecar)
    if (!fs.exists(side)) None
    else {
      val in = fs.open(side)
      val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
      val Array(nonce, parts, fingerprint) = text.split("\n", 3)
      Some(Artifact(nonce, parts.split(",").toSeq, fingerprint))
        .filter(_.parts.forall(p => fs.exists(new Path(dir, s"$p/_SUCCESS"))))
    }
  }

  private def frames(spark: SparkSession, dir: Path, a: Artifact): Map[String, DataFrame] =
    a.parts.map(p => p -> readParquet(spark, new Path(dir, p).toString, a.text)).toMap

  /** Replace whatever is at `dir` (a stale or half-written artifact, or
    * one being re-saved) with `build`'s parts: stage, compact, publish. A
    * publication that appears meanwhile (another process won) is kept
    * and ours dropped. */
  private def write(spark: SparkSession, fs: FileSystem, dir: Path, fingerprint: String,
                    build: => Seq[(String, DataFrame)]): Unit = {
    fs.delete(dir, true)
    val nonce = s"${ProcessHandle.current().pid()}-${System.nanoTime()}"
    val stage = new Path(s"$dir.stage-$nonce")
    val tmp = new Path(s"$dir.tmp-$nonce")
    try {
      val parts = build
      val names = parts.map(_._1)
      require(names.nonEmpty && names.distinct == names && names.forall(
        _.matches("[A-Za-z0-9][A-Za-z0-9_-]*")), s"bad artifact part names $names")
      fs.mkdirs(tmp)
      parts.foreach { case (name, df) =>
        compact(spark, fs, df, new Path(stage, name), new Path(tmp, name))
      }
      val out = fs.create(new Path(tmp, Sidecar), false)
      try out.write(Artifact(nonce, names, fingerprint).text.getBytes(UTF_8))
      finally out.close()
      if (!fs.exists(dir) && !fs.rename(tmp, dir) && !fs.exists(dir))
        throw new IllegalStateException(s"[index-store] could not publish $dir")
      // a racer published first: Hadoop moved tmp INSIDE it — take it out
      fs.delete(new Path(dir, tmp.getName), true)
    } finally {
      fs.delete(stage, true)
      fs.delete(tmp, true)
    }
  }

  /** Write `frame` as the part at `target`: stage it as the plan lays it
    * out (an AQE-coalesce window here would serialize the expensive
    * amplifying stages — the r18 rejection), then compact with a narrow
    * `coalesce` to a file count derived from the REAL staged bytes —
    * deterministic, exact, and proportional to the index, not the corpus. */
  private def compact(spark: SparkSession, fs: FileSystem, frame: DataFrame,
                      staging: Path, target: Path): Unit = {
    frame.write.mode("overwrite").parquet(staging.toString)
    val staged = fs.listStatus(staging)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
    val nFiles = math.max(1L,
      (staged.map(_.getLen).sum + TargetFileBytes - 1) / TargetFileBytes).toInt
    if (staged.length > nFiles)
      spark.read.parquet(staging.toString).coalesce(nFiles).write.parquet(target.toString)
    else if (!fs.rename(staging, target)) // at or under target: promote as-is
      throw new IllegalStateException(s"[index-store] could not stage $target")
  }
}
