package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Tiny parquet-backed build-once store for corpus indexes (DSIR feature
  * frames, lexical postings, PQ code tables): `getOrBuild` materializes
  * the frame to parquet under a content-versioned key on FIRST use and
  * every later call — across sessions and bench passes — reads the
  * parquet back without re-running the build.
  *
  * This is the deployment shape the indexed query variants measure: at
  * 100 TB an index is an artifact with its own build job (hours,
  * scheduled) and its own storage path; queries pay the READ side only.
  * Keys embed a caller-supplied version so a change to a build's
  * dataflow invalidates stale artifacts instead of silently reusing
  * them; keys embed the fixture dir so sf0.01 / sf0.1 / replica builds
  * never collide.
  *
  * Staleness (ADVICE r17): a key alone cannot see a REGENERATED source at
  * the same path (e.g. /tmp/replica100 rebuilt with a different factor) —
  * callers pass `fingerprint` (use [[dirFingerprint]]: a stat hash of the
  * source files) and the store records it in a `_FINGERPRINT` sidecar at
  * build time; a mismatch on read rebuilds instead of silently serving an
  * index of data that no longer exists. Builds land in a temp dir and
  * RENAME into place, so a concurrent builder in another process either
  * wins the rename or discards its copy and reads the winner — never a
  * half-visible index.
  *
  * The store root is /tmp by default (dev/bench artifact, not engine
  * state) — point GRAFT_INDEX_STORE at durable storage for real use. */
object IndexStore {

  private def root: String =
    sys.env.getOrElse("GRAFT_INDEX_STORE", "/tmp/graft_index_store")

  /** Target parquet file size for stored indexes (guide §6: aim for
    * output files in the 128 MB – 1 GB range). Before r19 an index was
    * written straight off the build plan's final stage — one file PER
    * SHUFFLE PARTITION regardless of size, e.g. the sf0.1 DSIR index
    * landed as 32 × 28 KB files, so every read-side query paid a
    * 32-task scan stage (plus footer opens) for < 1 MB of integers, and
    * a 100 TB build at cluster parallelism would spray tens of
    * thousands of undersized files. */
  private val TargetFileBytes: Long = 128L << 20

  // Per-(session, path, publication) memo of reloaded index frames — the
  // Entities.read pattern: every `spark.read.parquet` pays a listing/
  // footer job plus a fresh analysis, and the indexed query family
  // re-reads the same artifacts on every call (q_hybrid_rrf_ann alone
  // reloads FIVE frames per invocation). DataFrames are immutable
  // plans, so sharing one per publication is safe. A publication is the
  // published `_FINGERPRINT` plus the `_NONCE` written with it, so a
  // rebuild gets a fresh listing even within one mtime tick, and the
  // bounded LRU frees a stopped session's plans.
  private val readMemo =
    new java.util.LinkedHashMap[(SparkSession, String, String), DataFrame](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String, String), DataFrame])
          : Boolean = size() > 64
    }

  private def readMemoized(spark: SparkSession, path: String): DataFrame =
    synchronized {
      val k = (spark, path,
        s"${readSidecar(path, "_FINGERPRINT")}\n${readSidecar(path, "_NONCE")}")
      val hit = readMemo.get(k)
      if (hit != null) hit
      else {
        val df = spark.read.parquet(path)
        readMemo.put(k, df)
        df
      }
    }

  /** Filesystem-safe key component for a fixture dir. */
  def keyOf(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Cheap source fingerprint: md5 over the sorted (relative path, size,
    * mtime) triples of every regular file under `dir` (one level of
    * recursion covers Spark-written parquet directories). Driver-side
    * stats only — no data is read, so it is safe to compute per call even
    * against a 100 TB source tree's manifest. */
  def dirFingerprint(dir: String): String = {
    def files(f: java.io.File, prefix: String): Seq[String] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.sortBy(_.getName)
          .flatMap(c => files(c, s"$prefix${f.getName}/"))
      else Seq(s"$prefix${f.getName}:${f.length}:${f.lastModified}")
    val manifest = files(new java.io.File(dir), "").mkString("\n")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  private def readSidecar(path: String, name: String): String = {
    val f = java.nio.file.Paths.get(s"$path/$name")
    if (java.nio.file.Files.exists(f))
      new String(java.nio.file.Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8)
    else ""
  }

  /** Read the index at `key`, building + persisting it first if absent
    * or if the recorded source `fingerprint` no longer matches (a
    * regenerated fixture at the same path must rebuild, not silently
    * reuse). Presence = parquet _SUCCESS marker (a killed half-write
    * rebuilds). Synchronized: concurrent first-callers in one JVM build
    * once; cross-process racers resolve at the rename. */
  def getOrBuild(spark: SparkSession, key: String, fingerprint: String = "")
                (build: => DataFrame): DataFrame = synchronized {
    val path = s"$root/$key"
    val done = new java.io.File(s"$path/_SUCCESS")
    val stale = done.exists() && readSidecar(path, "_FINGERPRINT") != fingerprint
    if (stale) {
      System.err.println(s"[index-store] $key fingerprint changed — rebuilding")
      invalidate(key)
    } else if (!done.exists() && new java.io.File(path).exists()) {
      // killed half-write (dir present, no _SUCCESS): clear it so the
      // rebuild's rename can land
      invalidate(key)
    }
    if (!done.exists() || stale) {
      System.err.println(s"[index-store] building $key")
      val nonce = s"${ProcessHandle.current().pid()}-${System.nanoTime()}"
      val tmp = s"$path.tmp-$nonce"
      // Stage the build as the plan lays it out, then COMPACT to
      // size-targeted files (guide §6): the staging write keeps the
      // build's full parallelism (an AQE-coalesce window here would
      // serialize the expensive amplifying stages — the r18 rejection),
      // and the compaction pass is a narrow `coalesce` over the staged
      // bytes — deterministic (no shuffle, no round-robin), exact (file
      // count derived from the REAL staged size, not an estimate), and
      // proportional to the index, not the corpus. Build-time only;
      // the read side sees sized files instead of one per shuffle task.
      val staging = s"$path.stage-$nonce"
      build.write.mode("overwrite").parquet(staging)
      val stagedFiles = Option(new java.io.File(staging).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.startsWith("part-"))
      val stagedBytes = stagedFiles.map(_.length).sum
      val nFiles = math.max(1L,
        (stagedBytes + TargetFileBytes - 1) / TargetFileBytes).toInt
      if (stagedFiles.length <= nFiles) {
        // already at-or-under the target count — promote staging as-is
        if (!new java.io.File(staging).renameTo(new java.io.File(tmp)))
          throw new IllegalStateException(
            s"[index-store] could not stage $key (rename $staging failed)")
      } else {
        spark.read.parquet(staging).coalesce(nFiles)
          .write.mode("overwrite").parquet(tmp)
        rmTree(new java.io.File(staging))
      }
      Seq("_FINGERPRINT" -> fingerprint, "_NONCE" -> nonce).foreach {
        case (name, v) =>
          java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/$name"),
            v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      val won = new java.io.File(tmp).renameTo(new java.io.File(path))
      if (!won) {
        // another process completed the same key between our check and
        // rename — discard our copy and read the winner (same key ⇒ same
        // dataflow ⇒ same frame)
        rmTree(new java.io.File(tmp))
        if (!done.exists())
          throw new IllegalStateException(
            s"[index-store] could not publish $key (rename failed, no winner)")
      }
    }
    readMemoized(spark, path)
  }

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(): Unit
  }

  /** Drop one stored index (test hygiene / forced rebuild). */
  def invalidate(key: String): Unit = synchronized {
    val f = new java.io.File(s"$root/$key")
    if (f.exists()) rmTree(f)
  }
}
