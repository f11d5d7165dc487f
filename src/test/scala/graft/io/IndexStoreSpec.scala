package graft.io

import java.net.URI

import graft.SparkSpec
import org.apache.hadoop.fs.{FileUtil, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._

class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  test("getOrBuild builds exactly once, then reads the parquet back") {
    val key = s"spec-once-${System.nanoTime()}"
    var builds = 0
    def call() = IndexStore.getOrBuild(spark, key) {
      builds += 1
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    }
    try {
      val first = call().collect().map(r => (r.getLong(0), r.getString(1))).sorted
      val second = call().collect().map(r => (r.getLong(0), r.getString(1))).sorted
      assert(builds == 1, "second call must read, not rebuild")
      assert(first.toSeq == Seq((1L, "a"), (2L, "b")) && second.toSeq == first.toSeq)
    } finally IndexStore.invalidate(spark, key)
  }

  test("invalidate forces a rebuild; a half-write (no _SUCCESS) rebuilds too") {
    val key = s"spec-inv-${System.nanoTime()}"
    var builds = 0
    def call() = IndexStore.getOrBuild(spark, key) {
      builds += 1
      Seq(Tuple1(builds.toLong)).toDF("n")
    }
    try {
      assert(call().first().getLong(0) == 1L)
      IndexStore.invalidate(spark, key)
      assert(call().first().getLong(0) == 2L, "invalidate must force rebuild")
      // simulate a killed half-write: drop only the _SUCCESS marker
      val root = sys.env.getOrElse("GRAFT_INDEX_STORE", "/tmp/graft_index_store")
      assert(new java.io.File(s"$root/$key/data/_SUCCESS").delete())
      assert(call().first().getLong(0) == 3L, "missing marker must rebuild")
    } finally IndexStore.invalidate(spark, key)
  }

  test("a changed source fingerprint rebuilds; an unchanged one reads back " +
    "(ADVICE r17: a regenerated fixture at the same path must not serve " +
    "a stale index)") {
    val key = s"spec-fp-${System.nanoTime()}"
    var builds = 0
    def call(fp: String) = IndexStore.getOrBuild(spark, key, fp) {
      builds += 1
      Seq(Tuple1(builds.toLong)).toDF("n")
    }
    try {
      assert(call("fp-a").first().getLong(0) == 1L)
      assert(call("fp-a").first().getLong(0) == 1L, "same fingerprint must read")
      assert(call("fp-b").first().getLong(0) == 2L,
        "changed fingerprint must rebuild, not serve the stale index")
      assert(call("fp-b").first().getLong(0) == 2L)
      assert(builds == 2)
    } finally IndexStore.invalidate(spark, key)
  }

  test("a stored index is compacted to size-targeted files, rows intact " +
    "(guide §6: never one tiny file per shuffle partition)") {
    val key = s"spec-compact-${System.nanoTime()}"
    try {
      val built = IndexStore.getOrBuild(spark, key) {
        // 16-partition build frame — the pre-r19 write would land 16 files
        spark.range(0, 1000).repartition(16)
          .select(col("id"), (col("id") % 7).as("v"))
      }
      val root = sys.env.getOrElse("GRAFT_INDEX_STORE", "/tmp/graft_index_store")
      val parts = Option(new java.io.File(s"$root/$key/data").listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.startsWith("part-"))
      assert(parts.length == 1,
        s"a KB-scale index must compact to ONE file, got ${parts.length}")
      assert(built.agg(count(lit(1)), sum("id")).collect()(0).toSeq ==
        Seq(1000L, 499500L), "compaction must preserve every row")
    } finally IndexStore.invalidate(spark, key)
  }

  test("getOrBuild read-back is plan-memoized per (session, path, publication)") {
    val key = s"spec-memo-${System.nanoTime()}"
    try {
      def call() = IndexStore.getOrBuild(spark, key) {
        Seq((1L, "a")).toDF("id", "v")
      }
      val a = call(); val b = call()
      assert(a eq b, "second read of an unchanged index must reuse the plan")
      IndexStore.invalidate(spark, key)
      val c = call() // rebuild publishes a new nonce → fresh frame, same rows
      assert(c.collect().map(_.getLong(0)).toSeq == Seq(1L))
    } finally IndexStore.invalidate(spark, key)
  }

  test("a rebuild within one mtime tick reads the new rows, not the memo") {
    val key = s"spec-tick-${System.nanoTime()}"
    val root = sys.env.getOrElse("GRAFT_INDEX_STORE", "/tmp/graft_index_store")
    val dir = java.nio.file.Paths.get(s"$root/$key")
    def call(fp: String, n: Long) = IndexStore.getOrBuild(spark, key, fp) {
      Seq(Tuple1(n)).toDF("n")
    }
    try {
      assert(call("fp-a", 1L).first().getLong(0) == 1L)
      val tick = java.nio.file.Files.getLastModifiedTime(dir)
      assert(call("fp-b", 2L).first().getLong(0) == 2L)
      // give the rebuilt dir the first build's mtime, as a rebuild inside
      // one timestamp tick would leave it
      java.nio.file.Files.setLastModifiedTime(dir, tick)
      assert(call("fp-b", 2L).collect().map(_.getLong(0)).toSeq == Seq(2L))
    } finally IndexStore.invalidate(spark, key)
  }

  test("dirFingerprint tracks file size/mtime changes and is stat-only") {
    val d = java.nio.file.Files.createTempDirectory("idxfp").toFile
    try {
      val f = new java.io.File(d, "part-0.parquet")
      java.nio.file.Files.write(f.toPath, "abc".getBytes)
      val fp1 = IndexStore.dirFingerprint(spark, d.getAbsolutePath)
      assert(fp1 == IndexStore.dirFingerprint(spark, d.getAbsolutePath), "stable")
      java.nio.file.Files.write(f.toPath, "abcd".getBytes)
      assert(f.setLastModified(f.lastModified() + 2000))
      assert(IndexStore.dirFingerprint(spark, d.getAbsolutePath) != fp1,
        "regenerated file must change the fingerprint")
    } finally {
      d.listFiles().foreach(_.delete())
      d.delete(): Unit
    }
  }

  private def storeRoot =
    sys.env.getOrElse("GRAFT_INDEX_STORE", "/tmp/graft_index_store")

  test("a two-part artifact publishes and opens on a non-file: Hadoop " +
    "scheme (ramfs), rows and part file counts intact") {
    Sources.configureFs(spark, Map("fs.ramfs.impl" -> classOf[RamFs].getName))
    val path = s"ramfs:${RamFs.root}/store-spec/art-${System.nanoTime()}"
    IndexStore.publish(spark, path, Seq(
      "wide" -> spark.range(0, 1000).repartition(8)
        .select(col("id"), (col("id") % 7).as("v")),
      "narrow" -> Seq((1L, "a"), (2L, "b")).toDF("id", "s")))
    val parts = IndexStore.open(spark, path)
    assert(parts.keySet == Set("wide", "narrow"))
    assert(parts("wide").agg(count(lit(1)), sum("id")).collect()(0).toSeq ==
      Seq(1000L, 499500L))
    assert(parts("narrow").as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b")))
    val backing = new java.io.File(path.stripPrefix("ramfs:"))
    for (part <- Seq("wide", "narrow")) {
      val files = new java.io.File(backing, part).listFiles()
        .filter(_.getName.startsWith("part-"))
      assert(files.length == 1, s"$part must compact to one file, got ${files.length}")
    }
    assert(backing.getParentFile.listFiles().forall(f =>
      !f.getName.contains(".stage-") && !f.getName.contains(".tmp-")))
  }

  test("a builder that loses the publish race leaves the winner intact, " +
    "with nothing nested inside it") {
    Sources.configureFs(spark, Map("fs.racefs.impl" -> classOf[RaceFs].getName))
    val path = s"racefs:${RamFs.root}/race-${System.nanoTime()}"
    val before = RaceFs.races.get()
    IndexStore.publish(spark, path, Seq("data" -> Seq(1L, 2L).toDF("n")))
    assert(RaceFs.races.get() == before + 1, "the racer must have published first")
    val dir = new java.io.File(path.stripPrefix("racefs:"))
    assert(dir.list().toSet == Set("_ARTIFACT", "data"),
      s"the loser must take back what rename nested: ${dir.list().toSeq}")
    assert(IndexStore.open(spark, path)("data").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    assert(!dir.getParentFile.list().exists(n =>
      n.startsWith(s"${dir.getName}.tmp-") || n.startsWith(s"${dir.getName}.stage-")))
  }

  test("a build that throws leaves no staging or tmp dir, and the next " +
    "call builds and reads") {
    val key = s"spec-fail-${System.nanoTime()}"
    var builds = 0
    def call(fail: Boolean) = IndexStore.getOrBuild(spark, key) {
      builds += 1
      spark.range(0, 100, 1, 4).select(
        (if (fail) when(col("id") === 42, raise_error(lit("injected build failure")))
          .otherwise(col("id")) else col("id")).as("id"))
    }
    def leftovers() = Option(new java.io.File(storeRoot).listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(n => n.startsWith(s"$key.stage-") || n.startsWith(s"$key.tmp-"))
    try {
      intercept[Exception](call(fail = true))
      assert(leftovers().isEmpty, s"a failed build left ${leftovers().toSeq}")
      assert(call(fail = false).agg(count(lit(1))).first().getLong(0) == 100L)
      assert(builds == 2)
      assert(leftovers().isEmpty)
    } finally IndexStore.invalidate(spark, key)
  }

  test("a two-part getOrBuildAll builds once; the second call returns " +
    "both parts without building") {
    val key = s"spec-parts-${System.nanoTime()}"
    var builds = 0
    def call() = IndexStore.getOrBuildAll(spark, key, "fp") {
      builds += 1
      Seq("left" -> Seq(1L, 2L).toDF("n"), "right" -> Seq("x").toDF("s"))
    }
    try {
      val first = call()
      val second = call()
      assert(builds == 1, "second call must read, not rebuild")
      assert(second.keySet == Set("left", "right"))
      assert(second("left").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
      assert(second("right").as[String].collect().toSeq == Seq("x"))
      assert(first("left") eq second("left"))
    } finally IndexStore.invalidate(spark, key)
  }

  test("q_hybrid_rrf_ann keeps its IVF-PQ index as ONE four-part " +
    "artifact, and a second call builds nothing") {
    val q = graft.SparkEntry.queries("q_hybrid_rrf_ann")
    def artifacts() = Option(new java.io.File(storeRoot).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(IndexStore.keyOf(sf)) &&
        new java.io.File(f, "_ARTIFACT").exists())
      .map(f => f.getName -> new String(java.nio.file.Files.readAllBytes(
        new java.io.File(f, "_ARTIFACT").toPath), "UTF-8")).toMap
    q(spark, sf).collect()
    val first = artifacts()
    val ivf = first.keys.filter(_.startsWith("ivfpq-")).toSeq
    assert(ivf.size == 1, s"one ivfpq- artifact expected, got $ivf")
    // sidecar: nonce, part names, fingerprint
    assert(first(ivf.head).split("\n", 3)(1).split(",").toSeq ==
      Seq("cents", "assigned", "codebooks", "codes"))
    q(spark, sf).collect()
    assert(artifacts() == first, "a second call must not republish anything")
  }

  test("keyOf produces filesystem-safe, collision-resistant-enough keys") {
    assert(IndexStore.keyOf("/root/testdata/sf0.1") == "_root_testdata_sf0.1")
    assert(IndexStore.keyOf("/tmp/replica100") != IndexStore.keyOf("/tmp/replica10"))
    assert(!IndexStore.keyOf("a b/c:d").exists(c => c == ' ' || c == ':' || c == '/'))
  }
}

/** A Hadoop FileSystem whose publish rename first lets a racer publish a
  * copy at the destination: the cross-process race between the store's
  * existence check and its rename, made deterministic. Hadoop's rename
  * onto the now-existing directory moves the source INSIDE it. */
class RaceFs extends RawLocalFileSystem {
  override def getScheme: String = "racefs"
  override def getUri: URI = URI.create("racefs:///")
  override def rename(src: Path, dst: Path): Boolean = {
    if (src.getName.contains(".tmp-")) {
      RaceFs.races.incrementAndGet()
      FileUtil.copy(this, src, this, dst, false, getConf)
    }
    super.rename(src, dst)
  }
}

object RaceFs {
  val races = new java.util.concurrent.atomic.AtomicInteger()
}
