package graft.io

import graft.SparkSpec
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
    } finally IndexStore.invalidate(key)
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
      IndexStore.invalidate(key)
      assert(call().first().getLong(0) == 2L, "invalidate must force rebuild")
      // simulate a killed half-write: drop only the _SUCCESS marker
      val root = sys.env.getOrElse("GRAFT_INDEX_STORE", "/tmp/graft_index_store")
      assert(new java.io.File(s"$root/$key/_SUCCESS").delete())
      assert(call().first().getLong(0) == 3L, "missing marker must rebuild")
    } finally IndexStore.invalidate(key)
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
    } finally IndexStore.invalidate(key)
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
      val parts = Option(new java.io.File(s"$root/$key").listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.startsWith("part-"))
      assert(parts.length == 1,
        s"a KB-scale index must compact to ONE file, got ${parts.length}")
      assert(built.agg(count(lit(1)), sum("id")).collect()(0).toSeq ==
        Seq(1000L, 499500L), "compaction must preserve every row")
    } finally IndexStore.invalidate(key)
  }

  test("getOrBuild read-back is plan-memoized per (session, path, publication)") {
    val key = s"spec-memo-${System.nanoTime()}"
    try {
      def call() = IndexStore.getOrBuild(spark, key) {
        Seq((1L, "a")).toDF("id", "v")
      }
      val a = call(); val b = call()
      assert(a eq b, "second read of an unchanged index must reuse the plan")
      IndexStore.invalidate(key)
      val c = call() // rebuild publishes a new nonce → fresh frame, same rows
      assert(c.collect().map(_.getLong(0)).toSeq == Seq(1L))
    } finally IndexStore.invalidate(key)
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
    } finally IndexStore.invalidate(key)
  }

  test("dirFingerprint tracks file size/mtime changes and is stat-only") {
    val d = java.nio.file.Files.createTempDirectory("idxfp").toFile
    try {
      val f = new java.io.File(d, "part-0.parquet")
      java.nio.file.Files.write(f.toPath, "abc".getBytes)
      val fp1 = IndexStore.dirFingerprint(d.getAbsolutePath)
      assert(fp1 == IndexStore.dirFingerprint(d.getAbsolutePath), "stable")
      java.nio.file.Files.write(f.toPath, "abcd".getBytes)
      assert(f.setLastModified(f.lastModified() + 2000))
      assert(IndexStore.dirFingerprint(d.getAbsolutePath) != fp1,
        "regenerated file must change the fingerprint")
    } finally {
      d.listFiles().foreach(_.delete())
      d.delete(): Unit
    }
  }

  test("keyOf produces filesystem-safe, collision-resistant-enough keys") {
    assert(IndexStore.keyOf("/root/testdata/sf0.1") == "_root_testdata_sf0.1")
    assert(IndexStore.keyOf("/tmp/replica100") != IndexStore.keyOf("/tmp/replica10"))
    assert(!IndexStore.keyOf("a b/c:d").exists(c => c == ' ' || c == ':' || c == '/'))
  }
}
