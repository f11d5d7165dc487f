package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.io.{RamFs, Sinks, Sources}
import graft.ops.{DuplicateException, Quality}
import graft.pipelines.Ingestion

object IoSpec {
  /** Name → SHA-256 of every `part-*` file directly under `dir`, read
    * through the dir's Hadoop `FileSystem`. */
  def partDigests(spark: SparkSession, dir: String): Map[String, String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).map(_.getPath).filter(_.getName.startsWith("part-")).map { f =>
      val in = fs.open(f)
      val bytes = try in.readAllBytes() finally in.close()
      f.getName -> java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
        .map("%02x".format(_)).mkString
    }.toMap
  }
}

class IoSpec extends SparkSpec {
  import spark.implicits._

  test("S1: JSON records source parses driver-fetched payloads") {
    val df = Sources.fromJsonRecords(spark,
      Seq("""{"supplier_id":"S1","region":"East"}""",
        """{"supplier_id":"S2","region":"West"}"""))
    assert(df.count() == 2)
    assert(df.columns.sorted.toSeq == Seq("region", "supplier_id"))
  }

  test("S3: CSV source with header round-trips") {
    val d = Files.createTempDirectory("graft_csv").toString
    Files.writeString(java.nio.file.Paths.get(s"$d/x.csv"), "id,name\n1,a\n2,b\n")
    val df = Sources.csv(spark, s"$d/x.csv")
    assert(df.count() == 2)
    assert(df.columns.toSeq == Seq("id", "name"))
  }

  test("S6: parquet + temp view + reporting-prefix SQL rewrite") {
    val out = Sources.parquetSql(spark, s"$sf/region.parquet", "region_v",
      "select r_name from reporting.region_v order by r_name")
    assert(out.count() == 5)
  }

  test("S9: dated-path convention matches the reference layout") {
    val p = Sources.datedPath("gs://meta-morph-flow", "sales",
      java.time.LocalDate.of(2025, 3, 10))
    assert(p == "gs://meta-morph-flow/20250310/sales_20250310.csv")
  }

  test("object-store seam: scheme-agnostic paths + hadoop conf injection") {
    // The reference hardcodes gs:// buckets (Rest-API/main.py:42-56,
    // Raptor.py:104-109); here the scheme is carried by the URI and the
    // connector config by hadoop conf pass-through. file:// stands in for
    // gs:// (zero-egress sandbox, no cloud connector jars) — the point is
    // that the SAME Sources/Sinks code paths take an explicit-scheme URI
    // end to end, so a cloud move is jar + conf, not code.
    Sources.configureFs(spark, Map(
      "fs.graft.test.injected" -> "yes",        // arbitrary connector key
      "io.file.buffer.size" -> "65536"))        // a key the FS layer reads
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get("fs.graft.test.injected") == "yes")
    assert(hc.get("io.file.buffer.size") == "65536")

    val tmp = Files.createTempDirectory("graft_fs_seam").toString
    val bucket = s"file://$tmp"                  // explicit scheme, like gs://
    val day = java.time.LocalDate.of(2025, 3, 10)
    val path = Sources.datedPath(bucket, "sales", day, ext = "parquet")
    assert(path.startsWith("file://") && path.contains("/20250310/"))
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    df.write.mode("overwrite").parquet(path)
    assert(spark.read.parquet(path).count() == 2)
    // the same write via the snapshot sink convention over the scheme URI
    Sinks.snapshot(df, s"$bucket/raw/sales", s"$bucket/legacy/sales")
    assert(spark.read.parquet(s"$bucket/raw/sales").count() == 2)
  }

  test("object-store seam: custom-scheme FileSystem resolves through " +
    "configureFs and round-trips parquet (no egress)") {
    import graft.io.RamFs
    // the exact production move for gs://ated buckets: inject the
    // connector class + credentials via the hadoop-conf pass-through,
    // BEFORE first use of the scheme
    Sources.configureFs(spark, Map(
      "fs.ramfs.impl" -> classOf[RamFs].getName,
      "fs.ramfs.credential.token" -> "sandbox-secret"))
    val path = s"ramfs:${RamFs.root}/warehouse/20250101/suppliers_20250101.parquet"
    val df = spark.range(0, 25).selectExpr("id AS s_suppkey",
      "concat('Supplier#', id) AS s_name")
    df.write.mode("overwrite").parquet(path)
    val back = spark.read.parquet(path)
    assert(back.count() === 25)
    assert(back.selectExpr("sum(s_suppkey)").head.getLong(0) === 300L)
    // scheme resolved to OUR filesystem, and the credential key reached
    // the instance through the same configuration channel
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[RamFs], s"scheme resolved to ${fs.getClass}")
    assert(fs.getConf.get("fs.ramfs.credential.token") === "sandbox-secret")
    // and the bytes genuinely landed under the sandbox root via the
    // ramfs write, not some unrelated location
    val backing = new java.io.File(RamFs.root,
      "warehouse/20250101/suppliers_20250101.parquet")
    assert(backing.isDirectory && backing.listFiles().exists(
      _.getName.endsWith(".parquet")))
  }

  test("object-store seam: worked s3a/gcs connector maps wire through configureFs " +
    "and scheme URIs parse end to end (no jars, no egress)") {
    // the production move, minus the connector jars this sandbox cannot
    // have: the PUBLIC Hadoop settings land in hadoopConfiguration via
    // the same pass-through the RamFs spec proves resolves schemes
    Sources.configureFs(spark, Sources.s3aConf(
      accessKey = Some("AKIA-EXAMPLE"), secretKey = Some("not-a-real-secret"),
      endpoint = Some("http://minio.local:9000"), pathStyleAccess = true))
    Sources.configureFs(spark, Sources.gcsConf(
      jsonKeyfile = Some("/etc/secrets/sa.json"), projectId = Some("demo-proj")))
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get("fs.s3a.access.key") == "AKIA-EXAMPLE")
    assert(hc.get("fs.s3a.endpoint") == "http://minio.local:9000")
    assert(hc.get("fs.s3a.path.style.access") == "true")
    assert(hc.get("fs.gs.impl") ==
      "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFileSystem")
    assert(hc.get("google.cloud.auth.service.account.json.keyfile") ==
      "/etc/secrets/sa.json")
    // default-credential-chain forms carry no secrets at all
    assert(!Sources.s3aConf().keys.exists(_.contains("key")))
    assert(!Sources.gcsConf().contains("google.cloud.auth.service.account.json.keyfile"))

    // dated-path + Hadoop Path handling over both schemes: bucket is the
    // URI authority, the convention's relative layout survives, and
    // nothing touches a FileSystem (no connector jars here)
    val day = java.time.LocalDate.of(2025, 3, 10)
    Seq("s3a://prod-lake", "gs://meta-morph-flow").foreach { bucket =>
      val p = Sources.datedPath(bucket, "sales", day)
      assert(p == s"$bucket/20250310/sales_20250310.csv")
      val hp = new org.apache.hadoop.fs.Path(p)
      assert(hp.toUri.getScheme == bucket.takeWhile(_ != ':'))
      assert(hp.toUri.getAuthority == bucket.dropWhile(_ != '/').drop(2))
      assert(hp.toUri.getPath == "/20250310/sales_20250310.csv")
    }
  }

  test("S8 + snapshot: raw overwrite + legacy append ledger") {
    val d = Files.createTempDirectory("graft_snap").toString
    val day1 = Seq((1, "a")).toDF("id", "v")
    val day2 = Seq((2, "b")).toDF("id", "v")
    Sinks.snapshot(day1, s"$d/raw", s"$d/legacy")
    Sinks.snapshot(day2, s"$d/raw", s"$d/legacy")
    assert(spark.read.parquet(s"$d/raw").count() == 1)      // overwritten
    assert(spark.read.parquet(s"$d/legacy").count() == 2)   // accumulated
  }

  test("snapshot over a non-local FileSystem: raw overwritten, legacy appended, " +
       "no stage entry left") {
    import graft.io.RamFs
    Sources.configureFs(spark, Map("fs.ramfs.impl" -> classOf[RamFs].getName))
    val d = Files.createTempDirectory(RamFs.root.toPath, "snap").toString
    val night1 = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val night2 = Seq((3, "c"), (4, "d"), (5, "e")).toDF("id", "v")
    assert(Sinks.snapshot(night1, s"ramfs:$d/raw", s"ramfs:$d/legacy") == 2)
    assert(Sinks.snapshot(night2, s"ramfs:$d/raw", s"ramfs:$d/legacy") == 3)
    val raw = spark.read.parquet(s"ramfs:$d/raw")
    assert(raw.as[(Int, String)].collect().sorted.toSeq == Seq((3, "c"), (4, "d"), (5, "e")))
    assert(spark.read.parquet(s"ramfs:$d/legacy").count() == 5)
    val left = Files.walk(java.nio.file.Paths.get(d))
    try assert(!left.anyMatch(_.getFileName.toString.contains(".stage-")))
    finally left.close()
  }

  test("snapshot lands legacy as a byte copy of each night's raw part files " +
       "(local and non-local FileSystem)") {
    Sources.configureFs(spark, Map("fs.ramfs.impl" -> classOf[RamFs].getName))
    Seq(Files.createTempDirectory("graft_bytes").toString,
        s"ramfs:${Files.createTempDirectory(RamFs.root.toPath, "bytes")}").foreach { d =>
      val nights = Seq(spark.range(0, 40).repartition(3), spark.range(40, 50).repartition(2))
        .map(_.selectExpr("id", "concat('v', id) AS v"))
      var landed = Map.empty[String, String]
      nights.zip(Seq(3, 2)).foreach { case (night, files) =>
        Sinks.snapshot(night, s"$d/raw", s"$d/legacy")
        val raw = IoSpec.partDigests(spark, s"$d/raw")
        assert(raw.size == files, s"$d: raw holds $raw")
        assert(raw.keySet.intersect(landed.keySet).isEmpty, "part names of two nights collide")
        landed ++= raw
        // legacy gained exactly this night's raw parts: same names, same bytes
        assert(IoSpec.partDigests(spark, s"$d/legacy") == landed, d)
      }
      assert(spark.read.parquet(s"$d/legacy").count() == 50)
    }
  }

  test("a legacy copy that fails part-way leaves raw, legacy and no stage entry behind") {
    Sources.configureFs(spark, Map("fs.ramfs.impl" -> classOf[RamFs].getName))
    val d = Files.createTempDirectory(RamFs.root.toPath, "copyfail").toString
    val (raw, legacy) = (s"ramfs:$d/raw", s"ramfs:$d/legacy")
    Sinks.snapshot(spark.range(0, 6).repartition(2).toDF("id"), raw, legacy)
    val before = (IoSpec.partDigests(spark, raw), IoSpec.partDigests(spark, legacy))
    val copies = new java.util.concurrent.atomic.AtomicInteger()
    RamFs.failCreate = p =>
      p.toString.contains(s"$d/legacy.stage-") && copies.incrementAndGet() > 1
    try intercept[org.apache.spark.SparkException] {
      Sinks.snapshot(spark.range(10, 40).repartition(3).toDF("id"), raw, legacy)
    } finally RamFs.failCreate = _ => false
    assert(copies.get() >= 2, "the copy must have failed after one file")
    assert((IoSpec.partDigests(spark, raw), IoSpec.partDigests(spark, legacy)) == before)
    assert(spark.read.parquet(legacy).count() == 6)
    val left = Files.walk(java.nio.file.Paths.get(d))
    try assert(!left.anyMatch(_.getFileName.toString.contains(".stage-")))
    finally left.close()
  }

  test("an empty load lands, gated or not: raw keeps the frame's columns, " +
       "legacy stays readable, the check sees the inferred schema") {
    val d = Files.createTempDirectory("graft_empty").toString
    val night = Seq((1L, "a")).toDF("ID", "V")
    val empty = night.filter(lit(false))
    val checks = Seq[(String, DataFrame => Unit)](
      "ungated" -> (_ => ()), "gated" -> (staged => Quality.gate(staged, Seq("ID"))))
    checks.foreach { case (label, check) =>
      val (raw, legacy) = (s"$d/$label/raw", s"$d/$label/legacy")
      var seen: StructType = null
      def load(df: DataFrame): Long =
        Sinks.snapshot(df, raw, legacy, staged => { seen = staged.schema; check(staged) })
      assert(load(empty) == 0)
      assert(spark.read.parquet(legacy).count() == 0, s"$label: first night empty")
      assert(load(night) == 1)
      assert(load(empty) == 0)
      val back = spark.read.parquet(raw)
      assert(back.count() == 0)
      assert(back.schema.map(f => (f.name, f.dataType)) ==
        empty.schema.map(f => (f.name, f.dataType)), label)
      // the inferred schema of the staged parquet: every field nullable
      assert(seen == back.schema && seen == StructType(empty.schema.map(_.copy(nullable = true))),
        s"$label: check saw $seen")
      assert(spark.read.parquet(legacy).count() == 1, s"$label: legacy count moved")
    }
  }

  test("jsonl roundtrip preserves rows and declared schema avoids inference") {
    val d = Files.createTempDirectory("graft_jsonl").toString
    val docs = Seq((1L, "hello world", "en"), (2L, "hallo welt", "de"))
      .toDF("doc_id", "text", "lang")
    Sinks.jsonl(docs, s"$d/corpus")
    val back = Sources.jsonl(spark, s"$d/corpus", Some(docs.schema))
    // JSON sources force nullable=true; names and types must round-trip
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      docs.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.orderBy("doc_id").collect().map(_.toSeq).toSeq ==
      docs.orderBy("doc_id").collect().map(_.toSeq).toSeq)
    // gzip-compressed variant reads back transparently
    Sinks.jsonl(docs, s"$d/gz", compression = Some("gzip"))
    assert(Sources.jsonl(spark, s"$d/gz", Some(docs.schema)).count() == 2)
  }

  test("partitionedParquet prunes directories on partition-column predicates") {
    val d = Files.createTempDirectory("graft_part").toString
    val docs = Seq((1L, "en", "a"), (2L, "de", "b"), (3L, "en", "c"))
      .toDF("doc_id", "lang", "text")
    Sinks.partitionedParquet(docs, s"$d/docs", Seq("lang"))
    val back = spark.read.parquet(s"$d/docs")
    assert(back.count() == 3, "roundtrip preserves rows")
    val pruned = back.filter($"lang" === "en")
    assert(pruned.count() == 2)
    // partition pruning is real: the physical scan carries the predicate
    // as a PartitionFilter (directory-level pruning, not a row filter)
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.partitionFilters.exists(_.references.map(_.name).toSeq.contains("lang")),
      s"lang predicate must be a partition filter: ${scan.partitionFilters}")
    assert(scan.relation.partitionSchema.fieldNames.toSeq == Seq("lang"))
  }

  test("ingestion canonicalize renames positionally and stamps DAY_DT") {
    val raw = Seq(("S1", "Acme", "555", "East")).toDF("a", "b", "c", "d")
    val out = Ingestion.canonicalize(raw,
      Seq("SUPPLIER_ID", "SUPPLIER_NAME", "CONTACT_DETAILS", "REGION"))
    assert(out.columns.toSeq == Seq("SUPPLIER_ID", "SUPPLIER_NAME",
      "CONTACT_DETAILS", "REGION", "DAY_DT"))
    assert(out.select("DAY_DT").first().getDate(0).toString == "2025-01-01")
  }

  test("orc roundtrip preserves rows; predicates push down to the scan") {
    val d = Files.createTempDirectory("graft_orc").toString
    val df = Seq((1L, "en", 10.5), (2L, "de", 20.0), (3L, "en", 30.25))
      .toDF("id", "lang", "score")
    Sinks.orc(df, s"$d/t")
    val back = Sources.orc(spark, s"$d/t")
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ==
      df.orderBy("id").collect().map(_.toSeq).toSeq)
    // predicate + projection reach the ORC scan (same discipline as
    // the parquet paths): data filters pushed, read schema pruned
    val q = back.filter($"id" > 1L).select("id", "lang")
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.metadata("PushedFilters").contains("GreaterThan(id,1)"),
      s"id predicate must push down: ${scan.metadata("PushedFilters")}")
    assert(scan.requiredSchema.fieldNames.toSeq == Seq("id", "lang"),
      "projection must prune the read schema")
  }

  test("snapshotIngest gates duplicates before any write") {
    val d = Files.createTempDirectory("graft_gate").toString
    val dup = Seq(("S1", "x"), ("S1", "y")).toDF("a", "b")
    assertThrows[DuplicateException] {
      Ingestion.snapshotIngest(dup, Seq("SUPPLIER_ID", "V"),
        Seq("SUPPLIER_ID"), s"$d/raw", s"$d/legacy")
    }
    assert(!Files.exists(java.nio.file.Paths.get(s"$d/raw"))) // no partial load
    assert(!Files.exists(java.nio.file.Paths.get(s"$d/legacy")))
    assert(Files.list(java.nio.file.Paths.get(d)).toArray.isEmpty, "no stage dir left")
  }

  test("text source: line mode and whole-file mode; csv sink round-trips") {
    val d = Files.createTempDirectory("graft_text").toString
    Files.write(java.nio.file.Paths.get(s"$d/a.txt"), "line one\nline two\n".getBytes)
    Files.write(java.nio.file.Paths.get(s"$d/b.txt"), "single doc body".getBytes)
    assert(Sources.text(spark, d).count() == 3, "line mode: one row per line")
    val whole = Sources.text(spark, d, wholeFile = true)
      .withColumn("f", input_file_name())
    assert(whole.count() == 2, "whole-file mode: one row per file")
    val bodyByFile = whole.collect()
      .map(r => r.getString(1).split('/').last -> r.getString(0)).toMap
    assert(bodyByFile("b.txt") == "single doc body")
    assert(bodyByFile("a.txt") == "line one\nline two\n")

    val out = s"$d/csv_out"
    Sinks.csv(spark.read.parquet(s"$sf/region.parquet"), out)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == spark.read.parquet(s"$sf/region.parquet").count())
    assert(back.columns.toSeq ==
      spark.read.parquet(s"$sf/region.parquet").columns.toSeq)
  }

  test("binaryFiles reads raw media and feeds the multimodal decode path") {
    val d = Files.createTempDirectory("graft_bin").toString
    // one real 4x4 white PNG + one non-media file the glob must exclude
    val img = new java.awt.image.BufferedImage(
      4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    Files.write(java.nio.file.Paths.get(s"$d/a.png"), png)
    Files.write(java.nio.file.Paths.get(s"$d/junk.txt"), "not media".getBytes)

    assert(Sources.binaryFiles(spark, d).count() == 2)
    val onlyPng = Sources.binaryFiles(spark, d, glob = Some("*.png"))
    val row = onlyPng.select("path", "length", "content").collect().head
    assert(row.getString(0).endsWith("a.png"))
    assert(row.getLong(1) == png.length)
    assert(row.getAs[Array[Byte]](2).sameElements(png), "content round-trips")

    // end-to-end into the decode operator: real PNG luminance, not the stub
    val media = onlyPng.select(
      monotonically_increasing_id().as("media_id"),
      lit("image").as("modality"), col("content").as("payload"))
    val feats = graft.ops.Multimodal.decodeFeatures(media, dim = 4)
      .select("features").collect().head.getSeq[Float](0)
    assert(feats.forall(v => math.abs(v - 1.0f) < 1e-6),
      s"all-white image decodes to unit luminance per band, got $feats")
  }
}
