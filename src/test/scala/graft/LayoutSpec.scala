package graft

import graft.sources.Layout
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def parquetFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_layout_$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  test("compact merges a many-small-files table to the byte-targeted count") {
    val small = tmpDir("small")
    val compacted = tmpDir("compacted")
    val c = Tables.customer(spark, sf0001)
    c.repartition(40).write.mode("overwrite").parquet(small)
    assert(parquetFiles(small).size == 40)
    val totalBytes = parquetFiles(small).map(_.length).sum
    val target = totalBytes / 4   // expect ~4 output files
    val produced = Layout.compact(spark, small, compacted, target)
    assert(parquetFiles(compacted).size == produced)
    assert(produced >= 3 && produced <= 5, s"produced=$produced")
    // content preserved exactly
    assert(spark.read.parquet(compacted).count() == c.count())
  }

  test("compactIfNeeded on a flat dir: content parity, staging gone, thresholds") {
    val dir = tmpDir("flat")
    val c = Tables.customer(spark, sf0001)
    c.repartition(8).write.mode("overwrite").parquet(dir)
    // simulate an append drift: one more batch, one more file set
    c.limit(10).repartition(1).write.mode("append").parquet(dir)
    val before = spark.read.parquet(dir).orderBy("c_custkey").collect().toSeq
    assert(Layout.dataFileCount(spark, dir) >= 9)
    // under threshold: the policy must not touch the dir
    assert(Layout.compactIfNeeded(spark, dir, 100).isEmpty)
    assert(Layout.dataFileCount(spark, dir) >= 9)
    // past threshold: one in-place rewrite to the byte-targeted count
    val n = Layout.compactIfNeeded(spark, dir, 4)
    assert(n.nonEmpty && n.get == Layout.dataFileCount(spark, dir))
    assert(n.get < 9)
    // content parity and no staging leftovers
    val after = spark.read.parquet(dir).orderBy("c_custkey").collect().toSeq
    assert(after == before)
    assert(!new java.io.File(dir.stripSuffix("/") + "__compact_staging")
      .exists())
  }

  // compactIfNeeded reads the layout off its target: a catalog table is
  // bucketed (unit: the bucket), a dir with every data file one
  // name=value level down is partitioned (unit: the partition), a dir
  // with every data file at its root is flat (unit: the dir). Each
  // layout no-ops at its depth, fires one under it, lands at one file per
  // unit with its rows unchanged, and 0 forces it. Committer leftovers in
  // a partition dir do not deepen it; a dir mixing root and partition
  // files, or nesting two levels, is refused with its name.
  test("compactIfNeeded reads the layout off its target; mixed dirs are refused") {
    val c = Tables.customer(spark, sf0001)
      .select("c_custkey", "c_name", "c_nationkey")
    val root = tmpDir("detect")
    val flat = s"$root/flat"
    c.repartition(3).write.parquet(flat)
    val part = s"$root/part"
    // zero-padded names: the rewrite must keep them, not re-render an
    // inferred int
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("cell", format_string("%03d", col("c_custkey") % 3))
    Seq(0, 1).foreach(i => cells(c.filter(col("c_custkey") % 2 === i))
      .repartition(col("cell")).write.mode("append").partitionBy("cell")
      .parquet(part))
    Seq("_SUCCESS", ".part-00000.parquet.crc", ".part-00009.parquet.tmp")
      .foreach(n => java.nio.file.Files.writeString(
        java.nio.file.Paths.get(part, "cell=000", n), "x"))
    val tbl = "graft_spec_detect_bucketed"
    Layout.publishBucketed(c.filter(col("c_custkey") % 2 === 0),
      "c_custkey", tbl, s"$root/b", 4)
    Layout.appendBucketed(c.filter(col("c_custkey") % 2 === 1),
      "c_custkey", tbl)
    def rows(target: String) =
      (if (target == tbl) spark.table(tbl) else spark.read.parquet(target))
        .collect().map(_.toString).sorted.toSeq
    try {
      Seq(flat -> 3, part -> 2, tbl -> 2).foreach { case (target, depth) =>
        assert(Layout.filesPerUnit(spark, target) == depth, target)
        val before = rows(target)
        assert(Layout.compactIfNeeded(spark, target, depth).isEmpty, target)
        assert(Layout.filesPerUnit(spark, target) == depth, target)
        assert(Layout.compactIfNeeded(spark, target, depth - 1).nonEmpty,
          target)
        assert(Layout.filesPerUnit(spark, target) == 1, target)
        assert(Layout.compactIfNeeded(spark, target, 1).isEmpty, target)
        assert(Layout.compactIfNeeded(spark, target, 0).nonEmpty, target)
        assert(Layout.filesPerUnit(spark, target) == 1, target)
        assert(rows(target) == before, target)
      }
      // one file per partition, under the same partition dirs
      assert(new java.io.File(part).list().filter(_.startsWith("cell="))
        .sorted.toSeq == Seq("cell=000", "cell=001", "cell=002"))
      val mixed = s"$root/mixed"
      c.write.parquet(mixed)
      cells(c).write.mode("append").partitionBy("cell").parquet(mixed)
      val nested = s"$root/nested"
      cells(c).write.partitionBy("cell", "c_nationkey").parquet(nested)
      Seq(mixed, nested).foreach { dir =>
        val e = intercept[IllegalArgumentException](
          Layout.compactIfNeeded(spark, dir, 0))
        assert(e.getMessage.contains(dir), e.getMessage)
        intercept[IllegalArgumentException](Layout.filesPerUnit(spark, dir))
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("bucketed compaction in place: same serve, one file per bucket") {
    import graft.operators.{Dedup, TextOps}
    val docs = Tables.documents(spark, sf0001)
    val fp = docs.select(col("doc_id"), col("source"),
      TextOps.fingerprint(col("text")).as("fp"))
    val corpus0 = fp.filter(col("source") === "src1").select("fp")
    val dir = tmpDir("bcomp")
    val tbl = "graft_spec_compact_idx"
    Dedup.writeKeyIndexBucketed(corpus0, "fp", s"$dir/t", tbl, numBuckets = 4)
    // five daily appends, each one bucketed file set — novel keys only,
    // per the append contract
    (2 to 6).foreach { i =>
      val day = fp.filter(col("source") === s"src$i").select("doc_id", "fp")
      Dedup.appendKeyIndexBucketed(
        Dedup.incrementalAgainstIndex(day, "fp", tbl), "fp", tbl)
    }
    val batch = fp.filter(col("source") === "src0").select("doc_id", "fp")
    val before = Dedup.incrementalAgainstIndex(batch, "fp", tbl)
      .as[(String, Long)].collect().toSet
    val filesBefore = parquetFiles(s"$dir/t").size
    assert(filesBefore > 4, s"appends must accumulate files, saw $filesBefore")
    val filesAfter = Layout.compactIfNeeded(spark, tbl, 0)
      .getOrElse(fail("0 forces compaction"))
    // one file per bucket restored, nothing a query can observe changed
    assert(filesAfter == 4, s"filesAfter=$filesAfter")
    assert(parquetFiles(s"$dir/t").size == 4)
    val after = Dedup.incrementalAgainstIndex(batch, "fp", tbl)
      .as[(String, Long)].collect().toSet
    assert(after == before)
    // ... and the table is still genuinely BUCKETED (the serve anti join
    // consumes the layout in place; broadcast disabled as in DedupSpec —
    // at real scale the index never fits one)
    val broadcastConfs = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = broadcastConfs.map(k => k -> spark.conf.getOption(k))
    broadcastConfs.foreach(k => spark.conf.set(k, "-1"))
    try {
      val df = Dedup.incrementalAgainstIndex(batch, "fp", tbl)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("Bucketed: true"), plan)
    } finally {
      saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("bucketed compaction writes the table's bytes once: one staged write, then the swap") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val dir = tmpDir("bonce")
    val tbl = "graft_spec_compact_once"
    // rows wide enough that data, not per-file overhead, dominates bytes
    def batch(lo: Long, hi: Long) = spark.range(lo, hi).select(
      concat(lit("k"), (col("id") * 7919 % 100003).cast("string")).as("k"),
      col("id"), sha2(col("id").cast("string"), 256).as("payload"))
    Layout.publishBucketed(batch(0, 20000), "k", tbl, s"$dir/t", 4)
    (1 to 3).foreach(i =>
      Layout.appendBucketed(batch(i * 20000L, (i + 1) * 20000L), "k", tbl))
    val before = spark.table(tbl).orderBy("id").collect().toSeq
    val dataBytes = parquetFiles(s"$dir/t").map(_.length).sum
    val written = new java.util.concurrent.atomic.AtomicLong(0L)
    def drain(): Unit = {
      var last = -1L; var stable = 0
      while (stable < 2) {
        Thread.sleep(150)
        val now = written.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
    }
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          written.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(l)
    val filesAfter = try {
      drain()
      written.set(0L)
      val n = Layout.compactIfNeeded(spark, tbl, 0)
        .getOrElse(fail("0 forces compaction"))
      drain()
      n
    } finally spark.sparkContext.removeSparkListener(l)
    assert(written.get() > 0L)
    assert(written.get() < 1.5 * dataBytes,
      s"compaction wrote ${written.get()} bytes for a $dataBytes-byte table")
    assert(filesAfter == 4 && parquetFiles(s"$dir/t").size == 4)
    assert(spark.table(tbl).orderBy("id").collect().toSeq == before)
    assert(!new java.io.File(s"$dir/t__compact_staging").exists())
    assert(!spark.catalog.tableExists(s"${tbl}__compacting"))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  // The policy to the mechanism above: fires only past the threshold,
  // and a firing is exactly one bucketed rewrite (one file per bucket,
  // serve unchanged). Thresholds chosen so the SAME table exercises both
  // branches: 5 appends → 6 file sets → 6.0 files/bucket sits between
  // maxFilesPerUnit=8 (no-op) and =4 (fires).
  test("compactIfNeeded fires past the files-per-bucket threshold, no-ops under it") {
    import graft.operators.{Dedup, TextOps}
    val docs = Tables.documents(spark, sf0001)
    val fp = docs.select(col("doc_id"), col("source"),
      TextOps.fingerprint(col("text")).as("fp"))
    val dir = tmpDir("bpol")
    val tbl = "graft_spec_compact_policy"
    Dedup.writeKeyIndexBucketed(fp.filter(col("source") === "src1")
      .select("fp"), "fp", s"$dir/t", tbl, numBuckets = 4)
    (2 to 6).foreach { i =>
      val day = fp.filter(col("source") === s"src$i").select("doc_id", "fp")
      Dedup.appendKeyIndexBucketed(
        Dedup.incrementalAgainstIndex(day, "fp", tbl), "fp", tbl)
    }
    val depth = Layout.filesPerBucket(spark, tbl)
    assert(depth > 4 && depth <= 8, s"filesPerBucket=$depth")
    val filesBefore = parquetFiles(s"$dir/t").size
    val batch = fp.filter(col("source") === "src0").select("doc_id", "fp")
    val before = Dedup.incrementalAgainstIndex(batch, "fp", tbl)
      .as[(String, Long)].collect().toSet
    assert(before.nonEmpty)
    // under threshold: no-op, files untouched
    assert(Layout.compactIfNeeded(spark, tbl, 8).isEmpty)
    assert(parquetFiles(s"$dir/t").size == filesBefore)
    // over threshold: fires, one file per bucket, serve unchanged
    assert(Layout.compactIfNeeded(spark, tbl, 4).contains(4))
    assert(parquetFiles(s"$dir/t").size == 4)
    val after = Dedup.incrementalAgainstIndex(batch, "fp", tbl)
      .as[(String, Long)].collect().toSet
    assert(after == before)
    // idempotent: a second nightly call sees 1 file/bucket and no-ops
    assert(Layout.compactIfNeeded(spark, tbl, 4).isEmpty)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  // Skew-honesty of the trigger signal: appends that systematically hit
  // ONE bucket must fire the policy at that bucket's depth. Spark's bucket
  // assignment is pmod(murmur3(key), numBuckets) and SQL hash() is the
  // same murmur3(seed=42), so the test selects keys of a single bucket
  // up front. 5 single-bucket appends onto a 4-bucket table → deepest
  // bucket 6 files, table average (4+5)/4 ≈ 2.2 — a threshold of 4 fires
  // under max semantics and would silently no-op under averaging.
  test("filesPerBucket reports the deepest bucket, so skewed appends fire compaction") {
    import graft.operators.{Dedup, TextOps}
    val docs = Tables.documents(spark, sf0001)
    val fp = docs.select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"))
      .withColumn("bucket", pmod(hash(col("fp")), lit(4)))
    val dir = tmpDir("bskew")
    val tbl = "graft_spec_compact_skew"
    // publish from a spread of all buckets so every bucket starts at 1 file
    Dedup.writeKeyIndexBucketed(fp.filter(col("doc_id") % 7 === 0)
      .select("fp"), "fp", s"$dir/t", tbl, numBuckets = 4)
    // five appends, every key from bucket 0 → only bucket 0 deepens
    val oneBucket = fp.filter(col("bucket") === 0 && col("doc_id") % 7 =!= 0)
      .select("doc_id", "fp")
    (0 until 5).foreach { i =>
      val day = oneBucket.filter(col("doc_id") % 5 === i)
      val novel = Dedup.incrementalAgainstIndex(day, "fp", tbl)
      assert(novel.count() > 0, s"skew batch $i must carry novel keys")
      Dedup.appendKeyIndexBucketed(novel, "fp", tbl)
    }
    val depth = Layout.filesPerBucket(spark, tbl)
    assert(depth == 6.0, s"deepest bucket should hold 1+5 files, saw $depth")
    val avg = parquetFiles(s"$dir/t").size.toDouble / 4
    assert(avg < 4.0, s"table average $avg must sit under the threshold " +
      "for this test to distinguish max from average")
    // fires on the deepest bucket where averaging would have no-op'd
    assert(Layout.compactIfNeeded(spark, tbl, 4).contains(4))
    assert(Layout.filesPerBucket(spark, tbl) == 1.0)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  // Round-16 advice item: hidden/in-progress files (._* and _* committer
  // artifacts) are never read by a serve, so they must not count toward
  // the compaction trigger — a few strays grouped into the phantom -1
  // bucket could otherwise fire a nightly table rewrite over files that
  // cost no serve anything. VISIBLE non-bucketed strays DO count (they
  // are scanned), and a digit-run name that parses as a long forms its
  // own singleton group rather than joining the stray bucket.
  test("filesPerBucket ignores hidden/in-progress files; visible strays still count") {
    import graft.operators.{Dedup, TextOps}
    val docs = Tables.documents(spark, sf0001)
    val fp = docs.select(col("doc_id"),
      TextOps.fingerprint(col("text")).as("fp"))
    val dir = tmpDir("bhidden")
    val tbl = "graft_spec_hidden_strays"
    Dedup.writeKeyIndexBucketed(fp.select("fp"), "fp", s"$dir/t", tbl,
      numBuckets = 4)
    assert(Layout.filesPerBucket(spark, tbl) == 1.0)
    val base = java.nio.file.Paths.get(dir, "t")
    java.nio.file.Files.writeString(
      base.resolve("._in_progress_00001.parquet"), "x")
    java.nio.file.Files.writeString(base.resolve("_temp_00002.parquet"), "x")
    java.nio.file.Files.writeString(base.resolve(".hidden_00003.parquet"), "x")
    assert(Layout.filesPerBucket(spark, tbl) == 1.0,
      "hidden/in-progress files must not deepen any bucket")
    // a 13-digit (timestamp-style) trailing group parses fine and forms
    // its own singleton bucket — depth still 1
    java.nio.file.Files.writeString(
      base.resolve("stray_1700000000000.parquet"), "x")
    assert(Layout.filesPerBucket(spark, tbl) == 1.0)
    // visible strays with NO parseable trailing digits group into the -1
    // bucket and count: two of them make it the deepest
    java.nio.file.Files.writeString(base.resolve("straya.parquet"), "x")
    java.nio.file.Files.writeString(base.resolve("strayb.parquet"), "x")
    assert(Layout.filesPerBucket(spark, tbl) == 2.0,
      "visible unbucketed strays must count toward the trigger")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("LSH tier compaction: serve identical across append + compact") {
    import graft.operators.NearDup
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter($"source" =!= "src0" && $"source" =!= "src1")
    val day1 = docs.filter($"source" === "src1").select($"doc_id", $"text")
    val batch = docs.filter($"source" === "src0")
    val dir = tmpDir("lshcomp")
    val tbl = "graft_spec_compact_lsh"
    NearDup.writeBandIndexBucketed(corpus, "doc_id", "text", 3, s"$dir/t", tbl)
    NearDup.appendBandIndexBucketed(day1, "doc_id", "text", 3, tbl)
    val before = NearDup.incrementalNearDupPairsBucketed(batch, "doc_id",
        "text", 3, 0.3, tbl)
      .as[(Long, Long, Long, Double)].collect().toSet
    // the POLICY, one call per table: 1 append = 2 file sets/bucket —
    // under a threshold of 8 neither table fires; at 1 both do (and
    // compact to 1 file/bucket)
    def compactBoth(max: Int) = Seq("postings", "sets").map(t =>
      Layout.compactIfNeeded(spark, s"${tbl}_$t", max))
    assert(compactBoth(8) == Seq(None, None))
    val Seq(pFilesO, sFilesO) = compactBoth(1)
    val (pFiles, sFiles) = (pFilesO.getOrElse(fail("postings must fire")),
      sFilesO.getOrElse(fail("sets must fire")))
    assert(pFiles == 8 && sFiles == 8, s"($pFiles, $sFiles)")
    // idempotent: immediately after, 1 file/bucket no-ops even at 1
    assert(compactBoth(1) == Seq(None, None))
    val after = NearDup.incrementalNearDupPairsBucketed(batch, "doc_id",
        "text", 3, 0.3, tbl)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(after == before)
    assert(before.nonEmpty)
    Seq("postings", "sets").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_$t"))
  }

  test("variant tier policy: fires on all three tables past threshold, serve identical") {
    import graft.operators.EditDistanceJoin
    val c = Tables.customer(spark, sf0001)
    val dir = tmpDir("varpol")
    val tbl = "graft_spec_compact_var_policy"
    EditDistanceJoin.writeVariantIndexBucketed(
      c.filter($"c_custkey" % 3 =!= 0).select($"c_custkey", $"c_name"),
      "c_custkey", "c_name", 1, s"$dir/t", tbl, numBuckets = 4)
    EditDistanceJoin.appendVariantIndexBucketed(
      c.filter($"c_custkey" % 3 === 0)
        .select(($"c_custkey" + 1000000000L).as("c_custkey"), $"c_name"),
      "c_custkey", "c_name", tbl)
    val batch = c.filter($"c_custkey" % 3 === 0)
      .select($"c_custkey".as("did"), $"c_name".as("dname"))
    def serve = EditDistanceJoin.pairsAgainstIndexBucketed(
        batch, "did", "dname", 1, tbl)
      .collect().map(_.toString).toSet
    val before = serve
    assert(before.nonEmpty)
    // one call per table: 1 append = 2 file sets/bucket: no-op at 8,
    // all three fire at 1
    def compactAll(max: Int) = Seq("postings", "keys", "members").map(t =>
      Layout.compactIfNeeded(spark, s"${tbl}_$t", max))
    assert(compactAll(8) == Seq(None, None, None))
    val Seq(pO, kO, mO) = compactAll(1)
    assert(pO.nonEmpty && kO.nonEmpty && mO.nonEmpty, (pO, kO, mO))
    // idempotent, and nothing a serve can observe changed
    assert(compactAll(1) == Seq(None, None, None))
    assert(serve == before)
    Seq("postings", "keys", "members", "meta").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_$t"))
  }

  test("writeSharded + shardManifest: stable shards, order-independent checksum") {
    import spark.implicits._
    val out = s"${tmpDir("sharded")}/t"
    val d = Tables.documents(spark, sf0001).select("doc_id", "text")
    Layout.writeSharded(d, out, "doc_id", 4)
    val back = spark.read.parquet(out)
    assert(back.count() == d.count())
    def rowHash = graft.functions.md5hash60(
      concat_ws("|", col("doc_id").cast("string"), md5(col("text"))))
    val manifest = Layout.shardManifest(back, "shard", rowHash)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(manifest.map(_._1) == Seq(0L, 1L, 2L, 3L))
    assert(manifest.map(_._2).sum == d.count())
    // the manifest replays identically straight off the source frame
    // (no roundtrip), with the same shard derivation — order/layout of
    // the on-disk copy cannot perturb the XOR checksum
    val direct = Layout.shardManifest(
      d.withColumn("shard",
        pmod(graft.functions.md5hash60(col("doc_id").cast("string")), lit(4L))),
      "shard", rowHash)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(direct == manifest)
    // dropping one row changes that shard's count and checksum
    val dropped = Layout.shardManifest(
      back.filter(col("doc_id") =!= back.select(min("doc_id")).as[Long].head()),
      "shard", rowHash).as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(dropped != manifest)
  }

  test("writeClustered produces disjoint per-file key ranges") {
    val dir = tmpDir("clustered")
    Layout.writeClustered(Tables.customer(spark, sf0001), dir, 6, "c_custkey")
    val ranges = parquetFiles(dir).map { f =>
      val r = spark.read.parquet(f.getPath)
        .agg(min("c_custkey"), max("c_custkey")).head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    assert(ranges.size >= 2)
    ranges.sliding(2).foreach { case Seq((_, hi), (lo, _)) =>
      assert(hi < lo, s"overlapping file ranges: $ranges")
    }
    // a point lookup's matching range lives in exactly one file
    val key = ranges(ranges.size / 2)._1
    assert(ranges.count { case (lo, hi) => lo <= key && key <= hi } == 1)
  }

  test("writeZOrdered narrows per-file envelopes in BOTH dimensions") {
    // 256x256 uniform grid: the case where the z-curve's guarantee is
    // crisp (comparable bit-widths; z over the grid is a bijection onto
    // 0..65535, so range boundaries land on clean Morton blocks)
    val grid = spark.range(65536L)
      .selectExpr("id % 256 AS x", "id DIV 256 AS y")
    def envelopes(dir: String): Seq[(Long, Long, Long, Long)] =
      parquetFiles(dir).map { f =>
        val r = spark.read.parquet(f.getPath)
          .agg(min("x"), max("x"), min("y"), max("y")).head
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
    val zDir = tmpDir("zorder")
    Layout.writeZOrdered(grid, zDir, 16, "x", "y")
    assert(spark.read.parquet(zDir).count() == 65536L)
    val zEnv = envelopes(zDir)
    assert(zEnv.size >= 8)
    // both dimensions' average per-file span well below the global 255
    val avgX = zEnv.map(e => e._2 - e._1).sum.toDouble / zEnv.size
    val avgY = zEnv.map(e => e._4 - e._3).sum.toDouble / zEnv.size
    assert(avgX < 0.5 * 255, s"x spans not narrowed: $zEnv")
    assert(avgY < 0.5 * 255, s"y spans not narrowed: $zEnv")
    // a single-dimension predicate on EITHER column skips files
    assert(zEnv.count(e => e._1 <= 64 && 64 <= e._2) < zEnv.size)
    assert(zEnv.count(e => e._3 <= 64 && 64 <= e._4) < zEnv.size)
    // contrast: lexicographic clustering on (x, y) leaves y unpruned —
    // every file's y span is the full domain
    val lexDir = tmpDir("lex")
    Layout.writeClustered(grid, lexDir, 16, "x", "y")
    val lexEnv = envelopes(lexDir)
    val lexAvgY = lexEnv.map(e => e._4 - e._3).sum.toDouble / lexEnv.size
    assert(lexAvgY > 0.9 * 255, s"expected full y spans under lex sort: $lexEnv")
  }

  test("hilbert_order walks the full grid with every step Manhattan-adjacent") {
    // The curve's defining property: sorting a complete 32x32 grid by
    // the index visits every cell exactly once and every consecutive
    // pair of cells differs by exactly one step in exactly one dimension
    // (Morton order fails this at quadrant boundaries — the long
    // diagonal jumps are what Hilbert's tighter file envelopes remove).
    val n = 32
    val grid = (for (x <- 0 until n; y <- 0 until n) yield (x.toLong, y.toLong))
      .toSeq.toDF("x", "y")
    val walked = grid
      .select(col("x"), col("y"),
        graft.functions.hilbert_order(col("x"), col("y")).as("h"))
      .orderBy("h")
      .as[(Long, Long, Long)].collect()
    assert(walked.length == n * n)
    assert(walked.map(_._3).toSeq == (0L until (n * n).toLong)) // bijective prefix
    walked.sliding(2).foreach { case Array(a, b) =>
      assert(math.abs(a._1 - b._1) + math.abs(a._2 - b._2) == 1,
        s"non-adjacent step $a -> $b")
    }
    // SQL surface parity
    Graft.registerFunctions(spark)
    grid.createOrReplaceTempView("hgrid")
    val viaSql = spark.sql(
      "SELECT sum(hilbert_order(x, y)) FROM hgrid").as[Long].head()
    assert(viaSql == (0L until (n * n).toLong).sum)
    // low-16-bit masking: values >= 2^16 fold onto their low bits
    val m = grid.sparkSession.range(1).select(
      graft.functions.hilbert_order(lit(65536L + 3L), lit(5L)).as("a"),
      graft.functions.hilbert_order(lit(3L), lit(5L)).as("b"))
      .as[(Long, Long)].head()
    assert(m._1 == m._2)
  }

  // Appending NOTHING must change nothing: every tier's nightly job can
  // legitimately receive an empty accepted batch (a day where dedup
  // admitted no novel rows), and the verbs must neither corrupt the
  // standing tables nor disturb the serve output. Pins the empty-input
  // behavior of all three bucketed append verbs, including the variant
  // tier's novelty anti join (an empty batch yields an empty novel set —
  // the keys/postings writers see zero rows and the table's bucket spec
  // must still validate).
  test("append verbs: an empty batch leaves serve output unchanged") {
    import graft.operators.{Dedup, EditDistanceJoin, NearDup, TextOps}
    val dir = tmpDir("emptyapp")
    // exact tier
    val fp = Tables.documents(spark, sf0001).select(col("doc_id"),
      TextOps.fingerprint(col("text")).as("fp"))
    val corpus = fp.filter(col("doc_id") % 2 === 0)
    val batch = fp.filter(col("doc_id") % 2 =!= 0)
    Dedup.writeKeyIndexBucketed(corpus.select("fp"), "fp",
      s"$dir/fp", "graft_spec_empty_fp", numBuckets = 4)
    def srvFp = Dedup.incrementalAgainstIndex(batch, "fp",
      "graft_spec_empty_fp").collect().toSet
    val fp0 = srvFp
    Dedup.appendKeyIndexBucketed(batch.filter(lit(false)).select("fp"),
      "fp", "graft_spec_empty_fp")
    assert(srvFp == fp0)
    // LSH tier (empty batch flows through shingles + minhash + explode)
    val docs = Tables.documents(spark, sf0001)
    NearDup.writeBandIndexBucketed(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", 3, s"$dir/lsh", "graft_spec_empty_lsh",
      numBuckets = 4)
    def srvLsh = NearDup.incrementalNearDupPairsBucketed(
        docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", 3, 0.5,
        "graft_spec_empty_lsh").collect().toSet
    val lsh0 = srvLsh
    NearDup.appendBandIndexBucketed(docs.filter(lit(false)),
      "doc_id", "text", 3, "graft_spec_empty_lsh")
    assert(srvLsh == lsh0)
    // variant tier (empty batch exercises the novelty anti join too)
    val c = Tables.customer(spark, sf0001)
    EditDistanceJoin.writeVariantIndexBucketed(
      c.filter(col("c_custkey") % 2 === 0).select(col("c_custkey"), col("c_name")),
      "c_custkey", "c_name", 1, s"$dir/vr", "graft_spec_empty_vr",
      numBuckets = 4)
    val dirty = c.filter(col("c_custkey") % 2 =!= 0)
      .select(col("c_custkey").as("did"), col("c_name").as("dname"))
    def srvVr = EditDistanceJoin.pairsAgainstIndexBucketed(
      dirty, "did", "dname", 1, "graft_spec_empty_vr").collect().toSet
    val vr0 = srvVr
    EditDistanceJoin.appendVariantIndexBucketed(
      c.filter(lit(false)).select(col("c_custkey"), col("c_name")),
      "c_custkey", "c_name", "graft_spec_empty_vr")
    assert(srvVr == vr0)
    assert(fp0.nonEmpty && vr0.nonEmpty && lsh0.nonEmpty,
      "fixtures must serve something")
    Seq("graft_spec_empty_fp", "graft_spec_empty_lsh_postings",
      "graft_spec_empty_lsh_sets", "graft_spec_empty_vr_postings",
      "graft_spec_empty_vr_keys", "graft_spec_empty_vr_members",
      "graft_spec_empty_vr_meta").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  // Every standing tier writes through Layout.publishBucketed /
  // appendBucketed, so each bucketed table is published at one file per
  // bucket and an append adds at most one more. Eight shuffle partitions
  // with coalescing off keep the upstream partitions apart as they are
  // at real sizes; at fixture sizes AQE merges them into one, which
  // hides a writer that skips the pre-write repartition (such a writer
  // lays down one file per bucket per upstream partition: 8.0 here).
  test("every bucketed tier publishes one file per bucket and appends at most one more") {
    import graft.operators.{Dedup, EditDistanceJoin, NearDup, TextOps}
    val confs = Seq("spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val dir = tmpDir("onefile")
    val docs = Tables.documents(spark, sf0001)
    val fp = docs.select(col("doc_id"),
      TextOps.fingerprint(col("text")).as("fp"))
    val names = Tables.customer(spark, sf0001)
      .select(col("c_custkey"), col("c_name"))
    val even = col("doc_id") % 2 === 0
    val evenC = col("c_custkey") % 2 === 0
    val tables = Seq("fp", "lsh_postings", "lsh_sets", "vr_postings",
      "vr_keys", "vr_members").map(t => s"graft_spec_onefile_$t")
    def depths = tables.map(t => t -> Layout.filesPerBucket(spark, t))
    try {
      Dedup.writeKeyIndexBucketed(fp.filter(even).select("fp"), "fp",
        s"$dir/fp", "graft_spec_onefile_fp", numBuckets = 4)
      NearDup.writeBandIndexBucketed(docs.filter(even), "doc_id", "text", 3,
        s"$dir/lsh", "graft_spec_onefile_lsh", numBuckets = 4)
      EditDistanceJoin.writeVariantIndexBucketed(names.filter(evenC),
        "c_custkey", "c_name", 1, s"$dir/vr", "graft_spec_onefile_vr",
        numBuckets = 4)
      val published = depths
      assert(published.forall(_._2 == 1.0), published)
      Dedup.appendKeyIndexBucketed(Dedup.incrementalAgainstIndex(
          fp.filter(!even), "fp", "graft_spec_onefile_fp"),
        "fp", "graft_spec_onefile_fp")
      NearDup.appendBandIndexBucketed(docs.filter(!even), "doc_id", "text",
        3, "graft_spec_onefile_lsh")
      EditDistanceJoin.appendVariantIndexBucketed(names.filter(!evenC),
        "c_custkey", "c_name", "graft_spec_onefile_vr")
      val appended = depths
      assert(appended.forall(d => d._2 >= 1.0 && d._2 <= 2.0), appended)
    } finally {
      saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      (tables :+ "graft_spec_onefile_vr_meta").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("writeHilbertOrdered envelopes are at least as tight as Z-order's") {
    val grid = spark.range(65536L)
      .selectExpr("id % 256 AS x", "id DIV 256 AS y")
    def envelopes(dir: String): Seq[(Long, Long, Long, Long)] =
      parquetFiles(dir).map { f =>
        val r = spark.read.parquet(f.getPath)
          .agg(min("x"), max("x"), min("y"), max("y")).head
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
    def avgArea(env: Seq[(Long, Long, Long, Long)]): Double =
      env.map(e => (e._2 - e._1 + 1).toDouble * (e._4 - e._3 + 1)).sum / env.size
    val hDir = tmpDir("hilbert")
    Layout.writeHilbertOrdered(grid, hDir, 16, "x", "y")
    assert(spark.read.parquet(hDir).count() == 65536L)
    val hEnv = envelopes(hDir)
    val zDir = tmpDir("zorder2")
    Layout.writeZOrdered(grid, zDir, 16, "x", "y")
    val zEnv = envelopes(zDir)
    // Hilbert's adjacency keeps each file's bounding box no looser than
    // Morton's on the same grid/file count (strictly tighter when range
    // boundaries fall inside quadrants — the diagonal-jump case)
    assert(avgArea(hEnv) <= avgArea(zEnv) * 1.01,
      s"hilbert ${avgArea(hEnv)} vs zorder ${avgArea(zEnv)}")
    // and both dimensions stay narrowed
    assert(hEnv.map(e => e._2 - e._1).sum.toDouble / hEnv.size < 0.5 * 255)
    assert(hEnv.map(e => e._4 - e._3).sum.toDouble / hEnv.size < 0.5 * 255)
  }
}
