package graft

import graft.operators.{ConnectedComponents, EditDistanceJoin, StandingIndex}
import graft.sources.Layout
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, ResolvedHint}
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicInteger

/** The small-input driver paths of the variant-index serves, `idPairs`
  * and the condensed CC against their distributed plans: every case runs
  * on both, and the two must agree on schema (names, types,
  * nullability) and on rows as a multiset.
  */
class DriverPathSpec extends SparkSpec {
  import spark.implicits._

  /** A driver path's result is a local relation; a distributed plan's
    * never is, so this tells which path a result came from.
    */
  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  /** mergeRepublish relabels the whole standing frame, so its driver
    * path is a plan too: one that joins the local labels the driver
    * computed.
    */
  private def joinsDriverLabels(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists {
      case ResolvedHint(_: LocalRelation, _) => true
      case _ => false
    }

  private def rowBag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  /** `result` on the driver path (the session default for these sizes)
    * and on the distributed plan, asserted to be the same frame; returns
    * the driver path's rows.
    */
  private def onBothPaths(what: String, onDriver: DataFrame => Boolean = isLocal)(
      result: => DataFrame): Map[Seq[Any], Int] = {
    val driver = result
    val distributed = ConnectedComponents.onStarLoop(result)
    assert(onDriver(driver), s"$what: the driver path was not taken")
    assert(!onDriver(distributed), s"$what: the distributed plan was not taken")
    assert(driver.schema == distributed.schema,
      s"$what: ${driver.schema.treeString} vs ${distributed.schema.treeString}")
    val rows = rowBag(driver)
    assert(rows == rowBag(distributed), s"$what: rows differ")
    rows
  }

  private val idTypes = Seq("int", "decimal(20,0)", "string")

  // standing dictionary: a duplicated key (three ids), astral-plane keys,
  // a null key, and names one or two edits apart
  private lazy val dictRows = Seq(
    (1L, "Acme GmbH"), (2L, "Acme GmbH"), (3L, "Acme GmbH"), (4L, "Umbrella Corp"),
    (5L, "x😀y"), (6L, "x😀😀y"), (7L, "Zzyzx Ltd"), (8L, null),
    (9L, "Müller AG"), (10L, "Initech"))

  // a batch: exact and edited copies of dictionary names, a duplicated
  // batch key, astral-plane keys one code point away, a null key, a name
  // found nowhere; ids above the dictionary's
  private lazy val batchRows = Seq(
    (101L, "Acme GmbH"), (102L, "Acme Gmbh"), (103L, "Acme Gmbh"), (104L, "Umbrela Corp"),
    (105L, "xy"), (106L, "x😁y"), (107L, null), (108L, "Muller AG"),
    (109L, "Nowhere Inc"), (110L, "Initec"), (111L, "Zzyzx Ltd."))

  private def frame(rows: Seq[(Long, String)], idType: String): DataFrame =
    rows.toDF("id", "name").select(col("id").cast(idType).as("id"), col("name"))

  private def dropIndex(prefix: String): Unit =
    Seq("postings", "keys", "members", "meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))

  test("variant-index serves: the driver path equals the distributed plan, before and after an append") {
    for (t <- idTypes) withClue(s"[$t ids] ") {
      val prefix = "graft_spec_driver_serve"
      val dir = java.nio.file.Files.createTempDirectory("graft_driver_serve").toString
      EditDistanceJoin.writeVariantIndexBucketed(frame(dictRows, t), "id", "name",
        2, dir, prefix)
      val batch = frame(batchRows, t)
      def serves(day: String): Unit = for (d <- Seq(1, 2)) {
        val reps = onBothPaths(s"$day reps maxDist=$d")(
          EditDistanceJoin.repsAgainstIndexBucketed(batch, "id", "name", d, prefix))
        val pairs = onBothPaths(s"$day pairs maxDist=$d")(
          EditDistanceJoin.pairsAgainstIndexBucketed(batch, "id", "name", d, prefix))
        assert(reps.nonEmpty && pairs.size > reps.size, s"$day maxDist=$d")
        onBothPaths(s"$day empty batch maxDist=$d")(
          EditDistanceJoin.pairsAgainstIndexBucketed(batch.limit(0), "id", "name", d,
            prefix))
      }
      serves("day 0")
      // x😁y is one code point from the standing x😀y
      assert(rowBag(EditDistanceJoin.repsAgainstIndexBucketed(batch, "id", "name", 1,
          prefix).select(col("left_key"), col("right_key")))
        .contains(Seq("x😁y", "x😀y")))
      // the day-1 slice: a novel key, an existing key under a new id, a
      // null key
      EditDistanceJoin.appendVariantIndexBucketed(
        frame(Seq((201L, "Nowhere Inc."), (202L, "Initech"), (203L, null)), t),
        "id", "name", prefix)
      serves("day 1")
      // the published max_dist still bounds the serve on the driver path
      val e = intercept[IllegalArgumentException](
        EditDistanceJoin.repsAgainstIndexBucketed(batch, "id", "name", 3, prefix))
      assert(e.getMessage.contains("holds <=2-deletion postings"), e.getMessage)
      dropIndex(prefix)
    }
  }

  test("the driver serve reads each standing table through a broadcast join, never a literal IN list") {
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    val prefix = "graft_spec_driver_probe"
    val dir = java.nio.file.Files.createTempDirectory("graft_driver_probe").toString
    EditDistanceJoin.writeVariantIndexBucketed(frame(dictRows, "int"), "id", "name",
      1, dir, prefix)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      EditDistanceJoin.pairsAgainstIndexBucketed(frame(batchRows, "int"), "id", "name",
        1, prefix).collect()
      drain()
    } finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    val probes = plans.asScala.filter(_.contains(s"$prefix")).toSeq
    for (table <- Seq("postings", "keys", "members"))
      assert(probes.exists(p => p.contains(s"${prefix}_$table") &&
        p.contains("BroadcastHashJoin")), s"no broadcast probe of $table:\n" +
        probes.mkString("\n----\n"))
    assert(!probes.exists(p => p.contains(" INSET ") || p.contains(" IN (")),
      probes.mkString("\n----\n"))
    dropIndex(prefix)
  }

  test("idPairs: the driver path equals the distributed plan") {
    for (t <- idTypes; d <- Seq(1, 2)) withClue(s"[$t ids, maxDist=$d] ") {
      val df = frame(dictRows ++ batchRows, t)
      val rows = onBothPaths("idPairs")(EditDistanceJoin.idPairs(df, "id", "name", d))
      // the duplicated key's intra-group pairs and an astral-plane pair
      assert(rows.size > 3)
      onBothPaths("empty")(EditDistanceJoin.idPairs(df.limit(0), "id", "name", d))
    }
    // a null id takes the distributed plan, whose null orientation rules
    // the driver path does not repeat
    val withNullId = frame(batchRows :+ ((0L, "Acme GmbH")), "int")
      .select(when(col("id") === 0, lit(null)).otherwise(col("id")).as("id"), col("name"))
    val got = EditDistanceJoin.idPairs(withNullId, "id", "name", 1)
    assert(!isLocal(got))
    assert(rowBag(got) ==
      rowBag(ConnectedComponents.onStarLoop(EditDistanceJoin.idPairs(withNullId, "id", "name", 1))))
  }

  test("incrementalAssign and mergeRepublish: the driver path equals the distributed plan") {
    // standing {1,2} label 1, {5,6} label 5, {8} alone
    val standingRows = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L), (8L, 8L))
    val vertRows = Seq(3L, 10L, 7L, 0L, 9L)
    val edgeRows = Seq((3L, 1L), (3L, 5L), (10L, 6L), (0L, 6L), (9L, 9L), (10L, 3L))
    for (t <- idTypes) withClue(s"[$t ids] ") {
      val standing = standingRows.toDF("id", "component")
        .select(col("id").cast(t).as("id"), col("component").cast(t).as("component"))
      val verts = vertRows.toDF("id").select(col("id").cast(t).as("id"))
      val edges = edgeRows.toDF("src", "dst")
        .select(col("src").cast(t).as("src"), col("dst").cast(t).as("dst"))
      val assigned = onBothPaths("incrementalAssign")(
        ConnectedComponents.incrementalAssign(standing, verts, edges))
      assert(assigned == Map(Seq(3L, 0L) -> 1, Seq(10L, 0L) -> 1, Seq(7L, 7L) -> 1,
        Seq(0L, 0L) -> 1, Seq(9L, 9L) -> 1))
      onBothPaths("mergeRepublish", joinsDriverLabels)(
        ConnectedComponents.mergeRepublish(standing, verts, edges))
      onBothPaths("empty incrementalAssign")(ConnectedComponents.incrementalAssign(
        standing, verts.limit(0), edges.limit(0)))
    }
    // null batch ids and null edge endpoints
    val standing = standingRows.toDF("id", "component")
    val verts = Seq(Some(3L), None, Some(11L)).toDF("id")
    val edges = Seq((Some(3L), Some(1L)), (Some(11L), None), (None, Some(5L)))
      .toDF("src", "dst")
    onBothPaths("null ids")(ConnectedComponents.incrementalAssign(standing, verts, edges))
    onBothPaths("null ids republish", joinsDriverLabels)(
      ConnectedComponents.mergeRepublish(standing, verts, edges))
  }

  test("nightly republishes on the driver path write as many files as the distributed plan") {
    // a broadcast relabel join would write the standing's own files back
    // and add the batch's partitions to them, night after night
    val dir = java.nio.file.Files.createTempDirectory("graft_driver_republish").toString
    val corpus = (1L to 400L).map(i => (i, i / 3)).toDF("id", "g")
    ConnectedComponents.run(corpus.select("id"),
        corpus.as("a").join(corpus.as("b"), $"a.g" === $"b.g" && $"a.id" < $"b.id")
          .select($"a.id".as("src"), $"b.id".as("dst")))
      .write.parquet(s"$dir/standing")
    /** Data files of each of three nights' standing frames. */
    def nights(name: String): Seq[Int] = {
      var from = s"$dir/standing"
      (1 to 3).map { night =>
        val ids = (1L to 40L).map(_ + 1000L * night)
        val to = s"$dir/${name}_$night"
        ConnectedComponents.mergeRepublish(spark.read.parquet(from), ids.toDF("id"),
            ids.map(i => (i, i * 7919 % 400 + 1)).toDF("src", "dst"))
          .write.parquet(to)
        from = to
        new java.io.File(to).listFiles().count(_.getName.endsWith(".parquet"))
      }
    }
    val driver = nights("driver")
    val distributed = ConnectedComponents.onStarLoop(nights("distributed"))
    assert(driver == distributed, s"files per night: driver $driver, distributed $distributed")
  }

  test("a label > id standing frame is refused on both paths") {
    val bad = Seq((1L, 2L), (2L, 2L)).toDF("id", "component")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    for (distributed <- Seq(false, true)) withClue(s"[distributed=$distributed] ") {
      def assign() = ConnectedComponents.incrementalAssign(bad, Seq(9L).toDF("id"),
        Seq((9L, 1L)).toDF("src", "dst")).collect()
      val e = intercept[Exception](
        if (distributed) ConnectedComponents.onStarLoop(assign()) else assign())
      assert(messages(e).exists(_.contains("require min-label standing components")),
        messages(e).mkString(" | "))
    }
  }

  /** Seeded pseudo-names: a standing dictionary and a 120-row batch of
    * exact copies, one-edit variants and new names.
    */
  private lazy val (syntheticDict, syntheticBatch) = {
    val rnd = new scala.util.Random(901)
    val syllables = Seq("ka", "ro", "vel", "ti", "bra", "mun", "se", "dor")
    def name(): String = (1 to 2 + rnd.nextInt(3))
      .map(_ => syllables(rnd.nextInt(syllables.size))).mkString.capitalize + " Ltd"
    val dict = (1L to 400L).map(i => (i, name()))
    val batch = (1L to 120L).map { i =>
      val base = dict(rnd.nextInt(dict.size))._2
      val k = rnd.nextInt(base.length)
      (10000L + i, rnd.nextInt(3) match {
        case 0 => base
        case 1 => base.substring(0, k) + base.substring(k + 1)
        case _ => name()
      })
    }
    (dict.toDF("id", "name"), batch.toDF("id", "name"))
  }

  /** Listener events are async: poll the counter until it is stable. */
  private def drain(counters: AtomicInteger*): Unit = {
    var last = Seq.empty[Int]; var stable = 0
    while (stable < 2) {
      Thread.sleep(150)
      val now = counters.map(_.get())
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }

  private def serveEdges(batch: DataFrame, prefix: String): DataFrame =
    EditDistanceJoin.repsAgainstIndexBucketed(batch, "id", "name", 1, prefix)
      .select(col("left_id").as("src"), col("right_rep_id").as("dst"))
      .unionByName(EditDistanceJoin.idPairs(batch, "id", "name", 1)
        .select(col("id_a").as("src"), col("id_b").as("dst")))

  test("one 120-row batch's serve (reps and idPairs, then incrementalAssign) runs in at most 9 jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val prefix = "graft_spec_driver_jobs"
    val dir = java.nio.file.Files.createTempDirectory("graft_driver_jobs").toString
    EditDistanceJoin.writeVariantIndexBucketed(syntheticDict, "id", "name", 1, dir, prefix)
    val standing = ConnectedComponents.run(syntheticDict.select("id"),
        EditDistanceJoin.idPairs(syntheticDict, "id", "name", 1)
          .select(col("id_a").as("src"), col("id_b").as("dst")))
      .localCheckpoint(true)
    val batch = syntheticBatch.localCheckpoint(true)
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def serve(): (Int, Set[(Long, Long)]) = {
      drain(jobs)
      val j0 = jobs.get()
      val labels = ConnectedComponents.incrementalAssign(standing, batch.select("id"),
        serveEdges(batch, prefix)).as[(Long, Long)].collect().toSet
      drain(jobs)
      (jobs.get() - j0, labels)
    }
    spark.sparkContext.addSparkListener(l)
    val ((driverJobs, driverLabels), (planJobs, planLabels)) =
      try (serve(), ConnectedComponents.onStarLoop(serve()))
      finally spark.sparkContext.removeSparkListener(l)
    assert(driverLabels == planLabels)
    assert(driverLabels.size == 120 && driverLabels.exists { case (id, c) => c < id })
    assert(driverJobs <= 9, s"$driverJobs jobs on the driver path")
    assert(driverJobs < planJobs, s"driver path $driverJobs jobs vs plan $planJobs")
    dropIndex(prefix)
  }

  test("serve -> assign -> republish is identical at 3 and at 4 shuffle partitions, on both paths") {
    val prefix = "graft_spec_driver_det"
    val dir = java.nio.file.Files.createTempDirectory("graft_driver_det").toString
    EditDistanceJoin.writeVariantIndexBucketed(syntheticDict, "id", "name", 1, dir, prefix)
    val standing = ConnectedComponents.run(syntheticDict.select("id"),
        EditDistanceJoin.idPairs(syntheticDict, "id", "name", 1)
          .select(col("id_a").as("src"), col("id_b").as("dst")))
      .localCheckpoint(true)
    val batch = syntheticBatch.localCheckpoint(true)
    /** Order-insensitive hash of a frame's rows. */
    def hashOf(df: DataFrame): Int = df.collect().map(_.toString).sorted.toSeq.hashCode
    def sequence(): Seq[Int] = {
      val edges = serveEdges(batch, prefix).localCheckpoint(true)
      Seq(hashOf(edges),
        hashOf(ConnectedComponents.incrementalAssign(standing, batch.select("id"), edges)),
        hashOf(ConnectedComponents.mergeRepublish(standing, batch.select("id"), edges)))
    }
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    val hashes = try {
      for (parts <- Seq(3, 4); distributed <- Seq(false, true)) yield {
        spark.conf.set(key, parts.toString)
        (parts, distributed) ->
          (if (distributed) ConnectedComponents.onStarLoop(sequence()) else sequence())
      }
    } finally spark.conf.set(key, saved)
    assert(hashes.map(_._2).distinct.size == 1, hashes.mkString("\n"))
    dropIndex(prefix)
  }

  test("one data-file predicate: every walk skips committer and checksum files alike") {
    val dir = java.nio.file.Files.createTempDirectory("graft_datafiles")
    Seq(1, 2).toDF("x").coalesce(1).write.parquet(dir.resolve("src").toString)
    val data = java.nio.file.Files.list(dir.resolve("src")).iterator()
    val part = Iterator.continually(data.next())
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val bytes = java.nio.file.Files.readAllBytes(part)
    def put(rel: String, content: Array[Byte]): Unit = {
      val p = dir.resolve("idx").resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, content)
    }
    put("part-00000.parquet", bytes)
    put("_SUCCESS", Array.emptyByteArray)
    put(".part-00000.parquet.crc", Array[Byte](1, 2, 3))
    put(".part-00000.parquet.tmp", bytes)
    put("nested/part-00001.parquet", bytes)
    val idx = dir.resolve("idx").toString
    val recursive = StandingIndex.listDataFiles(spark, idx).map(_.getName).sorted
    assert(recursive == Seq("part-00000.parquet", "part-00001.parquet"))
    assert(StandingIndex.dirDataBytes(spark, idx) == 2L * bytes.length)
    assert(StandingIndex.parquetRowCount(spark, idx) == 4L)
    // the one-level walk counts the top-level data file only
    assert(Layout.dataFileCount(spark, idx) == 1)
    assert(Layout.dataFileCount(spark, s"$idx/nested") == 1)
  }
}
