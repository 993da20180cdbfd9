package graft

import graft.operators.{ConnectedComponents, Dedup, EditDistanceJoin, StandingIndex}
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
    withNullIds(rows.map { case (i, n) => (Option(i), n) }, idType)

  /** `frame` whose rows may carry a null id (None). */
  private def withNullIds(rows: Seq[(Option[Long], String)], idType: String): DataFrame =
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
      // plus null ids: one in the duplicated batch key, and one alone
      // under a key one edit from a standing name, which matches nothing
      // on either path (its key has no gid)
      val batch = withNullIds(batchRows.map { case (i, n) => (Option(i), n) } ++
        Seq((None, "Acme Gmbh"), (None, "Umbrella Corp.")), t)
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

  /** The variant index's three tables and the key index's one. */
  private def indexTables(prefix: String): Seq[String] =
    Seq("postings", "keys", "members").map(t => s"${prefix}_$t") :+ s"${prefix}_fp"

  /** Both indexes published from `dict` under `prefix`. */
  private def publishBoth(dict: DataFrame, maxDist: Int, dir: String,
                          prefix: String): Unit = {
    EditDistanceJoin.writeVariantIndexBucketed(dict, "id", "name", maxDist,
      s"$dir/$prefix", prefix)
    Dedup.writeKeyIndexBucketed(dict, "name", s"$dir/${prefix}_fp", s"${prefix}_fp")
  }

  /** The day's fold into both indexes, as a daily job runs it: the
    * batch's novel rows come to the driver first, then both appends.
    */
  private def appendBoth(day: DataFrame, prefix: String): Unit = {
    val novel = heldOnDriver(Dedup.incrementalAgainstIndex(day, "name", s"${prefix}_fp"))
    EditDistanceJoin.appendVariantIndexBucketed(day, "id", "name", prefix)
    Dedup.appendKeyIndexBucketed(novel, "name", s"${prefix}_fp")
  }

  /** `df` collected and handed back as a local frame. */
  private def heldOnDriver(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  private def dropBoth(prefix: String): Unit = {
    dropIndex(prefix)
    spark.sql(s"DROP TABLE IF EXISTS ${prefix}_fp")
  }

  test("index appends: the driver path lands the same rows and files as the distributed plan") {
    for (t <- idTypes) withClue(s"[$t ids] ") {
      val dir = java.nio.file.Files.createTempDirectory("graft_driver_append").toString
      // one index per path, published alike
      val (driver, distributed) = ("graft_spec_append_driver", "graft_spec_append_plan")
      Seq(driver, distributed).foreach(publishBoth(frame(dictRows, t), 2, dir, _))
      // day 1, a local frame: the serve batch (a duplicated batch key,
      // an existing key under a new id, a null key, astral-plane keys)
      // plus keys whose ids are all null, one of them astral
      val day1 = withNullIds(batchRows.map { case (i, n) => (Option(i), n) } ++
        Seq((None, "Ghost Co"), (None, "Ghost Co"), (None, "x😀z")), t)
      // day 2, a checkpoint (its rows come back in a job): an all-null
      // key of day 1 under a real id, an existing astral key, a new name
      val day2 = frame(Seq((301L, "Ghost Co"), (302L, "x😀y"), (303L, "Brand New")), t)
        .localCheckpoint(true)
      for ((label, day) <- Seq("day 1" -> day1, "day 2" -> day2,
                               "empty" -> day1.limit(0))) withClue(s"$label: ") {
        appendBoth(day, driver)
        ConnectedComponents.onStarLoop(appendBoth(day, distributed))
        for ((d, p) <- indexTables(driver).zip(indexTables(distributed))) {
          assert(rowBag(spark.table(d)) == rowBag(spark.table(p)), d)
          assert(Layout.filesPerBucket(spark, d) == Layout.filesPerBucket(spark, p), d)
        }
        for (dist <- Seq(1, 2)) {
          def reps(prefix: String) = rowBag(EditDistanceJoin.repsAgainstIndexBucketed(
            frame(batchRows, t), "id", "name", dist, prefix))
          def pairs(prefix: String) = rowBag(EditDistanceJoin.pairsAgainstIndexBucketed(
            frame(batchRows, t), "id", "name", dist, prefix))
          assert(reps(driver) == reps(distributed), s"reps maxDist=$dist")
          assert(pairs(driver) == pairs(distributed), s"pairs maxDist=$dist")
        }
        def novel(prefix: String) = rowBag(Dedup.incrementalAgainstIndex(
          frame(batchRows, t), "name", s"${prefix}_fp"))
        assert(novel(driver) == novel(distributed))
      }
      // the appends reached the serves: day 2's new name matches itself;
      // day 1's all-null keys stand with a null gid, which Ghost Co keeps
      // when day 2 brings it a real id (novelty is by key)
      assert(rowBag(EditDistanceJoin.pairsAgainstIndexBucketed(day2, "id", "name", 1,
          driver).select(col("left_key"), col("right_key"))).contains(Seq("Brand New", "Brand New")))
      assert(rowBag(spark.table(s"${driver}_keys").filter(col("gid").isNull)
        .select("key")).keySet == Set(Seq("Ghost Co"), Seq("x😀z")))
      Seq(driver, distributed).foreach(dropBoth)
    }
  }

  test("an index append fails whole, naming the table whose catalog entry is gone, on both paths") {
    val dict = frame(dictRows, "int")
    val batch = frame(batchRows, "int")
    val prefix = "graft_spec_append_gone"
    for (table <- indexTables(prefix); distributed <- Seq(false, true))
      withClue(s"[$table, distributed=$distributed] ") {
        val dir = java.nio.file.Files.createTempDirectory("graft_append_gone").toString
        publishBoth(dict, 1, dir, prefix)
        val members = spark.table(s"${prefix}_members").count()
        // an external table: the drop keeps its files
        spark.sql(s"DROP TABLE $table")
        def append(): Unit =
          if (table.endsWith("_fp")) Dedup.appendKeyIndexBucketed(batch, "name", table)
          else EditDistanceJoin.appendVariantIndexBucketed(batch, "id", "name", prefix)
        val e = intercept[org.apache.spark.sql.AnalysisException](
          if (distributed) ConnectedComponents.onStarLoop(append()) else append())
        assert(e.getMessage.contains(s"`$table`"), e.getMessage)
        assert(e.getSuppressed.forall(!_.getMessage.contains(s"`$table`")))
        // the concurrent appends ran to completion before the failure
        // surfaced: with `_keys` gone, `_members` still took the batch
        if (table.endsWith("_keys"))
          assert(spark.table(s"${prefix}_members").count() == members + batchRows.count(_._2 != null))
        dropBoth(prefix)
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
  }

  test("idPairs with null ids: the driver path orients and skips them as the distributed plan does") {
    // null ids in both duplicated groups of a verified cross pair (Acme
    // GmbH, gid 1, and Acme Gmbh, gid 102), so each side of it carries a
    // null; Zzyzx Ltd. under a null id only, so its key has no gid and
    // never pairs with Zzyzx Ltd; and a key of two null ids
    val rows = (dictRows ++ batchRows).map {
      case (111L, n) => (None, n)
      case (i, n) => (Option(i), n)
    } ++ Seq((None, "Acme GmbH"), (None, "Acme Gmbh"), (None, "Ghost Co"), (None, "Ghost Co"))
    for (t <- idTypes) {
      val Seq(one, seven, oneOhTwo) = frame(Seq((1L, ""), (7L, ""), (102L, "")), t)
        .collect().toSeq.map(_.get(0))
      for (d <- Seq(1, 2)) withClue(s"[$t ids, maxDist=$d] ") {
        val got = onBothPaths("idPairs")(
          EditDistanceJoin.idPairs(withNullIds(rows, t), "id", "name", d))
        // a null on the smaller gid's side gives (y, null), one on the
        // larger's (null, x), one on each (null, null)
        for (p <- Seq(Seq(oneOhTwo, null), Seq(null, one), Seq(null, null)))
          assert(got.contains(p), s"$p in ${got.keys}")
        // the cross pair's 2 + 4 + 1 null-holding pairs and no others:
        // intra-group pairs skip null ids
        assert(got.filter(_._1.contains(null)).values.sum == 7, got.keys)
        assert(!got.keys.exists(_.contains(seven)), got.keys)
      }
    }
  }

  /** Over 300 keyed rows: the synthetic dictionary, then the hand-made
    * rows (duplicated keys, astral-plane keys, null keys) under ids past
    * it, a null id in a duplicated key, and a key of two null ids.
    */
  private def overRowCap(idType: String): DataFrame = withNullIds(
    syntheticDict.as[(Long, String)].collect().toSeq.map { case (i, n) => (Option(i), n) } ++
      (dictRows ++ batchRows).map { case (i, n) => (Option(i + 100000L), n) } ++
      Seq((None, "Acme Gmbh"), (None, "Ghost Co"), (None, "Ghost Co")), idType)

  /** The postings `idPairs` counts for `df`'s keys at maxDist `d`. */
  private def postingsIn(df: DataFrame, d: Int): Long =
    df.select("name").as[Option[String]].collect().flatten
      .map(n => EditDistanceJoin.postingsOf(n.codePointCount(0, n.length), d)).sum

  test("idPairs above the row cap and within the postings budget: the driver path equals the distributed plan at 3 and 4 shuffle partitions") {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try for (t <- idTypes; d <- Seq(1, 2)) withClue(s"[$t ids, maxDist=$d] ") {
      val df = overRowCap(t).localCheckpoint(true)
      assert(df.filter(col("name").isNotNull).count() > 300)
      val byParts = for (parts <- Seq(3, 4)) yield {
        spark.conf.set(key, parts.toString)
        onBothPaths(s"idPairs, $parts shuffle partitions")(
          EditDistanceJoin.idPairs(df, "id", "name", d))
      }
      assert(byParts.distinct.size == 1)
      // intra-group, null-holding and astral-plane pairs all reach it
      val got = byParts.head
      assert(got.keys.exists(_.contains(null)) && got.size > 20, got.size)
      val Seq(five, six) = frame(Seq((100005L, ""), (100006L, "")), t)
        .collect().toSeq.map(_.get(0))
      assert(got.contains(Seq(five, six)), "x😀y ~ x😀😀y")
    } finally spark.conf.set(key, saved)
  }

  test("idPairs takes the driver path up to its postings budget and the distributed plan past it") {
    val df = overRowCap("int").localCheckpoint(true)
    for (d <- Seq(1, 2)) withClue(s"[maxDist=$d] ") {
      val postings = postingsIn(df, d)
      def at(budget: Long) = ConnectedComponents.driverFinishCap.withValue(
          ConnectedComponents.driverFinishCap.value.copy(postings = budget))(
        EditDistanceJoin.idPairs(df, "id", "name", d))
      assert(isLocal(at(postings)), s"$postings postings, budget $postings")
      assert(!isLocal(at(postings - 1)), s"$postings postings, budget ${postings - 1}")
      assert(rowBag(at(postings)) == rowBag(at(postings - 1)))
    }
    // a flooded key: 120 rows bring 360 postings at maxDist 1, but 7,140
    // intra-group pairs, which the driver does not hold
    val flood = frame((1L to 120L).map(i => (i, "ab")), "int").localCheckpoint(true)
    val budget = ConnectedComponents.driverFinishCap.value.copy(postings = postingsIn(flood, 1))
    val pairs = ConnectedComponents.driverFinishCap.withValue(budget)(
      EditDistanceJoin.idPairs(flood, "id", "name", 1))
    assert(!isLocal(pairs) && pairs.count() == 120 * 119 / 2)
  }

  test("idPairs on the driver path collects its input in one job, and a local frame in none") {
    val pinned = syntheticDict.localCheckpoint(true)
    assert(pinned.rdd.getNumPartitions <= spark.sparkContext.defaultParallelism)
    for (d <- Seq(1, 2)) withClue(s"[maxDist=$d] ") {
      assert(jobsIn(assert(isLocal(EditDistanceJoin.idPairs(pinned, "id", "name", d)))) == 1)
      assert(jobsIn(assert(isLocal(EditDistanceJoin.idPairs(syntheticDict, "id", "name", d)))) == 0)
    }
  }

  test("idPairs over 200 partitions takes the distributed plan under a 1m spark.driver.maxResultSize") {
    import org.apache.spark.graftbridge.ContextConfBridge
    val df = spark.range(0L, 200000L, 1L, 200).select(col("id"), col("id").cast("string").as("name"))
    ContextConfBridge.withConf(spark.sparkContext, "spark.driver.maxResultSize", "1m") {
      // the plan itself runs more tasks than this limit takes results of
      assert(!isLocal(EditDistanceJoin.idPairs(df, "id", "name", 1)))
    }
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

  /** Spark jobs started while `body` runs. */
  private def jobsIn(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      drain(jobs)
      val j0 = jobs.get()
      body
      drain(jobs)
      jobs.get() - j0
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("smallRows answers a local frame from its plan with no job, under and over the cap") {
    val under = (1 to 5).toDF("x").select(($"x" * 2).as("x"))
    val over = (1 to 301).toDF("x")
    var rows: Option[Seq[Int]] = None
    assert(jobsIn {
      rows = ConnectedComponents.smallRows(under).map(_.map(_.getInt(0)).toSeq)
      assert(ConnectedComponents.smallRows(over).isEmpty)
    } == 0)
    assert(rows.contains(Seq(2, 4, 6, 8, 10)))
    // any other plan's rows come back in one job
    val pinned = under.localCheckpoint(true)
    assert(jobsIn(assert(ConnectedComponents.smallRows(pinned).map(_.length).contains(5))) == 1)
  }

  test("one 120-row batch's index appends run in at most 6 jobs (variant) and 1 job (key)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_driver_append_jobs").toString
    val (driver, distributed) = ("graft_spec_append_jobs", "graft_spec_append_jobs_plan")
    Seq(driver, distributed).foreach(publishBoth(syntheticDict, 1, dir, _))
    // the batch as a daily job reads it (its rows come back in a job),
    // and its novel rows as the driver holds them after the key serve
    val batch = syntheticBatch.localCheckpoint(true)
    val novel = heldOnDriver(Dedup.incrementalAgainstIndex(batch, "name", s"${driver}_fp"))
    def appends(prefix: String): (Int, Int) =
      (jobsIn(EditDistanceJoin.appendVariantIndexBucketed(batch, "id", "name", prefix)),
        jobsIn(Dedup.appendKeyIndexBucketed(novel, "name", s"${prefix}_fp")))
    val (driverVar, driverKey) = appends(driver)
    val (planVar, planKey) = ConnectedComponents.onStarLoop(appends(distributed))
    for ((d, p) <- indexTables(driver).zip(indexTables(distributed)))
      assert(rowBag(spark.table(d)) == rowBag(spark.table(p)), d)
    info(s"jobs, driver path / distributed plan: variant append $driverVar / $planVar, " +
      s"key append $driverKey / $planKey")
    // the variant append's 6: the batch collect, the `_members` probe's
    // broadcast and its collect (a broadcast join against a local
    // relation runs its own job in Spark 4.1.2), and the three writes
    assert(driverVar <= 6, s"$driverVar jobs for the variant append on the driver path")
    assert(driverKey == 1, s"$driverKey jobs for the key append on the driver path")
    assert(driverVar < planVar, s"variant append: driver path $driverVar jobs vs plan $planVar")
    assert(driverKey < planKey, s"key append: driver path $driverKey jobs vs plan $planKey")
    Seq(driver, distributed).foreach(dropBoth)
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
