package graft

import graft.operators.{ConnectedComponents, GreedyCluster}
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

class GreedyClusterSpec extends SparkSpec {
  import spark.implicits._

  test("matches CPython simulation of solutionTwo on the counterparty fixture") {
    // Ground truth generated by running the reference's algorithm
    // (solutionTwo.py:37-78) with difflib under CPython 3.11.
    val rows = Seq(
      (1, "Acme GmbH", "DE1"), (2, "Acme GmbH.", "DE2"), (3, "ACME Gmbh", "DE3"),
      (4, "Umbrella Corp", "GB1"), (5, "Umbrela Corp", "GB2"), (6, "Acme GmbH", "DE4"),
      (7, "Zzyzx Ltd", "IT1"), (8, "Umbrella Corporation", "GB3")
    ).toDF("ord", "name", "alt")
    val got = GreedyCluster.cluster(rows, "name", "alt", "ord")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val expected = Seq(
      ("Acme GmbH", "Acme GmbH,Acme GmbH.", "DE1,DE2,DE4"),
      ("ACME Gmbh", "ACME Gmbh", "DE3"),
      ("Umbrella Corp", "Umbrela Corp,Umbrella Corp", "GB1,GB2"),
      ("Zzyzx Ltd", "Zzyzx Ltd", "IT1"),
      ("Umbrella Corporation", "Umbrella Corporation", "GB3"))
    assert(got.toSeq == expected)
  }

  // Production substitution rule (README operator table): faithful mode is
  // the reference-parity fixture path ONLY; at corpus scale the fail-fast
  // must fire BEFORE the collect and point the user at the CC path.
  test("cluster fails fast over maxRows and the message names ConnectedComponents") {
    val big = spark.range(10).select(
      concat(lit("n"), col("id")).as("name"), lit("a").as("alt"),
      col("id").as("ord"))
    val e = intercept[IllegalArgumentException] {
      GreedyCluster.cluster(big, "name", "alt", "ord", maxRows = 5L)
    }
    assert(e.getMessage.contains("ConnectedComponents"),
      s"fail-fast must name the scale substitute: ${e.getMessage}")
  }

  test("q_cluster_greedy_multi's constructed frame really is multi-cluster") {
    // The query exists to exercise the oracle's key-creation path past the
    // single-cluster supplier fixture; pin that the 8-char group-tag
    // prefix construction actually yields one cluster per suppkey%3 group
    // (3 on the TPC-H fixture) so a fixture regeneration that collapses
    // them fails HERE with a named reason, not in the driver compare.
    val got = SparkEntry.queries("q_cluster_greedy_multi")(spark, sf0001).collect()
    assert(got.length == 3, got.mkString(";"))
    // Every member of a cluster carries the cluster key's group tag: the
    // prefixes really did partition the similarity graph.
    got.foreach { r =>
      val tag = r.getString(0).take(8)
      assert(r.getString(1).split(",").forall(_.startsWith(tag)), r.toString)
    }
  }

  test("multi-assign: a row similar to two keys joins both clusters") {
    // 'abcd' seeds, 'wxyz' seeds, 'abcx'... construct keys where a later row
    // is >80 similar to two existing keys.
    val rows = Seq(
      (1, "aaaaaaaabb", "x1"), (2, "bbaaaaaaaa", "x2"), (3, "baaaaaaaab", "x3")
    ).toDF("ord", "name", "alt")
    val got = GreedyCluster.cluster(rows, "name", "alt", "ord").collect()
    // sim(key1, row3) = sim(key2, row3) = 90 > 80 -> appears in both clusters
    val containing = got.count(_.getString(1).contains("baaaaaaaab"))
    assert(containing == 2, got.mkString(";"))
  }
}

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def unionFind(n: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap(n.map(x => x -> x): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    n.map(x => x -> find(x)).toMap
  }

  /** The parity cases run on both CC paths: the session default, where
    * these small edge sets finish on the driver, and the star loop.
    */
  private def onBothPaths(body: => Unit): Unit = {
    withClue("[driver finish] ")(body)
    withClue("[star loop] ")(ConnectedComponents.onStarLoop(body))
  }

  /** Listener events are async and the bus API is private[spark]: drain
    * by polling the counters until they are stable twice over.
    */
  private def drain(counters: AtomicInteger*): Unit = {
    var last = Seq.empty[Int]; var stable = 0
    while (stable < 2) {
      Thread.sleep(150)
      val now = counters.map(_.get())
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }

  test("CC matches union-find on random graphs (seeded)") {
    onBothPaths {
      val rnd = new scala.util.Random(7)
      for (trial <- 1 to 3) {
        val n = 60 + trial * 40
        val ids = (0L until n.toLong)
        val edges = (0 until n * 2).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        val got = ConnectedComponents.run(
          ids.toDF("id"), edges.toDF("src", "dst"))
          .as[(Long, Long)].collect().toMap
        val expected = unionFind(ids, edges)
        // canonicalize: component labels must equal min member id
        assert(got == expected, s"trial $trial")
      }
    }
  }

  test("CC on a path graph (worst case for plain label propagation)") {
    onBothPaths {
      val n = 200L
      val ids = (0L until n)
      val edges = (0L until n - 1).map(i => (i, i + 1))
      val got = ConnectedComponents.run(ids.toDF("id"), edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(got.values.toSet == Set(0L))
    }
  }

  test("isolated vertices are their own component") {
    onBothPaths {
      val got = ConnectedComponents.run(
        Seq(1L, 2L, 3L).toDF("id"), Seq((1L, 2L)).toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    }
  }

  test("self-loops and duplicate edges only") {
    onBothPaths {
      // all self-loops: the normalized edge set is empty
      val loops = Seq((1L, 1L), (2L, 2L), (2L, 2L))
      assert(ConnectedComponents.run(Seq(1L, 2L, 3L).toDF("id"),
          loops.toDF("src", "dst")).as[(Long, Long)].collect().toMap ==
        Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
      // repeated and mirrored copies of two edges among self-loops
      val edges = Seq((2L, 3L), (3L, 2L), (2L, 3L), (4L, 4L), (6L, 5L),
        (5L, 6L), (6L, 6L), (6L, 5L))
      val ids = 1L to 7L
      val got = ConnectedComponents.run(ids.toDF("id"), edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(got == unionFind(ids, edges))
      assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 4L, 5L -> 5L,
        6L -> 5L, 7L -> 7L))
    }
  }

  test("the edge count alone picks the path: no star round under the cap, whatever the broadcast bounds") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val n = 200L
    val ids = (0L until n).toDF("id")
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    val jobs = new AtomicInteger(0)
    // a star round is the only CC query with a window (the star steps'
    // min over partition by src)
    val rounds = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("Window") => rounds.incrementAndGet()
        case _ =>
      }
    }
    def profile(body: => Unit): (Int, Int) = {
      drain(jobs, rounds)
      val (j0, r0) = (jobs.get(), rounds.get())
      body
      drain(jobs, rounds)
      (jobs.get() - j0, rounds.get() - r0)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      def labels() = ConnectedComponents.run(ids, edges).as[(Long, Long)].collect()
      val (driverJobs, driverRounds) = profile(assert(labels().forall(_._2 == 0L)))
      val (loopJobs, loopRounds) = profile(
        ConnectedComponents.onStarLoop(assert(labels().forall(_._2 == 0L))))
      assert(driverRounds == 0, s"$driverRounds star rounds under the cap")
      assert(loopRounds >= 1, "no star round on the star loop")
      assert(driverJobs < loopJobs, s"driver finish $driverJobs jobs vs loop $loopJobs")
      // turning broadcast joins off is no reason to leave the driver finish
      val bounds = Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold")
      val saved = bounds.map(k => k -> spark.conf.getAll.get(k))
      bounds.foreach(spark.conf.set(_, "-1"))
      val (_, noBroadcastRounds) =
        try profile(assert(labels().forall(_._2 == 0L)))
        finally saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      assert(noBroadcastRounds == 0, s"$noBroadcastRounds star rounds with broadcast off")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("incrementalAssign equals the full recompute: bridge merge, attach, isolated") {
    onBothPaths {
      import org.apache.spark.sql.functions.col
      // standing corpus: components {1,2} (label 1) and {5,6} (label 5)
      val corpusVerts = Seq(1L, 2L, 5L, 6L).toDF("id")
      val corpusEdges = Seq((1L, 2L), (5L, 6L)).toDF("src", "dst")
      val standing = ConnectedComponents.run(corpusVerts, corpusEdges)
      // batch: 3 bridges the two standing components; 10 attaches to {5,6};
      // 7 is isolated; 0 attaches to {5,6} and is SMALLER than the label
      val batchVerts = Seq(3L, 10L, 7L, 0L).toDF("id")
      val batchEdges = Seq((3L, 1L), (3L, 5L), (10L, 6L), (0L, 6L))
        .toDF("src", "dst")
      val got = ConnectedComponents
        .incrementalAssign(standing, batchVerts, batchEdges)
        .as[(Long, Long)].collect().toMap
      // full recompute over the whole graph gives the ground truth
      val full = ConnectedComponents.run(
          corpusVerts.unionByName(batchVerts),
          corpusEdges.unionByName(batchEdges))
        .as[(Long, Long)].collect().toMap
      assert(got == full.filter(kv => Set(3L, 10L, 7L, 0L)(kv._1)))
      // the merge + the smaller-than-label batch id: everything touching
      // {5,6} or the bridge collapses to min id 0
      assert(got(3L) == 0L && got(10L) == 0L && got(0L) == 0L)
      assert(got(7L) == 7L)

      // seeded random graph: parity on every batch vertex
      val rng = new scala.util.Random(7)
      val n = 60
      val allEdges = (1 to 80).map(_ =>
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong)).filter(e => e._1 != e._2)
      val (corpusIds, batchIds) = (0L until n).partition(_ % 4 != 0)
      val cE = allEdges.filter(e =>
        corpusIds.contains(e._1) && corpusIds.contains(e._2))
      val bE = allEdges.filter(e =>
        batchIds.contains(e._1) || batchIds.contains(e._2))
      val st = ConnectedComponents.run(corpusIds.toDF("id"), cE.toDF("src", "dst"))
      val inc = ConnectedComponents.incrementalAssign(
          st, batchIds.toDF("id"), bE.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      val fullR = ConnectedComponents.run(
          (0L until n).toDF("id"), allEdges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      batchIds.foreach { b =>
        assert(inc(b) == fullR(b), s"batch vertex $b: ${inc(b)} vs ${fullR(b)}")
      }
    }
  }

  test("mergeRepublish equals the full recompute over corpus + batch") {
    onBothPaths {
      // bridge fixture: batch 3 bridges {1,2} and {5,6}; 0 attaches below
      // the label; 7 isolated — the republished standing must relabel BOTH
      // bridged components to the new minimum 0
      val corpusVerts = Seq(1L, 2L, 5L, 6L).toDF("id")
      val corpusEdges = Seq((1L, 2L), (5L, 6L)).toDF("src", "dst")
      val standing = ConnectedComponents.run(corpusVerts, corpusEdges)
      val batchVerts = Seq(3L, 10L, 7L, 0L).toDF("id")
      val batchEdges = Seq((3L, 1L), (3L, 5L), (10L, 6L), (0L, 6L))
        .toDF("src", "dst")
      val got = ConnectedComponents
        .mergeRepublish(standing, batchVerts, batchEdges)
        .as[(Long, Long)].collect().toMap
      val full = ConnectedComponents.run(
          corpusVerts.unionByName(batchVerts),
          corpusEdges.unionByName(batchEdges))
        .as[(Long, Long)].collect().toMap
      assert(got == full)
      // every corpus member of the bridged components really relabeled
      assert(Seq(1L, 2L, 5L, 6L).forall(got(_) == 0L))

      // seeded random graph: republish parity on EVERY vertex
      val rng = new scala.util.Random(11)
      val n = 60
      val allEdges = (1 to 80).map(_ =>
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong)).filter(e => e._1 != e._2)
      val (corpusIds, batchIds) = (0L until n).partition(_ % 4 != 0)
      val cE = allEdges.filter(e =>
        corpusIds.contains(e._1) && corpusIds.contains(e._2))
      val bE = allEdges.filter(e =>
        batchIds.contains(e._1) || batchIds.contains(e._2))
      val st = ConnectedComponents.run(corpusIds.toDF("id"), cE.toDF("src", "dst"))
      val rep = ConnectedComponents.mergeRepublish(
          st, batchIds.toDF("id"), bE.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      val fullR = ConnectedComponents.run(
          (0L until n).toDF("id"), allEdges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(rep == fullR)
    }
  }

  test("fixpoint: serve -> republish -> serve equals one big run") {
    onBothPaths {
      // day 0 corpus, day 1 batch folded in by republish, day 2 batch
      // served against the REPUBLISHED standing: labels must equal the
      // single full run over all three days — the write-once/serve-many
      // contract composed across days.
      val rng = new scala.util.Random(23)
      val n = 90
      val allEdges = (1 to 130).map(_ =>
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong)).filter(e => e._1 != e._2)
      val day0 = (0L until n).filter(_ % 3 == 0)
      val day1 = (0L until n).filter(_ % 3 == 1)
      val day2 = (0L until n).filter(_ % 3 == 2)
      def within(ids: Seq[Long]) = allEdges.filter(e =>
        ids.contains(e._1) && ids.contains(e._2))
      val e0 = within(day0)
      // day-1 edges: both endpoints in day0 ∪ day1, at least one in day1
      val e1 = within(day0 ++ day1).filterNot(e0.contains)
      val e2 = allEdges.filterNot(e => day2.forall(d => e._1 != d && e._2 != d))
      val st0 = ConnectedComponents.run(day0.toDF("id"), e0.toDF("src", "dst"))
      val st1 = ConnectedComponents.mergeRepublish(
        st0, day1.toDF("id"), e1.toDF("src", "dst"))
      val served2 = ConnectedComponents.incrementalAssign(
          st1, day2.toDF("id"), e2.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      val full = ConnectedComponents.run(
          (0L until n).toDF("id"),
          (e0 ++ e1 ++ e2).toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      day2.foreach { b =>
        assert(served2(b) == full(b), s"day-2 vertex $b: ${served2(b)} vs ${full(b)}")
      }
      // and the republished frame itself is min-labeled (valid next-day
      // standing): label <= id everywhere, every label is a member id
      val st1m = st1.as[(Long, Long)].collect().toMap
      assert(st1m.forall { case (id, c) => c <= id })
      assert(st1m.values.toSet.subsetOf(st1m.keySet))
    }
  }

  test("mergeRepublish with an empty batch returns the standing frame verbatim") {
    val standing = ConnectedComponents.run(
      Seq(1L, 2L, 5L).toDF("id"), Seq((1L, 2L)).toDF("src", "dst"))
    val got = ConnectedComponents.mergeRepublish(standing,
        spark.emptyDataset[Long].toDF("id"),
        Seq.empty[(Long, Long)].toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 5L))
  }

  test("non-min-label standing frames are rejected, not silently mislabeled") {
    // standing {1,2} labeled with a SURROGATE id 2 (not the min member):
    // the condense-join guard must raise, because comparing raw batch
    // ids against such labels as minima would produce wrong merges
    val badStanding = Seq((1L, 2L), (2L, 2L)).toDF("id", "component")
    val e = intercept[Exception] {
      ConnectedComponents.incrementalAssign(badStanding,
        Seq(9L).toDF("id"), Seq((9L, 1L)).toDF("src", "dst"))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("min-label")),
      s"guard must name the contract: ${messages(e).mkString(" | ")}")
  }

  test("day-N lifecycle end-to-end: day-2 edges come from the APPENDED variant index") {
    // The round-12 fixpoint test proved serve -> republish -> serve ≡
    // one big run with caller-SUPPLIED edge frames; this closes the last
    // gap by generating every cross-day edge from the standing artifacts
    // themselves: day-1 edges from the day-0 variant index, then the
    // index grows by appendVariantIndexBucketed (no corpus rebuild), and
    // day-2 edges come from the APPENDED index — the true write-once/
    // serve-many day-N loop, checked against one full run over all days.
    import graft.operators.EditDistanceJoin
    val c = Tables.customer(spark, sf0001)
    def slice(m: Long) = c.filter($"c_custkey" % 3 === m)
      .select($"c_custkey", $"c_name")
    val day0 = slice(1L); val day1 = slice(2L); val day2 = slice(0L)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"c_custkey".as("id"))
    def intraEdges(df: org.apache.spark.sql.DataFrame) =
      EditDistanceJoin.idPairs(df, "c_custkey", "c_name", 1)
        .select($"id_a".as("src"), $"id_b".as("dst"))
    def crossEdges(df: org.apache.spark.sql.DataFrame, prefix: String) =
      EditDistanceJoin.repsAgainstIndexBucketed(
          df, "c_custkey", "c_name", 1, prefix)
        .select($"left_id".as("src"), $"right_rep_id".as("dst"))
        .unionByName(intraEdges(df))
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_day2").toString
    val prefix = "graft_spec_cc_day2"
    // day 0: full publish (labels + index)
    val st0 = ConnectedComponents.run(ids(day0), intraEdges(day0))
    EditDistanceJoin.writeVariantIndexBucketed(day0, "c_custkey", "c_name",
      1, dir, prefix)
    // day 1: serve edges from the index, fold labels in, APPEND the index
    val st1 = ConnectedComponents.mergeRepublish(st0, ids(day1),
      crossEdges(day1, prefix))
    EditDistanceJoin.appendVariantIndexBucketed(day1, "c_custkey", "c_name",
      prefix)
    // day 2: serve from the appended index + republished labels ONLY
    val served2 = ConnectedComponents.incrementalAssign(st1, ids(day2),
        crossEdges(day2, prefix))
      .as[(Long, Long)].collect().toMap
    val full = ConnectedComponents.run(
        ids(c), intraEdges(c.select($"c_custkey", $"c_name")))
      .as[(Long, Long)].collect().toMap
    val day2Ids = day2.select($"c_custkey").as[Long].collect()
    assert(day2Ids.nonEmpty)
    day2Ids.foreach { b =>
      assert(served2(b) == full(b), s"day-2 vertex $b: ${served2(b)} vs ${full(b)}")
    }
    Seq("postings", "keys", "members", "meta").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
  }

  test("star-step outputs keep the normalized src > dst loop invariant") {
    // The round-18 exchange removals rely on every frame ENTERING a star
    // step being normalized (src > dst on each row); nothing inside the
    // steps re-establishes it. This pins the contract: starting from a
    // normalized frame, each step's OUTPUT (= the next step's input) is
    // itself normalized, so the invariant holds inductively round after
    // round. A future edit feeding a star step from an un-normalized
    // source breaks this spec before it breaks the oracle.
    val raw = Seq((1L, 7L), (7L, 3L), (3L, 9L), (9L, 2L), (5L, 5L),
      (8L, 4L), (4L, 8L), (10L, 6L)).toDF("src", "dst")
    val e0 = raw.select(
        greatest($"src", $"dst").as("src"), least($"src", $"dst").as("dst"))
      .where($"src" =!= $"dst").distinct().localCheckpoint(false)
    def assertNormalized(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val bad = df.where($"src" <= $"dst").count()
      assert(bad == 0L, s"$tag emitted $bad rows with src <= dst")
    }
    var e = e0
    (1 to 3).foreach { round =>
      val ls = ConnectedComponents.largeStar(e)
      assertNormalized(ls, s"largeStar round $round")
      val ss = ConnectedComponents.smallStar(ls)
      assertNormalized(ss, s"smallStar round $round")
      e = ss.localCheckpoint(false)
    }
  }

  test("one star round: at most 3 shuffle exchanges, no broadcast, at most 5 jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    // The round-19 shape of one largeStar + smallStar round: each step is
    // one window exchange, plus smallStar's output distinct. The agg+join
    // form it replaced ran ~8 shuffles, 3 broadcast builds and 8 jobs a
    // round while its static plan looked shared, so this reads the FINAL
    // adaptive plan. Input: a 2,000-edge binary tree, normalized and
    // checkpointed the way run() feeds the loop.
    val e0 = (1L to 2000L).map(i => (i, math.max(i / 2, 1L))).toDF("src", "dst")
      .select(greatest($"src", $"dst").as("src"), least($"src", $"dst").as("dst"))
      .where($"src" =!= $"dst").distinct().localCheckpoint(false)
    val round = ConnectedComponents.smallStar(ConnectedComponents.largeStar(e0))
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    val roundJobs = try {
      drain(jobs)
      val j0 = jobs.get()
      // collect() drives this frame's own adaptive plan to its final form
      round.collect()
      drain(jobs)
      jobs.get() - j0
    } finally spark.sparkContext.removeSparkListener(l)
    val plan = round.queryExecution.executedPlan
    assert(plan.toString.contains("isFinalPlan=true"), plan)
    // query stages unwrap to their exchanges; a ReusedExchangeExec is a
    // leaf, so a reused stage is not counted twice
    val helper = new AdaptiveSparkPlanHelper {}
    val shuffles = helper.collect(plan) { case s: ShuffleExchangeExec => s }
    val broadcasts = helper.collect(plan) { case b: BroadcastExchangeExec => b }
    assert(shuffles.size <= 3, s"${shuffles.size} shuffle exchanges:\n$plan")
    assert(broadcasts.isEmpty, s"${broadcasts.size} broadcast exchanges:\n$plan")
    assert(roundJobs <= 5, s"$roundJobs jobs for one round:\n$plan")
  }

  test("star steps take int and decimal src/dst and emit long ids") {
    // direct callers (probes, specs) may hand the steps non-long ids;
    // both steps cast at entry, so the output keeps the long-ids contract
    // (without the cast, type coercion widens int ids to long but carries
    // decimal ids through as decimals)
    val ints = Seq((7, 1), (3, 1), (9, 3), (8, 4)).toDF("src", "dst")
    val longs = ints.select($"src".cast("long"), $"dst".cast("long"))
    val wantLarge = ConnectedComponents.largeStar(longs).as[(Long, Long)].collect().toSet
    val wantSmall = ConnectedComponents.smallStar(longs).as[(Long, Long)].collect().toSet
    for (t <- Seq("int", "decimal(20,0)")) {
      val e = ints.select($"src".cast(t).as("src"), $"dst".cast(t).as("dst"))
      val ls = ConnectedComponents.largeStar(e)
      val ss = ConnectedComponents.smallStar(e)
      Seq(ls, ss).foreach { df =>
        assert(df.schema.fields.map(_.dataType.typeName).toSeq == Seq("long", "long"), t)
      }
      assert(ls.as[(Long, Long)].collect().toSet == wantLarge, t)
      assert(ss.as[(Long, Long)].collect().toSet == wantSmall, t)
    }
  }

  test("sizeHistogram counts clusters per size") {
    // components: {1,2,3}, {4,5}, {6}, {7} -> sizes 3:1, 2:1, 1:2
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 6L), (7L, 7L)).toDF("id", "component")
    val got = ConnectedComponents.sizeHistogram(comp)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(3L -> 1L, 2L -> 1L, 1L -> 2L))
  }
}
