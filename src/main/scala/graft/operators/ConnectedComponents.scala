package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Distributed connected components over an undirected edge list, using the
  * alternating large-star / small-star algorithm (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14 — public literature; no
  * GraphX dependency). This is the principled, order-free replacement for
  * the reference's greedy driver-side clustering ([[GreedyCluster]]): edges
  * come from any similarity join, components are identified by their
  * minimum member id.
  *
  * Scale properties: every round is one window exchange per star step
  * plus a distinct — linear data movement, no driver materialization,
  * converges in O(log n) rounds even on path graphs (where plain
  * min-label propagation needs O(diameter)). Per-round `localCheckpoint`
  * truncates lineage so the plan doesn't grow exponentially. At 100 TB the
  * edge list is the only state, and star centers are load-balanced by the
  * large-star step.
  *
  * Small edge sets finish on the driver instead: when the normalized
  * edge checkpoint's row count (already observed, no extra job) is at
  * most 400k, the checkpoint is collected once and a min-root
  * union-find over primitive arrays emits the same (member -> root)
  * stars the loop converges to. Overhead, not compute, sets the loop's
  * cost at that size: ~5 jobs a round. The 400k cap is the measured
  * crossover with the loop's best case (see `DriverFinishMaxEdges`); the
  * size alone picks the path, no conf does. Labels are identical on
  * both paths.
  */
object ConnectedComponents {

  /** Both star steps cast `src`/`dst` to long at entry, so a direct
    * caller's ids meet the long-ids contract: without it, type coercion
    * against the steps' struct<s:bigint,d:bigint> arrays widens int ids
    * but carries decimal or double ids through. On long input the casts
    * are no-ops the optimizer removes.
    */
  private def asLongEdges(e: DataFrame): DataFrame =
    e.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))

  /** Both star steps hold a LOOP INVARIANT (round 18): every edge frame
    * entering a star step is NORMALIZED (src > dst on every row), and
    * both steps' OUTPUT rows are again normalized (each emitted row is
    * (x, m) with m < x — m is a min over a set containing something
    * smaller than x). Duplicate ROWS (not mis-oriented ones) may flow
    * between the steps — harmless to every min aggregate and to the
    * emitted edge SET; the one set-semantics consumer (the convergence
    * signature) sits behind [[smallStar]]'s retained output `distinct`.
    *
    * ROUND 19 (guide §2.4 "remove shuffles outright"): each star step is
    * ONE window aggregation instead of groupBy(min) + join. The round-18
    * agg+join form planned a genuinely shared exchange, but the executed
    * plan never shared it: the post-join `dst > src` filter is pushed
    * through the repartition into the join-probe subtree (differentiating
    * it from the aggregate's child), and `m` is consumed twice (join
    * build side + the union's m-branch) — so one round really ran ~8
    * shuffles + 3 broadcast builds (CcPlanProbe, round 19: executed
    * plan, 8 jobs a round). With `min(dst) over (partition by src)` the
    * step needs ONE hash(src) exchange, no join and no broadcast: both
    * output branches read the identical window subtree (their filters
    * reference non-partition columns, so they cannot be pushed below the
    * window, and the identical subtrees reuse one materialized stage),
    * and the window's ENSURE_REQUIREMENTS exchange stays AQE-coalescible
    * (scale-adaptive, guide §2). Per round: 3 exchanges total (two
    * window exchanges + the output distinct), 0 broadcasts, 4 jobs on
    * the final adaptive plan; ClusterSpec's "one star round" test pins
    * at most 3 exchanges, no broadcast and at most 5 jobs. Shuffle
    * bytes at scale drop too: the agg+join form re-shuffled the
    * symmetrized frame for the probe AND (partially aggregated) for each
    * m consumer. Skew posture is unchanged — the old join probe already
    * placed every row of a hot src in one partition; the window buffer
    * spills via ExternalAppendOnlyUnsafeRowBuffer.
    *
    * Labels are bit-identical: every round's OUTPUT SET is unchanged
    * (branch 1 emits exactly the old join branch's rows; branch 2 emits
    * (src, m) exactly for the srcs the old m-branch emitted, duplicates
    * tolerated as before). ClusterSpec + the five q_cluster_cc* oracle
    * rows pin it.
    */
  private[graft] def largeStar(e: DataFrame): DataFrame = {
    // invariant: e rows satisfy src > dst, so the two union halves are
    // disjoint orientations — no distinct exchange needed to symmetrize
    val l = asLongEdges(e)
    val sym = l.union(l.select(col("dst").as("src"), col("src").as("dst")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("src")
    // m(u) = min(u, min neighbor); mn kept so the m-branch can emit one
    // (src, m) per src without a second aggregate (rows achieving the
    // min — duplicates are tolerated downstream)
    // ONE pass over the window output: a union of two filtered branches
    // would re-read the (reused) exchange and re-run Sort+Window once per
    // branch — the conditional explode emits both branches' rows from a
    // single window evaluation instead (codegen generator, 0–2 structs a
    // row; explode drops empty arrays).
    val ann = sym.select(col("src"), col("dst"),
      min(col("dst")).over(w).as("mn"))
    val m = least(col("src"), col("mn"))
    ann.select(explode(concat(
        when(col("dst") > col("src"),
          array(struct(col("dst").as("s"), m.as("d"))))
          .otherwise(array().cast("array<struct<s:bigint,d:bigint>>")),
        when(col("dst") === col("mn"),
          array(struct(col("src").as("s"), m.as("d"))))
          .otherwise(array().cast("array<struct<s:bigint,d:bigint>>"))))
        .as("p"))
      .select(col("p.s").as("src"), col("p.d").as("dst"))
      .where(col("src") =!= col("dst"))
    // no output distinct: every emitted row has src > dst (m < the node it
    // labels), duplicates are tolerated by smallStar and removed by its
    // canonical output distinct before the signature reads the round
  }

  private[graft] def smallStar(e: DataFrame): DataFrame = {
    // invariant: input rows already satisfy src > dst (largeStar output or
    // the normalized initial frame) — no re-orientation; min(dst) < src
    // outright, so no least() with src is needed. Same one-window-exchange
    // shape as largeStar.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("src")
    // same one-pass conditional explode as largeStar (one Sort+Window
    // evaluation, no union re-read)
    val ann = asLongEdges(e).select(col("src"), col("dst"),
      min(col("dst")).over(w).as("m"))
    ann.select(explode(concat(
        array(struct(col("dst").as("s"), col("m").as("d"))),
        when(col("dst") === col("m"),
          array(struct(col("src").as("s"), col("m").as("d"))))
          .otherwise(array().cast("array<struct<s:bigint,d:bigint>>"))))
        .as("p"))
      .select(col("p.s").as("src"), col("p.d").as("dst"))
      .where(col("src") =!= col("dst"))
      // the round's one canonicalizing exchange: the signature compares
      // SETS, and the checkpoint that feeds the next round stays compact
      .distinct()
  }

  /** Eagerly checkpoint an edge frame and return it together with its
    * order-insensitive signature (row count + bit_xor of row hashes), for
    * convergence detection without an expensive `except`. The signature
    * rides the checkpoint's own materialization job as observed metrics
    * (CollectMetrics accumulators — optimization round 19): the previous
    * lazy-checkpoint + separate aggregate action re-ran a partial-agg,
    * a single-partition exchange and a collect job per round; this form
    * computes the identical (n, h) inside the materializing pass (probed:
    * 3 jobs → 2 per round-frame, identical values). bit_xor is
    * order-insensitive and cannot overflow under ANSI mode (unlike sum,
    * which throws on long overflow in Spark 4).
    */
  private def checkpointWithSignature(e: DataFrame): (DataFrame, (Long, Long)) = {
    val obs = org.apache.spark.sql.Observation()
    val cp = e.observe(obs,
        count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L)).as("h"))
      .localCheckpoint(true)
    val row = obs.get
    (cp, (row("n").asInstanceOf[Long], row("h").asInstanceOf[Long]))
  }

  /** vertices: single column `id`; edges: columns `src`, `dst` (long ids,
    * undirected, self-loops/duplicates tolerated). Returns (id, component)
    * where component is the minimum id in the vertex's component.
    */
  def run(vertices: DataFrame, edges: DataFrame, maxIter: Int = 25): DataFrame = {
    // ONE action per round (checkpointWithSignature): the convergence
    // signature rides the checkpoint's materialization as observed
    // metrics, so a round costs exactly its own exchanges plus one
    // result job — no separate aggregate action, no single-partition
    // signature exchange. The signature's count also answers the
    // initial is-empty question, so that separate action is gone too.
    // Normalize to src > dst BEFORE the loop — the star steps' invariant
    // (see largeStar). Same distinct exchange as before (mirrored pairs now
    // collapse here instead of inside round 1's symmetrize), same labels.
    var (e, sig) = checkpointWithSignature(edges.select(
        greatest(col("src").cast("long"), col("dst").cast("long")).as("src"),
        least(col("src").cast("long"), col("dst").cast("long")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct())
    if (sig._1 > 0L && sig._1 <= driverFinishCap.value.edges) e = driverStars(e)
    else {
      var converged = sig._1 == 0L
      var it = 0
      while (!converged && it < maxIter) {
        val (cp, next) = checkpointWithSignature(smallStar(largeStar(e)))
        e = cp
        converged = next == sig
        sig = next
        it += 1
      }
      require(converged, s"connected components did not converge in $maxIter rounds")
    }
    // e is now (member -> root) stars; isolated vertices map to
    // themselves.
    val ids = vertices.select(col("id").cast("long").as("id"))
    ids.join(e.select(col("src").as("id"), col("dst").as("comp")), Seq("id"), "left")
      .groupBy("id")
      .agg(min(col("comp")).as("mc"))
      .select(col("id"), coalesce(col("mc"), col("id")).as("component"))
  }

  /** Largest normalized edge set the driver finish takes: the measured
    * crossover. [[graft.tools.DriverCrossoverProbe]] times run() on both
    * paths; local[4] with 4 shuffle partitions on a 4-vCPU VM, median of
    * 5 (ms, driver finish / star loop):
    *
    * | edges | random graph, one giant component | disjoint 3-vertex paths (the loop's best case, 2 rounds) |
    * |---|---|---|
    * | 10k | 392 / 2239 | 312 / 755 |
    * | 100k | 763 / 4268 | 968 / 1804 |
    * | 200k | 1723 / 6837 | 1590 / 2045 |
    * | 400k | 2590 / 8267 | 2807 / 2750 |
    *
    * The paths tie near 400k edges on the loop's best case, where the
    * star frame's local relation costs about as much to plan and
    * broadcast as the loop's rounds (a second run on the same VM read
    * 2630 / 3015 there, every other cell within 15% of the table).
    *
    * No perfbench workload comes near the cap (a traced run's
    * `cc.run.shuffle_mb` stays under 0.3 MB, edge sets of tens of
    * thousands of rows at most), so the benchmark exercises only the
    * driver finish; ClusterSpec covers both paths.
    */
  private val DriverFinishMaxEdges = 400000L

  /** Largest input, in rows, the small-input driver paths take: the
    * batch side of the variant-index serves
    * ([[EditDistanceJoin.pairsAgainstIndexBucketed]],
    * [[EditDistanceJoin.repsAgainstIndexBucketed]]) and appends
    * ([[EditDistanceJoin.appendVariantIndexBucketed]],
    * [[Dedup.appendKeyIndexBucketed]]) and the batch edges of
    * [[incrementalAssign]] and [[mergeRepublish]]
    * ([[EditDistanceJoin.idPairs]] has its own budget,
    * [[IdPairsMaxPostings]]). At or under it the input is collected once
    * and the operation finishes on the driver, touching standing tables
    * only through broadcast probes; above it the distributed plan runs,
    * after the one bounded collect ([[smallRows]]) that found the input
    * too big.
    *
    * The cap is the measured crossover of the variant serve, the one
    * driver path whose cost grows fast with the batch: a batch key
    * brings ~250 variant hashes at maxDist 2, and each comes back from
    * `_postings` to the driver. [[graft.tools.DriverCrossoverProbe]]
    * `serve` times each operation on both paths against an 8,000-name
    * index at maxDist 2, the largest any query row uses; local[4] with
    * 4 shuffle partitions on a 4-vCPU VM, median of 5 (ms, driver path /
    * the distributed plan that runs above the cap, whose condensed CC
    * keeps [[run]]'s driver finish; the assign's input is the reps ∪
    * idPairs edges):
    *
    * | batch rows | reps serve | incrementalAssign (edges) | variant append | key append (novel rows) |
    * |---|---|---|---|---|
    * | 120 | 729 / 1042 | 203 / 566 (190) | 853 / 1401 | 291 / 387 (86) |
    * | 250 | 689 / 793 | 164 / 417 (411) | 1034 / 1227 | 282 / 392 (183) |
    * | 300 | 731 / 787 | 164 / 381 (491) | 973 / 1101 | 260 / 342 (213) |
    * | 375 | 820 / 775 | 124 / 298 (563) | 1039 / 1097 | 304 / 375 (284) |
    * | 500 | 837 / 562 | 129 / 326 (795) | 1218 / 1118 | 259 / 367 (355) |
    * | 1000 | 1694 / 815 | 147 / 392 (1555) | 2136 / 1120 | 294 / 413 (732) |
    * | 2000 | 3277 / 951 | 178 / 380 (3096) | 4178 / 1451 | 261 / 308 (1476) |
    *
    * The reps serve wins up to 300 rows and loses from 375 (earlier
    * runs read a tie at 300–375), and the condensed CC wins at every
    * size measured. The appends (`append`, a later run at the same settings, each
    * run into a fresh copy of the index and of a key index over the same
    * names) cross over no earlier: the variant append wins up to 300
    * rows, ties at 375 and loses from 500 (its postings, ~250 a novel
    * key, are built and written from the driver), and the key append,
    * one write task for a few hundred keys, wins at every size. So the
    * one cap sits at the serve's crossover, and the appends lose nothing
    * by sharing it. perfbench's daily batches (120 rows, ~100–330 edges)
    * fall under it, except the rare batch of more than 300 edges, whose
    * labels take the distributed plan.
    *
    * Re-measured with the variant driver paths on one kernel
    * (`EditDistanceJoin.DriverKeys`), `serve` and `append` at 120,300,375
    * rows: two runs each of the kernel and of the separate spellings at
    * `541abdf`, alternating on one 4-vCPU VM that read every path up to
    * 1.4x slower than the table (driver path ms, kernel / `541abdf`; the
    * 300- and 375-row batches are other draws than the table's):
    *
    * | batch rows | reps serve | variant append | key append |
    * |---|---|---|---|
    * | 120 | 806, 786 / 746, 1051 | 1098, 990 / 861, 1136 | 310, 299 / 418, 330 |
    * | 300 | 866, 899 / 838, 1038 | 1090, 984 / 1141, 1215 | 294, 282 / 284, 300 |
    * | 375 | 919, 1033 / 1073, 1101 | 1154, 1080 / 1168, 1193 | 295, 233 / 260, 281 |
    *
    * The reps serve still wins at 300 rows (866 / 882 and 899 / 923 ms
    * against its distributed plan) and loses at 375, so the cap stands.
    */
  private val DriverMaxRows = 300

  /** Largest input [[EditDistanceJoin.idPairs]] links on the driver, in
    * variant postings: the sum over its keyed rows of
    * [[EditDistanceJoin.postingsOf]] their code points, so the postings
    * the distributed plan would explode. Rows alone do not size the
    * work: a 20-character name brings ~20 postings at maxDist 1 and ~220
    * at maxDist 2.
    *
    * [[graft.tools.DriverCrossoverProbe]] `idpairs` times `idPairs` on
    * both paths over a checkpointed corpus of pseudo-word company names
    * (half new, the rest exact copies and 1–2-edit variants of earlier
    * rows); local[4] with 4 shuffle partitions on a 4-vCPU container,
    * median of 5 after each path is warmed until two consecutive runs
    * agree within 15% (ms, driver path / distributed plan):
    *
    * | maxDist | rows | postings (a row) | driver / distributed |
    * |---|---|---|---|
    * | 2 | 2,000 | 493,118 (246) | 525 / 1149 |
    * | 2 | 5,000 | 1,101,962 (220) | 836 / 1269 |
    * | 2 | 10,000 | 2,242,976 (224) | 1421 / 1610 |
    * | 2 | 20,000 | 4,538,016 (226) | 2480 / 2580 |
    * | 1 | 20,000 | 407,107 (20) | 342 / 598 |
    * | 1 | 50,000 | 1,012,669 (20) | 981 / 1111 |
    * | 1 | 100,000 | 2,039,382 (20) | 2060 / 1831 |
    * | 1 | 200,000 | 4,079,930 (20) | 5176 / 3081 |
    *
    * At maxDist 2 the paths tie near 4.5M postings; at maxDist 1, where
    * the same postings are ten times the rows and the per-row collect
    * dominates, between 1M and 2M. The budget sits at the lower one.
    * perfbench's inputs fall under it: `link_batch`'s ~1,900 keys at
    * maxDist 2 (~495k postings) and `daily_serve`'s corpus at maxDist 1
    * (~150k).
    */
  private val IdPairsMaxPostings = 1000000L

  /** The driver paths' caps: normalized edges for [[run]]'s driver
    * finish, input rows for the small-input paths ([[DriverMaxRows]]),
    * and postings for `idPairs` ([[IdPairsMaxPostings]]).
    */
  private[graft] final case class DriverCaps(edges: Long, rows: Int, postings: Long)

  /** The driver paths' caps on the current thread: [[DriverFinishMaxEdges]],
    * [[DriverMaxRows]] and [[IdPairsMaxPostings]] unless a spec or probe
    * overrides them. A seam, not a user option: it moves only the path
    * choices, never a conf, so the plans of other joins stay as they are.
    */
  private[graft] val driverFinishCap = new scala.util.DynamicVariable(
    DriverCaps(DriverFinishMaxEdges, DriverMaxRows, IdPairsMaxPostings))

  /** Runs `body` with every driver path off: CC runs it starts on this
    * thread take the star loop, and the serves, `idPairs` and the
    * condensed CC take their distributed plans.
    */
  private[graft] def onStarLoop[T](body: => T): T =
    driverFinishCap.withValue(DriverCaps(0L, 0, 0L))(body)

  /** `f` over `df`'s internal rows, run as one SQL execution, so the
    * driver paths' collects reach listeners and the UI like any action.
    */
  private def withRows[T](df: DataFrame)(f: RDD[InternalRow] => T): T = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(f(qe.toRdd))
  }

  /** `df`'s rows (copied) when their total `weight` is at most `budget`
    * (by default one a row against the row cap), else None: the one
    * bounded collect of every driver path. No job when the budget is 0,
    * or when `df`'s optimized plan is a local relation, whose rows are
    * answered from the plan. Otherwise partitions are read in waves, one
    * job each: the first 4x the default parallelism's partitions, each
    * later one 4x larger. (A first wave of the default parallelism alone
    * would cost a daily serve a second job: its edges are two local
    * frames' scans, one partition a core each, pinned as one frame.) A
    * task stops once its rows' weight passes the budget left after the
    * earlier waves, and the collect stops once the running weight passes
    * the budget, so an input over it costs one wave, not a read of every
    * partition. A task also stops once its rows pass its share of
    * `spark.driver.maxResultSize` (half of it, split over the wave's
    * tasks): a stopped task returns no rows, so no wave's results grow
    * with the partition count, and an input whose rows the driver could
    * not take runs the distributed plan instead of failing.
    */
  private[graft] def smallRows(df: DataFrame, budget: Long = driverFinishCap.value.rows,
                               weight: InternalRow => Long = _ => 1L)
      : Option[Array[InternalRow]] =
    if (budget <= 0) None
    else df.queryExecution.optimizedPlan match {
      case local: LocalRelation =>
        within(local.data.iterator, budget, Long.MaxValue, weight).map(_._1)
      case _ => withRows(df) { rdd =>
        val sc = rdd.sparkContext
        val maxResult = sc.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
        val out = Array.newBuilder[InternalRow]
        var total = 0L
        var from = 0
        var width = 4L * math.max(sc.defaultParallelism, 1)
        while (total <= budget && from < rdd.getNumPartitions) {
          val wave = from until math.min(from + width, rdd.getNumPartitions.toLong).toInt
          val left = budget - total
          val maxBytes = if (maxResult > 0) maxResult / 2 / wave.size else Long.MaxValue
          val got = sc.runJob(rdd,
            (rows: Iterator[InternalRow]) => within(rows, left, maxBytes, weight), wave)
          if (got.contains(None)) total = Long.MaxValue
          else got.foreach { case Some((rows, w)) => out ++= rows; total += w; case None => }
          from = wave.end
          width *= 4
        }
        if (total <= budget) Some(out.result()) else None
      }
    }

  /** `rows` (copied) and their total weight, or None once the weight
    * passes `left` or the rows' bytes (their unsafe size plus a row's
    * share of serialization) pass `maxBytes`.
    */
  private def within(rows: Iterator[InternalRow], left: Long, maxBytes: Long,
                     weight: InternalRow => Long): Option[(Array[InternalRow], Long)] = {
    val out = Array.newBuilder[InternalRow]
    var w = 0L
    var bytes = 0L
    while (rows.hasNext) {
      val r = rows.next()
      val rw = weight(r)
      bytes += (r match {
        case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow => u.getSizeInBytes
        case _ => 0
      }) + 32
      if (rw > left - w || bytes > maxBytes) return None
      w += rw
      out += r.copy()
    }
    Some((out.result(), w))
  }

  /** Every row of `df`, copied, in one collect. */
  private[graft] def collectRows(df: DataFrame): Array[InternalRow] =
    withRows(df)(_.map(_.copy()).collect())

  /** A local frame of internal rows under `schema` (names, types and
    * nullability as given).
    */
  private[graft] def localFrame(spark: SparkSession, schema: StructType,
                                rows: Seq[InternalRow]): DataFrame =
    DatasetBridge.ofRows(spark,
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** A local one-column relation `__probe` of `values`: the build side
    * of a broadcast probe of a standing table (no literal IN list, whose
    * physical planning grows with the list).
    */
  private[graft] def probeKeys(spark: SparkSession, dataType: DataType,
                               values: Seq[Any]): DataFrame =
    localFrame(spark, StructType(Seq(StructField("__probe", dataType,
      nullable = false))), values.map(InternalRow(_)))

  /** The rows of `standing` whose `column` holds one of `values`, in
    * `standing`'s column order: a left-semi broadcast join against
    * [[probeKeys]], collected.
    */
  private[graft] def probe(standing: DataFrame, column: String,
                           values: Seq[Any]): Array[InternalRow] =
    if (values.isEmpty) Array.empty
    else {
      val keys = probeKeys(standing.sparkSession,
        standing.schema(column).dataType, values)
      collectRows(standing.join(broadcast(keys),
        standing(column) === keys("__probe"), "left_semi"))
    }

  /** Min-root union-find over endpoint pairs `ends` (a0, b0, a1, b1, ...):
    * the sorted distinct ids, and each one's root index. Union links the
    * larger root under the smaller, so every root is its component's
    * minimum index — the minimum member id, since ids are sorted.
    */
  private def unionFind(ends: Array[Long]): (Array[Long], Array[Int]) = {
    val sorted = ends.clone()
    java.util.Arrays.sort(sorted)
    var m = 0
    var i = 0
    while (i < sorted.length) {
      if (m == 0 || sorted(i) != sorted(m - 1)) { sorted(m) = sorted(i); m += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(sorted, m)
    val parent = Array.range(0, m)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    i = 0
    while (i < ends.length) {
      val a = find(java.util.Arrays.binarySearch(ids, ends(i)))
      val b = find(java.util.Arrays.binarySearch(ids, ends(i + 1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      i += 2
    }
    (ids, Array.tabulate(m)(find))
  }

  /** Driver finish: collect the normalized edge checkpoint once (one job,
    * packed per partition into primitive arrays) and run [[unionFind]]
    * over it. Returns the (member -> root) star frame the star loop
    * converges to (roots omitted, as in the loop's output), so the final
    * vertex join is shared and labels are identical at any parallelism.
    */
  private def driverStars(e: DataFrame): DataFrame = {
    val ends = withRows(e)(_.mapPartitions { rows =>
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      rows.foreach { r => b += r.getLong(0); b += r.getLong(1) }
      Iterator.single(b.result())
    }.collect()).flatten
    val (ids, root) = unionFind(ends)
    val stars = ids.indices.iterator.filter(k => root(k) != k)
      .map(k => (ids(k), ids(root(k)))).toSeq
    e.sparkSession.createDataFrame(stars).toDF("src", "dst")
  }

  /** INCREMENTAL component assignment — the serve half of a standing
    * CC tier: a daily batch of new documents is labeled against frozen
    * component labels WITHOUT recomputing the corpus. The corpus's
    * internal connectivity is already condensed into its labels, so the
    * batch runs CC over the CONDENSED graph only: endpoints of batch
    * edges that hit standing members are replaced by their component
    * label (supernodes), then [[run]] executes over batch ids +
    * touched supernodes — cost scales with the batch and the components
    * it touches, never with the corpus (MEASURED: ScaleProbe
    * cc_assign_serve holds the batch fixed and grows the standing
    * corpus 4x/10x — serve time ratios 0.75x/0.82x post-pin (0.91x/1.02x pre-pin), flat; the full
    * recompute at the same sizes costs 1.5x more at 3:1 corpus:batch
    * and 3.3x more at 30:1).
    *
    * EXACTNESS vs a full recompute (min labels are associative): a
    * batch doc's full-graph component is batch members plus whole
    * standing components (standing edges never cross components), and
    * min(all members) = min(per-standing-component minima ∪ batch ids)
    * = min over condensed node ids — so the returned labels EQUAL what
    * [[run]] over the full graph would produce (parity-spec'd, and
    * q_cluster_cc_incremental's oracle IS the full-graph closure).
    *
    * Inputs: `standing` = (id, component) from a prior [[run]] over the
    * corpus — labels MUST be component-minimum member ids (exactly
    * [[run]]'s output; any other labeling, e.g. stable surrogate ids
    * from a relabeling pass, breaks exactness because raw batch ids are
    * compared against label values as minima. A `label <= id` guard is
    * folded into the condense join as a PARTIAL defense: it raises on
    * the first edge-touched standing row whose label EXCEEDS its id —
    * which catches surrogate-id labelings in practice — but a frame
    * whose labels satisfy label <= id without being true component
    * minima, e.g. component {5,6} labeled 4, passes the guard and
    * yields wrong components; the contract itself is the caller's to
    * honor); `batchVerts` = (id);
    * `batchEdges` = (src, dst) where at
    * least one endpoint is a batch id (pair the batch against the
    * corpus's standing variant/band index to get these without a corpus
    * scan — [[EditDistanceJoin.repsAgainstIndexBucketed]],
    * [[NearDup.incrementalNearDupPairsBucketed]]). Returns (id,
    * component) for the batch ids. Merged standing components are
    * visible to the caller as rows of the SAME output where a batch id
    * bridged them — a standing label L that merged downward appears as
    * the batch rows' smaller component value; corpus-side relabeling is
    * [[mergeRepublish]]'s job (the nightly re-publish), not the serve
    * path's.
    */
  def incrementalAssign(standing: DataFrame, batchVerts: DataFrame,
                        batchEdges: DataFrame): DataFrame = {
    val ids = batchVerts.select(col("id").cast("long").as("id"))
    def assign(cc: DataFrame) = ids.join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    condensedCc(standing, batchEdges) match {
      case Right(cc) => assign(cc)
      // driver path: a small batch's ids are labeled here too
      case Left(labels) =>
        val plan = assign(broadcast(labelFrame(standing.sparkSession, labels)))
        smallRows(ids).fold(plan)(rows => localFrame(plan.sparkSession,
          plan.schema, rows.toSeq.map { r =>
            if (r.isNullAt(0)) InternalRow(null, null)
            else InternalRow(r.getLong(0), labels.getOrElse(r.getLong(0), r.getLong(0)))
          }))
    }
  }

  /** CC over the CONDENSED graph (batch ids + standing component labels
    * touched by `batchEdges`) — the shared core of [[incrementalAssign]]
    * (serve: read off the batch ids) and [[mergeRepublish]] (re-publish:
    * read off the standing labels). Returns (id, component) for every
    * condensed node. The min-label standing contract gets a partial
    * runtime check here: `assert_true(label <= id)` rides inside the
    * condensed endpoint expression, so it cannot be pruned and costs one
    * comparison per matched edge endpoint — it flags label > id on
    * edge-touched rows only (see [[incrementalAssign]]'s contract note
    * for what it cannot catch).
    *
    * At most [[DriverMaxRows]] batch edges take [[driverCondensedCc]]
    * instead: the same condensed graph and labels, built on the driver
    * and returned as a Left map.
    */
  private def condensedCc(standing: DataFrame, batchEdges: DataFrame)
      : Either[Map[Long, Long], DataFrame] = {
    val lab = standing.select(col("id").cast("long").as("__sid"),
      col("component").cast("long").as("__slabel"))
    val edges = batchEdges.select(col("src").cast("long"), col("dst").cast("long"))
    smallRows(edges).fold[Either[Map[Long, Long], DataFrame]](
      Right(distributedCondensedCc(lab, edges)))(e => Left(driverCondensedCc(lab, e)))
  }

  /** The driver path's condensed labels as a local (id, component)
    * frame.
    */
  private def labelFrame(spark: SparkSession, labels: Map[Long, Long]): DataFrame =
    localFrame(spark,
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("component", LongType, nullable = false))),
      labels.iterator.map { case (id, c) => InternalRow(id, c) }.toSeq)

  private val MinLabelMessage =
    "incrementalAssign/mergeRepublish require min-label standing " +
      "components (label = min member id, ConnectedComponents.run's " +
      "output); found label > id"

  private def distributedCondensedCc(lab: DataFrame,
                                     edges: DataFrame): DataFrame = {
    def condense(e: DataFrame, end: String): DataFrame =
      e.join(lab, e(end) === col("__sid"), "left")
        // coalesce(assert_true(..), label): assert_true is NULL whenever
        // the check passes, so the coalesce evaluates to the label and
        // the guard survives column pruning. It fails loudly on the
        // detectable half of contract violations (label > id on an
        // edge-touched row — the surrogate-id mistake); label <= id
        // non-minimum labelings are undetectable per-row and stay the
        // caller's contract.
        .withColumn(end, coalesce(
          assert_true(col("__slabel").isNull || col("__slabel") <= col("__sid"),
            lit(MinLabelMessage)),
          col("__slabel"), col(end)))
        .drop("__sid", "__slabel")
    // PIN the condensed edges before handing them to run(): ce is
    // consumed at least twice per action — once as run()'s initial edge
    // frame and once through the vertex derivation below (run()
    // materializes `ids` in its final join) — and every UN-pinned
    // evaluation re-runs the whole upstream edge pipeline (the batch's
    // candidate join against the standing index) plus both condense
    // joins against the standing labels. ce is batch-bounded by the
    // serve contract (≤ |batchEdges| rows, condense is 1:1), so the
    // eager materialization is batch-scale; what it removes is
    // re-evaluation work whose cost is box-state-dependent (the
    // q_cluster_cc_incremental driver-window inflation — README noise
    // log, round 15, before/after stage profiles).
    val ce = condense(condense(edges, "src"), "dst").localCheckpoint(true)
    val verts = ce.select(col("src").as("id"))
      .unionByName(ce.select(col("dst").as("id")))
      .distinct()
    run(verts, ce)
  }

  /** [[condensedCc]] for collected batch edges: the standing labels of
    * the edges' endpoints come back through one broadcast probe, each
    * endpoint is replaced by its label (kept when it has none), and
    * [[unionFind]] labels the condensed graph. Same rules as the
    * distributed plan: an edge with a null endpoint joins nothing (its
    * other endpoint is still a node), and an edge-touched label > id
    * raises the min-label error. Returns (node -> component) for every
    * condensed node.
    */
  private def driverCondensedCc(lab: DataFrame,
                                edges: Array[InternalRow]): Map[Long, Long] = {
    val ends = edges.flatMap(r => (0 to 1).filterNot(r.isNullAt).map(r.getLong))
    val labels = probe(lab, "__sid", ends.distinct.toSeq)
      .groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.map { r =>
          if (r.isNullAt(1)) id
          else {
            require(r.getLong(1) <= id, MinLabelMessage)
            r.getLong(1)
          }
        }.distinct
      }
    // each edge links every condensed node its endpoints map to
    val pairs = new scala.collection.mutable.ArrayBuilder.ofLong
    edges.foreach { r =>
      val nodes = (0 to 1).filterNot(r.isNullAt).map(r.getLong)
        .flatMap(x => labels.getOrElse(x, Array(x)))
      nodes.foreach { n => pairs += nodes.head; pairs += n }
    }
    val (ids, root) = unionFind(pairs.result())
    ids.indices.iterator.map(k => ids(k) -> ids(root(k))).toMap
  }

  /** NIGHTLY RE-PUBLISH — the write half that completes the standing-CC
    * write-once/serve-many story: fold a served batch into the standing
    * labels, relabeling every standing component a batch id bridged, and
    * emit the NEW standing frame over corpus ∪ batch ids.
    *
    * Mechanics: rerun the condensed CC ([[condensedCc]] — the same graph
    * the serve ran, batch ids + touched supernodes), then (a) standing
    * rows join their component label against the condensed labels — a
    * label that merged downward carries its whole component to the new
    * minimum, an untouched label misses the join and keeps its rows
    * verbatim; (b) batch rows take their condensed label directly
    * ([[incrementalAssign]]'s own output). Cost therefore scales with
    * the batch for the CC part and ONE corpus-linear equi-join on the
    * label column for the relabel — never a corpus re-pairing.
    *
    * EXACTNESS: the full graph's components are whole standing
    * components plus batch ids; min labels are associative, so
    * min(full component) = min(condensed node ids) — each standing
    * member's new label is its old label's condensed component, which is
    * exactly what (a) computes. Output therefore EQUALS [[run]] over
    * corpus + batch (parity-spec'd including the fixpoint
    * serve → republish → serve ≡ one big run; oracled as
    * q_cluster_cc_republish with the full-graph recursive closure).
    * The output is again min-labeled, so it is a valid `standing` for
    * the next day's serve.
    */
  def mergeRepublish(standing: DataFrame, batchVerts: DataFrame,
                     batchEdges: DataFrame): DataFrame = {
    // the driver path's labels join like the distributed plan's, by
    // shuffle: a broadcast join would write the standing's own file
    // layout back and add the batch's partitions to it every night
    val cc = condensedCc(standing, batchEdges)
      .fold(labelFrame(standing.sparkSession, _).hint("merge"), identity)
    val relabeled = standing
      .select(col("id").cast("long").as("id"),
        col("component").cast("long").as("component"))
      .join(cc.select(col("id").as("component"),
        col("component").as("__new")), Seq("component"), "left")
      .select(col("id"), coalesce(col("__new"), col("component")).as("component"))
    val batchAssigned = batchVerts.select(col("id").cast("long").as("id"))
      .join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    relabeled.unionByName(batchAssigned)
  }

  /** Cluster-size distribution of a component assignment — the dedup
    * audit that says where the duplicate mass sits (a corpus where 1% of
    * clusters hold 50% of docs needs the survivorship policy reviewed; a
    * flat histogram says dedup is mostly exact-singleton noise). One row
    * per observed size: (cluster_size, n_clusters). Two map-side-
    * combinable hash aggregates — component keys then size keys, both
    * corpus-linear.
    */
  def sizeHistogram(comp: DataFrame,
                    componentCol: String = "component"): DataFrame =
    comp.groupBy(col(componentCol)).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
}
