package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Levenshtein-threshold self-join (the reference's J2,
  * /root/reference/solutionThree.py:20 — fuzzy-link rows whose keys are
  * within edit distance k; the reflexive pair is intentionally included,
  * matching the reference).
  *
  * Two physically different but RESULT-IDENTICAL strategies:
  *
  *  - [[Naive]]: non-equi theta join — Catalyst plans a
  *    BroadcastNestedLoopJoin, O(n²) `levenshtein` evaluations. The
  *    reference's shape; fine below ~10^4 rows, unusable at 100 TB.
  *
  *  - [[DeletionNeighborhood]] (SymSpell-style, the scale path): if
  *    lev(a,b) <= k then deleting the <=k edited characters from each side
  *    reaches a COMMON string (the matched subsequence of any optimal
  *    alignment — subs+dels <= k removed from a, subs+ins <= k from b). So
  *    exploding each key into its <=k-deletion neighborhood and equi-joining
  *    on the variant yields a guaranteed SUPERSET of the true pairs, which a
  *    final exact `levenshtein` filter reduces to exactly the naive result.
  *    All heavy work is shuffle-on-key equi-join + hash aggregate — linear
  *    data movement, AQE-handled skew, no cartesian anywhere: the shape that
  *    survives a 1000-executor 100 TB run.
  *
  * Equivalence of the two strategies is asserted in EditDistanceJoinSpec.
  */
object EditDistanceJoin {

  sealed trait Strategy
  case object Naive extends Strategy
  case object DeletionNeighborhood extends Strategy

  /** All ≤k-deletion variants of s (including s itself), distinct: the
    * reference spelling of [[deletionVariantHashes]], kept for its
    * property spec and the superset property in EditDistanceJoinSpec.
    *
    * Deletions remove whole CODE POINTS, not UTF-16 units: Spark's and
    * DuckDB's `levenshtein` count code points, so a supplementary-plane
    * character (e.g. an emoji) is ONE edit — deleting only one of its two
    * UTF-16 units would cost the variant generator two deletions and break
    * the candidate-superset guarantee (regression-tested with astral-plane
    * pairs in EditDistanceJoinSpec).
    */
  private[graft] def deletionVariants(s: String, k: Int): Array[String] = {
    def delete(t: String, cpIndex: Int): String = {
      val start = t.offsetByCodePoints(0, cpIndex)
      val end = t.offsetByCodePoints(start, 1)
      t.substring(0, start) + t.substring(end)
    }
    val seen = mutable.LinkedHashSet(s)
    var frontier: Set[String] = Set(s)
    var d = 0
    while (d < k) {
      frontier = frontier.flatMap { t =>
        (0 until t.codePointCount(0, t.length)).iterator
          .map(i => delete(t, i))
          .filterNot(seen.contains)
          .toSet
      }
      seen ++= frontier
      d += 1
    }
    seen.toArray
  }

  /** FNV-1a 64-bit over UTF-16 units: each deletion variant's narrow
    * join key, spelled over a whole string as the reference for
    * [[deletionVariantHashes]]' running form. The only property needed
    * is determinism; a collision only ADDS a candidate pair, which the
    * exact levenshtein verify then removes.
    */
  private[graft] def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** The ≤k-deletion neighborhood of s as DISTINCT 64-bit hashes.
    *
    * Hashing inside the generator (instead of exploding variant strings
    * and hashing per-row) keeps the explode output at 8 bytes per
    * variant: for an 18-char key at k=2 that is ~170 longs instead of
    * ~170 17-char strings per input row — the exploded table is the
    * join's shuffle input, so this is the dominant byte-count lever.
    * Dedup on the hash is exact enough: two distinct variants of the SAME
    * row that collide would have produced identical join keys anyway, so
    * emitting the hash once loses no candidate.
    *
    * No variant string is built: each deletion combination's hash comes
    * from a running [[fnv1a64]] prefix state into a pre-sized long[],
    * which is then sorted and made unique, so the result is
    * `deletionVariants(s, k).map(fnv1a64).distinct` as a set, in
    * ascending order (property-spec'd in EditDistanceJoinSpec).
    */
  private[graft] def deletionVariantHashes(s: String, k: Int): Array[Long] = {
    val cps = s.codePoints().toArray
    val n = cps.length
    // fnv1a64's step over the UTF-16 units of code points [from, until)
    def feed(h0: Long, from: Int, until: Int): Long = {
      var h = h0
      var p = from
      while (p < until) {
        val c = cps(p)
        if (c < Character.MIN_SUPPLEMENTARY_CODE_POINT) h = (h ^ c) * 0x100000001b3L
        else {
          h = (h ^ Character.highSurrogate(c)) * 0x100000001b3L
          h = (h ^ Character.lowSurrogate(c)) * 0x100000001b3L
        }
        p += 1
      }
      h
    }
    var out = new Array[Long](math.min(postingsOf(n, k), 1L << 16).toInt)
    var m = 0
    // Every deletion set, once per distinct left-packed form within a run
    // of equal code points (deleting the second of "aa" gives what
    // deleting the first does): `h` is the running FNV-1a state over the
    // kept code points before `from`, and the code point before `from`
    // was deleted when `afterDeletion`. Recursion depth is at most k + 1.
    def emit(from: Int, h: Long, left: Int, afterDeletion: Boolean): Unit = {
      if (m == out.length) out = java.util.Arrays.copyOf(out, m * 2)
      out(m) = feed(h, from, n)
      m += 1
      if (left > 0) {
        var kept = h
        var p = from
        while (p < n) {
          if (p == 0 || (p == from && afterDeletion) || cps(p - 1) != cps(p))
            emit(p + 1, kept, left - 1, afterDeletion = true)
          kept = feed(kept, p, p + 1)
          p += 1
        }
      }
    }
    emit(0, 0xcbf29ce484222325L, k, afterDeletion = false)
    java.util.Arrays.sort(out, 0, m)
    var u = 0
    var i = 0
    while (i < m) {
      if (u == 0 || out(i) != out(u - 1)) { out(u) = out(i); u += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(out, u)
  }

  /** Σ_{d ≤ k} C(n, d), saturating at Long.MaxValue: the deletion
    * combinations of an n-code-point key, so the most postings it can
    * bring at maxDist k.
    */
  private[graft] def postingsOf(n: Int, k: Int): Long = {
    var c = 1L
    var sum = 1L
    var d = 1
    while (d <= math.min(k, n)) {
      if (c > Long.MaxValue / (n - d + 1)) return Long.MaxValue
      c = c * (n - d + 1) / d
      if (sum > Long.MaxValue - c) return Long.MaxValue
      sum += c
      d += 1
    }
    sum
  }

  /** Verified UNDIRECTED id pairs (id_a < id_b) with lev <= maxDist — the
    * shared core of [[pairs]] and [[linkedAggregate]].
    *
    * Join on the 64-bit hash of each deletion variant, not the variant
    * string: narrower shuffle rows, long-vs-long hash probes. A collision
    * only ADDS a candidate; the exact levenshtein verify removes it.
    * The exploded rows carry (gid, key_length, variant_hash) — the length
    * band needs only the length, so the key string itself never rides the
    * big shuffle.
    *
    * DUPLICATE-KEY SKEW GUARD (exactness-preserving): the variant join
    * runs over DISTINCT keys only (one representative gid = min id per
    * key), and id-level pairs are rebuilt afterwards by group-membership
    * expansion. A corpus flooded with f copies of one key — dedup's
    * common case, precisely because those rows are what linking exists to
    * find — would otherwise push f·|variants| exploded rows into the join
    * and f²·|variants| witness rows out of it (the O(f²)-per-hot-variant
    * blowup NearDup guards with shinglesWithSkewGuard). Here the flood
    * collapses BEFORE the explode: the hot key contributes one variant
    * set, its intra-group pairs (lev = 0 by definition — no variant
    * machinery, no verify) are enumerated by a plain equi-self-join on
    * key, and cross-group pairs multiply out by membership only AFTER the
    * per-distinct-key verify. Every emitted row is a true output pair, so
    * post-guard cost is output cardinality, not join blowup. Unlike the
    * shingle guard this changes NO semantics: a frequency-threshold drop
    * would lose pairs that meet only at a hot variant; deduping keys
    * cannot (equal keys have identical neighborhoods). Equivalence on a
    * skewed fixture is pinned in EditDistanceJoinSpec; the 10^4-replicated
    * name probe lives in ScaleProbe.
    *
    * The equi-join is HALF-ORDERED (gid_a < gid_b): self- and mirror-
    * witnesses are never generated (the full join emits ~2x the rows and
    * every reflexive pair x its whole variant set).
    *
    * Stage order (measured at sf0.1, d=2, LinkStageProbe): distinct runs
    * over the NARROW (long, long) candidate pairs FIRST, then keys
    * re-attach and the banded threshold-levenshtein verifies each UNIQUE
    * candidate once. Witness multiplicity is ~8 per candidate here
    * (31.7M join rows -> 4.1M unique), so verify-before-distinct paid the
    * lev on every witness (9.6s); this order pays it once per candidate
    * (6.3s). The one ordering that must NOT come back: distinct over
    * candidates WITH key columns attached — hash-aggregating wide string
    * rows measured 147s on the same input. The key re-attach joins
    * shuffle on gid (bounded, one row per distinct key) with no broadcast
    * hint — AQE broadcasts the key table when it is genuinely small.
    *
    * shuffle_hash hint: Catalyst can't estimate post-explode cardinality
    * (generator-produced arrays) and mis-chooses a broadcast hash join,
    * collecting the ~100x-exploded variant table to the driver and probing
    * one giant hash relation (measured 7x slower at sf0.1 — and an OOM at
    * 100 TB). A partitioned hash join on the variant key is the scalable
    * plan.
    */
  private def halfIdPairs(keyed: DataFrame, maxDist: Int): DataFrame = {
    val dk = distinctKeys(keyed)
    val variants = variantPostings(dk, maxDist)
    // Length band: lev(a,b) <= k forces |len(a)-len(b)| <= k, so the
    // cheap precomputed-length comparison runs at hash-probe time and
    // spares the distinct (and the verify) the candidates it can reject —
    // pure pruning, never drops a true pair.
    val cand = variants.as("a").hint("shuffle_hash")
      .join(variants.as("b"),
        col("a.__v") === col("b.__v") && col("a.gid") < col("b.gid") &&
          abs(col("a.__len") - col("b.__len")) <= maxDist)
      .select(col("a.gid").as("gid_a"), col("b.gid").as("gid_b"))
      .distinct()
    val verified = cand
      .join(dk.select(col("gid").as("gid_a"), col("key").as("key_a")), "gid_a")
      .join(dk.select(col("gid").as("gid_b"), col("key").as("key_b")), "gid_b")
      .filter(levenshtein(col("key_a"), col("key_b"), maxDist) >= 0)
      .select("key_a", "key_b")
    // Cross-group expansion: every member of key_a's group pairs with
    // every member of key_b's group. gid order says nothing about member
    // id order, so each expanded pair re-orients to id_a < id_b (keys
    // travel with their ids).
    // Same expansion-fan-out pin as [[pairsAgainst]]: the verified
    // distinct-key pairs are small by bytes, but the group-membership
    // expansion multiplies them by both groups' sizes — on a corpus with
    // few distinct keys AQE's coalesced one-partition exchange would run
    // that corpus-scale fan-out single-threaded.
    val cross = verified.repartition(shufflePartitions(keyed), col("key_a"))
      .join(keyed.select(col("id").as("__ia"), col("key").as("key_a")), "key_a")
      .join(keyed.select(col("id").as("__ib"), col("key").as("key_b")), "key_b")
      .select(when(col("__ia") < col("__ib"),
          struct(col("__ia").as("id_a"), col("key_a"),
                 col("__ib").as("id_b"), col("key_b")))
        .otherwise(
          struct(col("__ib").as("id_a"), col("key_b").as("key_a"),
                 col("__ia").as("id_b"), col("key_a").as("key_b"))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.key_a").as("key_a"),
              col("p.id_b").as("id_b"), col("p.key_b").as("key_b"))
    // Intra-group pairs: identical keys are lev = 0 <= maxDist by
    // definition. The self equi-join on key emits exactly the true pair
    // set — for a group of size f that is f(f-1)/2 rows of REQUIRED
    // output, generated in one codegen'd probe with no distinct, no
    // variant explosion, and no levenshtein. Singleton groups emit
    // nothing.
    val intra = keyed.as("a")
      .join(keyed.as("b"),
        col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("a.key").as("key_a"),
              col("b.id").as("id_b"), col("b.key").as("key_b"))
    cross.unionByName(intra)
  }

  /** `df`'s (id, key) rows. Null keys produce no pairs
    * (levenshtein(null, _) is null, so the verify would drop them), so
    * they are excluded before any grouping.
    */
  private def keyedRows(df: DataFrame, idCol: String,
                        keyCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(keyCol).as("key"))
      .filter(col("key").isNotNull)

  /** The duplicate-key skew guard ([[halfIdPairs]]): one (key, gid) row
    * per distinct key, gid = the key's min id, so the variant join sees
    * each key once however often it repeats.
    */
  private def distinctKeys(keyed: DataFrame): DataFrame =
    keyed.groupBy("key").agg(min(col("id")).as("gid"))

  private def shufflePartitions(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

  /** The (gid, __len, __v) deletion-variant postings of distinct keys:
    * one row per <=maxDist-deletion variant hash, with the key length
    * for the length band.
    *
    * Explicit partition count before the variant explode: AQE sizes the
    * post-groupBy exchange by its INPUT bytes (a few hundred KB of
    * distinct keys) and coalesces it to ONE partition — but the compute
    * lives AFTER the ~(len·k)-way generator fan-out, so the coalesced
    * plan runs the whole neighborhood expansion single-threaded
    * (measured: a 1.7-2.4 s one-task stage inside q_link_agg_lev,
    * LinkAggAudit, round 11 — the same AQE blind spot as the PQ
    * codeword fan-out in Ann.pqCodesLong). A user-specified count is
    * exempt from AQE coalescing. The repartition column must NOT be
    * `key`: the groupBy child is already hash-partitioned on key, so a
    * same-column repartition is elided as redundant and the coalescible
    * groupBy exchange is all that remains (verified in the physical
    * plan); `gid` forces a fresh user-pinned exchange. A bucketed
    * publish's repartition AFTER the explode is the write-side layout,
    * so the expansion still computes at this parallelism.
    */
  private def variantPostings(dk: DataFrame, maxDist: Int): DataFrame =
    dk.repartition(shufflePartitions(dk), col("gid"))
      .withColumn("__len", length(col("key")))
      .select(col("gid"), col("__len"),
        explode(graft.functions.deletion_variant_hashes(col("key"), maxDist))
          .as("__v"))

  /** Undirected verified id pairs (id_a < id_b) with lev <= maxDist — the
    * edge-list form for graph consumers ([[ConnectedComponents]]): skips
    * the directed/reflexive expansion that [[pairs]] performs (the key
    * re-attach runs inside the shared core, where the verify needs the
    * keys anyway; this form just drops them). `df` must have unique
    * values in idCol (same contract as [[pairs]]).
    *
    * An input of at most [[ConnectedComponents]]' postings budget
    * (`IdPairsMaxPostings`: the sum over keyed rows of [[postingsOf]]
    * their code points, the variant postings the distributed plan would
    * explode) is linked on the driver instead ([[driverIdPairs]]): one
    * bounded collect ([[ConnectedComponents.smallRows]], one job for an
    * input of up to 4x the default parallelism's partitions, none for a
    * local frame), then the primitive kernel of [[DriverKeys]]. Above the
    * budget, or when the pairs would outnumber it, the plan runs.
    */
  def idPairs(df: DataFrame, idCol: String, keyCol: String,
              maxDist: Int): DataFrame = {
    val keyed = keyedRows(df, idCol, keyCol)
    val plan = halfIdPairs(keyed, maxDist).select("id_a", "id_b")
    val budget = ConnectedComponents.driverFinishCap.value.postings
    ConnectedComponents.smallRows(keyed, budget,
        r => postingsOf(r.getUTF8String(1).numChars, maxDist))
      .flatMap(rows => driverIdPairs(
        new DriverKeys(rows, keyed.schema("id").dataType, maxDist), plan, budget))
      .getOrElse(plan)
  }

  /** The driver form of [[distinctKeys]], [[variantPostings]] and the
    * candidate/verify half of [[matchAgainstPostings]], over collected
    * keyed rows: the one spelling of the variant rules that
    * [[driverIdPairs]], [[driverServe]] and [[driverAppendSlices]]
    * share. It numbers the distinct keys in input order; holds each key's
    * rows as a chain of row indices (so its ids in input order, nulls
    * included), its gid (the min non-null id, null when every id is null,
    * as `min` gives) and its `numChars` length; and computes a key's
    * variant hashes ([[deletionVariantHashes]]) once, only for the keys a
    * path asks about.
    *
    * The kernel is primitive. Only keys with a gid can match, as on the
    * distributed plans, whose gid re-attach drops a null gid. Their
    * postings are chained by hash (a `LongMap` head, an `int[]` next);
    * each probing posting meets the keys chained under its hash within
    * the length band, and the candidates that `keep` accepts are packed
    * into `long` (key index, posted index) pairs, sorted, made unique and
    * verified once each with Spark's own
    * `UTF8String.levenshteinDistance(_, maxDist)`, which returns the
    * distance itself when it is within the bound.
    */
  private final class DriverKeys(val rows: Array[InternalRow], idType: DataType,
                                 val maxDist: Int) {
    val ord: Ordering[Any] = TypeUtils.getInterpretedOrdering(idType)
    private val keyOf = new Array[Int](rows.length)
    val keys: Array[UTF8String] = {
      val index = mutable.HashMap.empty[UTF8String, Int]
      val out = mutable.ArrayBuffer.empty[UTF8String]
      for (r <- rows.indices) {
        val key = rows(r).getUTF8String(1)
        keyOf(r) = index.getOrElseUpdate(key, { out += key; out.length - 1 })
      }
      out.toArray
    }
    // each key's first row and each row's next of the same key (-1 ends)
    private val firstRow = Array.fill(keys.length)(-1)
    private val nextRow = Array.fill(rows.length)(-1)
    /** Rows per key. */
    val sizes = new Array[Int](keys.length)
    locally {
      val lastRow = new Array[Int](keys.length)
      for (r <- rows.indices) {
        val i = keyOf(r)
        if (firstRow(i) < 0) firstRow(i) = r else nextRow(lastRow(i)) = r
        lastRow(i) = r
        sizes(i) += 1
      }
    }
    /** Key i's ids in input order, nulls included. */
    def ids(i: Int): Iterator[Any] =
      Iterator.iterate(firstRow(i))(nextRow(_)).takeWhile(_ >= 0).map(rows(_).get(0, idType))
    val gids: Array[Any] =
      Array.tabulate(keys.length)(ids(_).filter(_ != null).minOption(ord).orNull)
    val lens: Array[Int] = keys.map(_.numChars)
    val matchable: Array[Int] = keys.indices.filter(gids(_) != null).toArray
    private val variants = new Array[Array[Long]](keys.length)
    def hashes(i: Int): Array[Long] = {
      if (variants(i) == null)
        variants(i) = deletionVariantHashes(keys(i).toString, maxDist)
      variants(i)
    }

    /** The matchable keys' postings: posting p is hash `hash(p)` of key
      * `key(p)`; `head(v)` is the last posting of hash v and `next(p)`
      * the one chained before p (-1 ends).
      */
    private final class Postings {
      val key: Array[Int] = matchable.flatMap(i => Array.fill(hashes(i).length)(i))
      val hash: Array[Long] = matchable.flatMap(hashes)
      val next = new Array[Int](key.length)
      val head = new mutable.LongMap[Int](key.length)
      for (p <- key.indices) {
        next(p) = head.getOrElse(hash(p), -1)
        head(hash(p)) = p
      }
    }
    private lazy val postings = new Postings
    /** Every hash the matchable keys post. */
    def postedHashes: Seq[Long] = postings.head.keys.toSeq

    /** Verified (key index, posted index, distance) triples of the
      * probing postings p: posted key `of(p)` (`postedKey`,
      * `postedLen`), hash `hash(p)`.
      */
    private def verified(of: Array[Int], hash: Array[Long],
                         postedKey: Array[UTF8String], postedLen: Array[Int],
                         keep: (Int, Int) => Boolean): Array[(Int, Int, Int)] = {
      val cand = new mutable.ArrayBuilder.ofLong
      var p = 0
      while (p < of.length) {
        val j = of(p)
        var q = postings.head.getOrElse(hash(p), -1)
        while (q >= 0) {
          val i = postings.key(q)
          if (math.abs(lens(i) - postedLen(j)) <= maxDist && keep(i, j))
            cand += (i.toLong << 32) | j
          q = postings.next(q)
        }
        p += 1
      }
      val packed = cand.result()
      java.util.Arrays.sort(packed)
      val out = mutable.ArrayBuilder.make[(Int, Int, Int)]
      p = 0
      while (p < packed.length) {
        if (p == 0 || packed(p) != packed(p - 1)) {
          val (i, j) = ((packed(p) >>> 32).toInt, packed(p).toInt)
          val d = keys(i).levenshteinDistance(postedKey(j), maxDist)
          if (d >= 0) out += ((i, j, d))
        }
        p += 1
      }
      out.result()
    }

    /** Verified key pairs (a, b, distance) under [[halfIdPairs]]' half
      * order gid_a < gid_b, from the keys' own postings.
      */
    def selfPairs(): Array[(Int, Int, Int)] = {
      val rank = Array.fill(keys.length)(-1)
      val byGid = matchable.sortWith((a, b) => ord.lt(gids(a), gids(b)))
      for (r <- byGid.indices)
        rank(byGid(r)) = if (r > 0 && !ord.lt(gids(byGid(r - 1)), gids(byGid(r))))
          rank(byGid(r - 1)) else r
      verified(postings.key, postings.hash, keys, lens, (a, b) => rank(a) < rank(b))
    }

    /** Verified (key index, posting gid, posting key, distance) of
      * standing (gid, key, len, hash) postings.
      */
    def against(posted: Iterator[(Any, UTF8String, Int, Long)])
        : Seq[(Int, Any, UTF8String, Int)] = {
      val index = mutable.HashMap.empty[(Any, UTF8String), Int]
      val (gid, key, len) = (mutable.ArrayBuffer.empty[Any],
        mutable.ArrayBuffer.empty[UTF8String], mutable.ArrayBuilder.make[Int])
      val (of, hash) = (mutable.ArrayBuilder.make[Int], new mutable.ArrayBuilder.ofLong)
      for ((g, k, l, v) <- posted) {
        of += index.getOrElseUpdate((g, k), { gid += g; key += k; len += l; gid.length - 1 })
        hash += v
      }
      verified(of.result(), hash.result(), key.toArray, len.result(), (_, _) => true)
        .toSeq.map { case (i, j, d) => (i, gid(j), key(j), d) }
    }
  }

  /** `keyed` on the driver, if it has at most the row cap's rows. */
  private def driverKeys(keyed: DataFrame, maxDist: Int): Option[DriverKeys] =
    ConnectedComponents.smallRows(keyed)
      .map(new DriverKeys(_, keyed.schema("id").dataType, maxDist))

  /** [[idPairs]] on the driver ([[DriverKeys]]): the verified key pairs,
    * each expanded to its groups' ids. A cross pair (x, y) keeps its
    * order only when both ids are non-null and x < y, else it is (y, x),
    * the distributed plan's `when(__ia < __ib)`; intra-group pairs skip
    * null ids. A local frame with `plan`'s schema, or None when the pairs
    * could outnumber `budget`: the driver holds no output bigger than the
    * postings it would accept as input.
    */
  private def driverIdPairs(dk: DriverKeys, plan: DataFrame,
                            budget: Long): Option[DataFrame] = {
    def lt(x: Any, y: Any) = x != null && y != null && dk.ord.lt(x, y)
    val verified = dk.selfPairs()
    val bound = verified.iterator.map { case (a, b, _) => dk.sizes(a).toLong * dk.sizes(b) }.sum +
      dk.sizes.iterator.map(f => f.toLong * (f - 1) / 2).sum
    if (bound > budget) None
    else {
      val cross = for ((a, b, _) <- verified.iterator; x <- dk.ids(a); y <- dk.ids(b))
        yield if (lt(x, y)) InternalRow(x, y) else InternalRow(y, x)
      val intra = for (i <- dk.keys.indices.iterator if dk.sizes(i) > 1;
                       x <- dk.ids(i); y <- dk.ids(i) if lt(x, y)) yield InternalRow(x, y)
      Some(ConnectedComponents.localFrame(plan.sparkSession, plan.schema,
        (cross ++ intra).toSeq))
    }
  }

  /** Cross-table edit-distance match: every `left` row paired with every
    * `right` (dictionary) row within lev <= maxDist — the master-data /
    * spell-correction shape ("map each dirty name to its canonical
    * entry"), as a TWO-TABLE deletion-neighborhood equi-join: both sides
    * explode into their <=maxDist-deletion variant hashes and meet on the
    * variant (superset guarantee is the same one-sided-deletions argument
    * as the self-join), then the exact banded `levenshtein` verifies.
    * Output: (left_id, left_key, right_id, right_key, dist), directed —
    * one row per matching dictionary entry; downstream picks a winner
    * (e.g. min dist, then min right_id) when it needs one. Both inputs
    * must have unique ids (same contract as [[pairs]]) — the candidate
    * set deduplicates on (left_id, right_id) and re-attaches keys by id,
    * so a duplicated id row would multiply its matches.
    *
    * Scale: linear shuffle on variant hashes for both sides; the
    * dictionary is typically the small side — its ~(len·k) variant
    * explosion still shuffles (not broadcast) because post-explode size is
    * opaque to Catalyst (same shuffle_hash reasoning as [[halfIdPairs]]).
    */
  def pairsAgainst(left: DataFrame, leftId: String, leftKey: String,
                   right: DataFrame, rightId: String, rightKey: String,
                   maxDist: Int): DataFrame = {
    // Same duplicate-key skew guard as [[halfIdPairs]]: the variant join
    // runs over each side's DISTINCT keys (the dirty corpus is exactly
    // where one misspelling floods — f copies of "Mcrosoft" must cost one
    // variant set, not f), and id-level matches are rebuilt afterwards by
    // key-membership expansion. Equal left/right keys are a legitimate
    // cross-table match (dist 0) and survive naturally — they share every
    // variant and pass the verify.
    val lk = keyedRows(left, leftId, leftKey)
    val rk = keyedRows(right, rightId, rightKey)
    val ldk = distinctKeys(lk)
    val rdk = distinctKeys(rk)
    matchAgainstPostings(lk, variantPostings(ldk, maxDist), ldk,
      variantPostings(rdk, maxDist), rdk, rk, maxDist)
  }

  /** Shared core of [[pairsAgainst]] and the variant-index serves
    * ([[pairsAgainstIndexBucketed]], [[repsAgainstIndexBucketed]]): the
    * candidate equi-join over variant postings, narrow distinct, key
    * re-attach + banded verify, and the pinned membership expansion —
    * with the dictionary side's postings/keys/members supplied by the
    * caller (derived inline, or read from the standing index).
    */
  private def matchAgainstPostings(lk: DataFrame, lPost: DataFrame,
                                   ldk: DataFrame, rPost: DataFrame,
                                   rdk: DataFrame, rk: DataFrame,
                                   maxDist: Int,
                                   expandRight: Boolean = true): DataFrame = {
    // hint on the RIGHT (dictionary) side: the hinted side is the
    // hash-build side, and the dictionary is the bounded one — building
    // over the corpus side inverts the plan at scale. Same verify order
    // as halfIdPairs: distinct the narrow gid pairs first, then re-attach
    // keys and verify each unique candidate once; `dist` is computed at
    // verify time (once per distinct key pair) and rides the expansion.
    val cand = lPost.as("a")
      .join(rPost.as("b").hint("shuffle_hash"),
        col("a.__v") === col("b.__v") &&
          abs(col("a.__len") - col("b.__len")) <= maxDist)
      .select(col("a.gid").as("lgid"), col("b.gid").as("rgid"))
      .distinct()
    val verified = cand
      .join(ldk.select(col("gid").as("lgid"), col("key").as("left_key")), "lgid")
      .join(rdk.select(col("gid").as("rgid"), col("key").as("right_key")), "rgid")
      .filter(levenshtein(col("left_key"), col("right_key"), maxDist) >= 0)
      .select(col("left_key"), col("right_key"), col("rgid"),
        levenshtein(col("left_key"), col("right_key")).as("dist"))
    // Third fan-out pin: the verified distinct-key matches are tiny by
    // bytes (AQE coalesces their exchange to one partition) but the
    // membership expansion below multiplies them by BOTH sides' group
    // sizes — on a low-cardinality dictionary that is corpus-scale output
    // (the sf0.1 part table holds 64 distinct names across 20k rows:
    // 659 key pairs expand to ~1.4M rows, measured 1.4 s in ONE task,
    // LinkAggAudit, round 11). Spreading the verified pairs before the
    // expansion keeps the fan-out parallel at any scale.
    val leftExpanded = verified.repartition(shufflePartitions(lk),
        col("left_key"))
      .join(lk.select(col("id").as("left_id"), col("key").as("left_key")),
        "left_key")
    if (expandRight)
      leftExpanded
        .join(rk.select(col("id").as("right_id"), col("key").as("right_key")),
          "right_key")
        .select(col("left_id"), col("left_key"), col("right_id"),
          col("right_key"), col("dist"))
    else
      leftExpanded.select(col("left_id"), col("left_key"),
        col("rgid").as("right_rep_id"), col("right_key"), col("dist"))
  }

  /** STANDING deletion-variant index for [[pairsAgainst]]'s dictionary
    * side — the FIFTH write-once/serve-many tier (after exact keys, LSH
    * bands, eval 13-grams, PQ codes): a spell-correction / master-data
    * service freezes its dictionary for months while dirty batches
    * arrive, so the dictionary's distinct-key variant explosion — the
    * whole right half of the candidate join — persists once and every
    * batch reads it as a scan. Published as BUCKETED catalog tables:
    * `<tablePrefix>_postings` (gid, __len, __v) bucketed by __v so the
    * candidate equi-join consumes the standing side's layout with NO
    * index-side exchange (only the batch's exploded variants shuffle to
    * meet it), `<tablePrefix>_keys` (key, gid) bucketed by gid for the
    * verify re-attach, `<tablePrefix>_members` (id, key) bucketed by key
    * for the id-level expansion, and a one-row `meta` sidecar holding the
    * published `max_dist` ([[StandingIndex.publishMetaRow]]: written on
    * the driver, crash-safe, no catalog entry; [[metaDir]] finds it
    * beside `_postings`). The skew guard is baked at publish time
    * (distinct keys only). Bucketed appends keep the bucket spec (Spark
    * verifies it against the table), so the serve join's no-shuffle
    * property survives day-N appends ([[appendVariantIndexBucketed]]).
    * Files land under `dir`; bucket metadata lives in the catalog
    * ([[graft.sources.Layout.publishBucketed]]: one file per bucket).
    */
  def writeVariantIndexBucketed(right: DataFrame, rightId: String,
                                rightKey: String, maxDist: Int, dir: String,
                                tablePrefix: String,
                                numBuckets: Int = 8): Unit = {
    val rk = keyedRows(right, rightId, rightKey)
    val rdk = distinctKeys(rk)
    def publish(df: DataFrame, key: String, t: String): Unit =
      graft.sources.Layout.publishBucketed(df, key, s"${tablePrefix}_$t",
        s"$dir/$t", numBuckets)
    publish(variantPostings(rdk, maxDist), "__v", "postings")
    publish(rdk, "gid", "keys")
    publish(rk, "key", "members")
    StandingIndex.publishMetaRow(right.sparkSession,
      metaDir(right.sparkSession, tablePrefix),
      Seq("max_dist" -> StandingIndex.MetaInt(maxDist)))
  }

  /** INCREMENTAL PUBLISH for the variant tier — the verb that closes the
    * CC lifecycle's day-N loop: after [[ConnectedComponents
    * .mergeRepublish]] folds a served batch into the standing LABELS,
    * tomorrow's serve also needs the batch's NAMES in the variant index,
    * and until this verb existed the only way to get them there was a
    * full [[writeVariantIndexBucketed]] over the grown corpus — the
    * corpus-scan publish the tier exists to amortize. This appends the
    * batch's slice of each index table instead (cost tracks the batch,
    * never the corpus), under the tables' own bucket specs, so the serve
    * contract survives unchanged.
    *
    * Per-table semantics (what keeps append ≡ rebuild):
    *  - `members` gets EVERY batch row — ids must be NEW (the same
    *    contract as [[NearDup.appendBandIndexBucketed]]: exact dedup
    *    upstream owns identity; a re-appended id would duplicate its
    *    matches);
    *  - `keys`/`postings` get only the batch's NOVEL keys
    *    ([[novelKeysAgainstMembers]] — an anti join against the
    *    KEY-BUCKETED members table, so the standing side is a bucketed
    *    scan with no exchange and no broadcast): these tables are
    *    per-DISTINCT-key by the skew-guard construction, and a second
    *    (key, gid) row for an existing key would double every one of
    *    that key's matches downstream. The novel set is eagerly
    *    materialized BEFORE any table is appended — the anti join reads
    *    members, so appending members first would make every batch key
    *    look standing and silently skip the keys/postings writes.
    *
    * Once novelty is pinned the three appends are independent and run
    * concurrently ([[Par.sections]]); a failed one is rethrown whole
    * after the others finish, which may each have landed. A batch of at
    * most [[ConnectedComponents]]' row cap is folded on the driver
    * ([[driverAppendSlices]]) in 6 jobs: the batch collect (none for a
    * local frame), the broadcast and the collect of one `members` probe
    * instead of the anti join (in Spark 4.1.2 a broadcast join against a
    * local relation runs its own job), and three writes of local frames,
    * one task each ([[graft.sources.Layout.appendBucketed]]): the same
    * rows and files per bucket as the distributed plan (DriverPathSpec).
    *
    * Exactness vs [[writeVariantIndexBucketed]] over corpus ∪ batch:
    * id-level serve output ([[pairsAgainstIndexBucketed]]) is IDENTICAL
    * — gids never reach it (parity-spec'd in EditDistanceJoinSpec;
    * q_dict_match_appended shares the monolithic oracle). The reps form
    * ([[repsAgainstIndexBucketed]]) exposes gids as `right_rep_id`: a
    * novel key's gid (min batch id) equals the monolithic one, and an
    * existing key keeps its standing gid — which differs from a
    * monolithic rebuild only when a batch id undercuts that key's
    * standing minimum (day-N batches normally carry larger ids). Either
    * way the rep is a true member of the key's group, so connectivity
    * consumers ([[ConnectedComponents.incrementalAssign]]) are exact
    * regardless.
    */
  def appendVariantIndexBucketed(batch: DataFrame, idCol: String,
                                 keyCol: String, tablePrefix: String): Unit = {
    val spark = batch.sparkSession
    val maxDist = indexedMaxDist(spark, tablePrefix)
    val bk = keyedRows(batch, idCol, keyCol)
    // Novelty is PINNED before any table mutates: the anti join reads
    // `members`, and appending members first would make every batch key
    // look standing (nothing novel -> postings silently skipped).
    val (members, keys, postings) = driverKeys(bk, maxDist)
      .fold {
        val novel = novelKeysAgainstMembers(bk, tablePrefix).localCheckpoint(true)
        (bk, novel, variantPostings(novel, maxDist))
      }(driverAppendSlices(_, bk, tablePrefix))
    // each table's bucket count comes from the catalog, not a parameter
    def append(df: DataFrame, key: String, t: String): () => Unit =
      () => graft.sources.Layout.appendBucketed(df, key, s"${tablePrefix}_$t")
    Par.sections(append(members, "key", "members"), append(keys, "gid", "keys"),
      append(postings, "__v", "postings"))
  }

  /** [[appendVariantIndexBucketed]]'s (members, keys, postings) slices
    * of the batch on the driver ([[DriverKeys]]), as local frames with
    * the distributed plan's schemas: novelty from one broadcast probe of
    * `members` ([[ConnectedComponents.probe]]), then the novel keys with
    * their gids (null ones too) and their postings.
    */
  private def driverAppendSlices(dk: DriverKeys, bk: DataFrame,
                                 tablePrefix: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = bk.sparkSession
    val standing = ConnectedComponents.probe(
        spark.table(s"${tablePrefix}_members").select("key"), "key", dk.keys.toSeq)
      .map(_.getUTF8String(0)).toSet
    val novel = dk.keys.indices.filterNot(i => standing(dk.keys(i)))
    val keys = distinctKeys(bk)
    def local(plan: DataFrame, out: Seq[InternalRow]): DataFrame =
      ConnectedComponents.localFrame(spark, plan.schema, out)
    (local(bk, dk.rows.toSeq),
      local(keys, novel.map(i => InternalRow(dk.keys(i), dk.gids(i)))),
      local(variantPostings(keys, dk.maxDist),
        for (i <- novel; v <- dk.hashes(i)) yield InternalRow(dk.gids(i), dk.lens(i), v)))
  }

  /** The append's novelty check, shaped for the standing side: the
    * batch's distinct keys anti-joined against the `members` table —
    * NOT `keys` — because members is bucketed BY KEY, so the standing
    * side contributes a bucketed column scan with no exchange and no
    * broadcast (an anti join against the gid-bucketed keys table would
    * have to re-shuffle — or, under AQE at fixture sizes, BROADCAST —
    * the entire standing key set on every nightly append; at corpus
    * scale either is the corpus-sized work the append verb exists to
    * avoid). members holds one row per corpus row rather than per
    * distinct key, but a bucketed single-column scan is a strictly
    * cheaper posture than any corpus shuffle. The merge hint rides the
    * members side: a LeftAnti join can only broadcast its RIGHT side,
    * and without the pin AQE broadcasts fixture-sized members tables —
    * the exact plan that dies when members is corpus-sized; under the
    * hint the join is a sort-merge whose members side sorts within its
    * buckets and never exchanges (asserted via the no-BroadcastExchange
    * plan check in EditDistanceJoinSpec — with LeftAnti, any broadcast
    * would necessarily be the members side). Duplicate right-side keys
    * are harmless to left_anti semantics.
    */
  private[graft] def novelKeysAgainstMembers(bk: DataFrame,
                                             tablePrefix: String): DataFrame =
    distinctKeys(bk)
      .join(bk.sparkSession.table(s"${tablePrefix}_members")
          .select("key").hint("merge"),
        Seq("key"), "left_anti")

  /** [[pairsAgainst]] served from a standing variant index
    * ([[writeVariantIndexBucketed]], possibly grown by
    * [[appendVariantIndexBucketed]]): only the BATCH side explodes at
    * query time; its variants join the standing postings in place (the
    * candidate join consumes the postings' bucket layout — no index-side
    * shuffle, plan-asserted in EditDistanceJoinSpec), and the verify/
    * expansion read the standing keys/members tables. RESULT-IDENTICAL
    * to pairsAgainst for the same dictionary and the same `maxDist` (the
    * caller's contract — a smaller serve-time maxDist is also exact,
    * since the length band and verify tighten on it; a LARGER one would
    * need postings the index never generated and is the one misuse, so
    * it is checked against the published `max_dist`). Oracled as
    * q_dict_match_indexed with q_dict_match's own replay oracle —
    * equality proves the publish/serve roundtrip lossless.
    */
  def pairsAgainstIndexBucketed(left: DataFrame, leftId: String,
                                leftKey: String, maxDist: Int,
                                tablePrefix: String): DataFrame =
    serveAgainst(left, leftId, leftKey, maxDist, tablePrefix,
      expandRight = true)

  /** [[pairsAgainstIndexBucketed]] collapsed to KEY-level matches: one
    * row per (left_id, matched right KEY), the right side carried by its
    * REPRESENTATIVE member id (the index's gid = min right id per key)
    * instead of expanding to every member — output (left_id, left_key,
    * right_rep_id, right_key, dist). The verified key-pair set is
    * IDENTICAL to the pairs form's (this skips only the right-membership
    * fan-out), so for consumers that need connectivity or a canonical
    * representative rather than every duplicate row — component
    * assignment ([[ConnectedComponents.incrementalAssign]]: equal keys
    * share a standing component, so an edge to the representative
    * reaches the whole group), correction-to-canonical — the result is
    * equivalent at a fraction of the rows on duplicate-heavy
    * dictionaries (the cc_assign serve went 7.1 -> 6.5 s against the
    * pairs form, IndexServeProbe, measured on the retired flat layout).
    * See [[appendVariantIndexBucketed]] for the rep-id note under
    * appends.
    */
  def repsAgainstIndexBucketed(left: DataFrame, leftId: String,
                               leftKey: String, maxDist: Int,
                               tablePrefix: String): DataFrame =
    serveAgainst(left, leftId, leftKey, maxDist, tablePrefix,
      expandRight = false)

  /** Every variant-index serve: the batch side's keyed rows, distinct
    * keys and variant postings meet the `<tablePrefix>_postings`/`_keys`/
    * `_members` tables — on the driver ([[driverServe]]) for a batch of
    * at most [[ConnectedComponents]]' row cap. The index's published
    * max_dist ([[indexedMaxDist]]) bounds the serve-time `maxDist`.
    */
  private def serveAgainst(left: DataFrame, leftId: String, leftKey: String,
                           maxDist: Int, tablePrefix: String,
                           expandRight: Boolean): DataFrame = {
    val spark = left.sparkSession
    def table(t: String) = spark.table(s"${tablePrefix}_$t")
    val indexedDist = indexedMaxDist(spark, tablePrefix)
    require(maxDist <= indexedDist,
      s"index $tablePrefix holds <=$indexedDist-deletion postings; " +
        s"serving maxDist=$maxDist would need variants it never generated")
    val lk = keyedRows(left, leftId, leftKey)
    val ldk = distinctKeys(lk)
    val plan = matchAgainstPostings(lk, variantPostings(ldk, maxDist), ldk,
      table("postings"), table("keys"), table("members"), maxDist,
      expandRight)
    driverKeys(lk, maxDist).fold(plan)(
      driverServe(_, plan, table, expandRight))
  }

  /** The variant index's published `max_dist`, read on the driver (no
    * Spark job) from its [[metaDir]] sidecar.
    */
  private def indexedMaxDist(spark: org.apache.spark.sql.SparkSession,
                             tablePrefix: String): Int =
    StandingIndex.readMetaRow(spark, metaDir(spark, tablePrefix))
      .get[Int]("max_dist")

  /** The variant index's `meta` sidecar dir: beside the `_postings`
    * table's files, at the location the catalog resolved for them (a
    * relative publish `dir` resolves under the warehouse dir, not the
    * working dir), so publish and serve agree on it from `tablePrefix`
    * alone.
    */
  private def metaDir(spark: org.apache.spark.sql.SparkSession,
                      tablePrefix: String): String = {
    val postings = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(s"${tablePrefix}_postings"))
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(postings.location).getParent, "meta").toString
  }

  /** [[serveAgainst]] on the driver ([[DriverKeys]]), reading the
    * standing tables only through broadcast joins against local
    * relations: `_postings` by the batch's hashes, broadcast in turn
    * against `_keys` by gid (each posting meets all its gid's keys, as
    * [[matchAgainstPostings]]' re-attach), and for the pairs form
    * `_members` by the verified keys ([[ConnectedComponents.probe]]).
    */
  private def driverServe(dk: DriverKeys, plan: DataFrame,
                          table: String => DataFrame,
                          expandRight: Boolean): DataFrame = {
    val postings = table("postings")
    val keyTable = table("keys")
    val gidType = keyTable.schema("gid").dataType
    val hashes = ConnectedComponents.probeKeys(postings.sparkSession,
      LongType, dk.postedHashes)
    val matched = postings.join(broadcast(hashes),
      postings("__v") === hashes("__probe"), "left_semi")
    val posted = if (dk.matchable.isEmpty) Array.empty[InternalRow]
      else ConnectedComponents.collectRows(keyTable
          .join(broadcast(matched), keyTable("gid") === matched("gid"))
          .select(keyTable("gid"), keyTable("key"), matched("__len"),
            matched("__v")))
    val verified = dk.against(posted.iterator.map(p =>
      (p.get(0, gidType), p.getUTF8String(1), p.getInt(2), p.getLong(3))))
    val out = if (expandRight) {
      val members = table("members").select("id", "key")
      val memberType = members.schema("id").dataType
      val byRightKey = ConnectedComponents.probe(members, "key",
          verified.map(_._3).distinct)
        .groupBy(_.getUTF8String(1))
      for ((i, _, rk, d) <- verified; l <- dk.ids(i);
           m <- byRightKey.getOrElse(rk, Array.empty))
        yield InternalRow(l, dk.keys(i), m.get(0, memberType), rk, d)
    } else
      for ((i, g, rk, d) <- verified; l <- dk.ids(i))
        yield InternalRow(l, dk.keys(i), g, rk, d)
    ConnectedComponents.localFrame(plan.sparkSession, plan.schema, out)
  }

  /** Winner policy over [[pairsAgainst]]: ONE canonical dictionary entry
    * per matched left row — minimum distance, ties broken by minimum
    * right_id, so the correction is deterministic (the master-data ending
    * the reference's canonicalization reaches for: soulutionOne.py:13–18
    * picks one `equalName` survivor; at dictionary scale the analogous
    * decision is "this dirty row corrects to exactly this entry").
    * Left rows matching nothing within maxDist emit no row — the caller's
    * unmatched queue is a left_anti join away.
    *
    * The winner is picked with a single hash aggregate (min_by over a
    * (dist, right_id) struct — lexicographic struct ordering IS the
    * policy), not a row_number window: a window must sort every
    * partition's candidate list, while min_by folds them in one pass with
    * map-side partial aggregation — cheaper and shuffle-equivalent at
    * 100 TB. Grouping carries left_key alongside left_id (functionally
    * dependent; ids are unique by [[pairsAgainst]]'s contract).
    */
  def bestAgainst(left: DataFrame, leftId: String, leftKey: String,
                  right: DataFrame, rightId: String, rightKey: String,
                  maxDist: Int): DataFrame =
    pairsAgainst(left, leftId, leftKey, right, rightId, rightKey, maxDist)
      .groupBy("left_id", "left_key")
      .agg(min_by(
        struct(col("right_id"), col("right_key"), col("dist")),
        struct(col("dist"), col("right_id"))).as("__w"))
      .select(col("left_id"), col("left_key"), col("__w.right_id"),
        col("__w.right_key"), col("__w.dist"))

  /** Matched pairs (id_a, key_a, id_b, key_b) with lev(key_a, key_b) <= maxDist.
    * Reflexive pairs included unless includeSelf=false (then id_a != id_b).
    * `df` must have unique values in idCol.
    */
  def pairs(df: DataFrame, idCol: String, keyCol: String, maxDist: Int,
            strategy: Strategy = DeletionNeighborhood,
            includeSelf: Boolean = true): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(keyCol).as("key"))
    val joined = strategy match {
      case Naive =>
        base.as("a").join(base.as("b"),
            levenshtein(col("a.key"), col("b.key")) <= maxDist)
          .select(col("a.id").as("id_a"), col("a.key").as("key_a"),
                  col("b.id").as("id_b"), col("b.key").as("key_b"))

      case DeletionNeighborhood =>
        val keyed = keyedRows(df, idCol, keyCol)
        val half = halfIdPairs(keyed, maxDist)
        // Rebuild full directed semantics in ONE pass over `half` (a plain
        // `half union half.mirror` would execute the join twice — measured
        // 2x wall time): explode each undirected pair into both directions,
        // then synthesize the reflexive pairs (distance 0 by definition).
        val both = half.select(explode(array(
            struct(col("id_a"), col("key_a"), col("id_b"), col("key_b")),
            struct(col("id_b").as("id_a"), col("key_b").as("key_a"),
                   col("id_a").as("id_b"), col("key_a").as("key_b")))).as("p"))
          .select(col("p.id_a").as("id_a"), col("p.key_a").as("key_a"),
                  col("p.id_b").as("id_b"), col("p.key_b").as("key_b"))
        both.union(keyed
          .select(col("id").as("id_a"), col("key").as("key_a"),
            col("id").as("id_b"), col("key").as("key_b")))
    }
    if (includeSelf) joined else joined.filter(col("id_a") =!= col("id_b"))
  }

  /** solutionThree.py:23 shape: per left id, the aggregated list of linked
    * counterparts — made deterministic with sort_array + concat_ws (the
    * reference's raw collect_list order is partition-dependent; a CSV sink
    * also can't hold array<struct>, SURVEY §1.1).
    *
    * The aggregate needs only (id_a, key_b), which the verified pair set
    * already carries — the directed expansion projects it straight out of
    * `half` with no further key join.
    */
  def linkedAggregate(df: DataFrame, idCol: String, keyCol: String, maxDist: Int,
                      strategy: Strategy = DeletionNeighborhood): DataFrame = {
    def agg(pairs: DataFrame): DataFrame = pairs
      .groupBy(col("id_a").as(idCol))
      .agg(
        count(lit(1)).as("n_linked"),
        concat_ws(",", sort_array(collect_list(col("key_b")))).as("linked_keys"))
    strategy match {
      case Naive =>
        agg(pairs(df, idCol, keyCol, maxDist, Naive))
      case DeletionNeighborhood =>
        val keyed = keyedRows(df, idCol, keyCol)
        val directed = halfIdPairs(keyed, maxDist)
          .select(explode(array(
            struct(col("id_a"), col("key_b")),
            struct(col("id_b").as("id_a"), col("key_a").as("key_b")))).as("p"))
          .select(col("p.id_a").as("id_a"), col("p.key_b").as("key_b"))
          .union(keyed.select(col("id").as("id_a"), col("key").as("key_b")))
        agg(directed)
    }
  }
}
