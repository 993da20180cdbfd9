package graft

/** AQE-runtime twins of the PlanGuaranteesSpec pins.
  *
  * AQE is ON by default in Spark 4, and its DynamicJoinSelection replans
  * joins at runtime from MEASURED shuffle sizes — which is exactly the
  * mechanism that could demote a pinned partitioned hash join back to the
  * broadcast plan the hint exists to prevent (the deletion-variant and
  * posting/band joins measured 7x slower under a forced broadcast at
  * sf0.1, and OOM at corpus scale because the exploded side is unbounded).
  * PlanGuaranteesSpec asserts the STATIC plan; these tests EXECUTE each
  * query and assert on the FINAL adaptive plan (isFinalPlan=true) that
  * the exploded-side join is still a ShuffledHashJoin on its posting key
  * and that no BroadcastHashJoin took it over. Other joins in the same
  * query (key re-attach, count attach) are free to go broadcast — that is
  * AQE doing its job — so the assertions are keyed to the join column,
  * not plan-wide.
  */
class AqePlanSpec extends SparkSpec {

  /** Execute and return only the FINAL adaptive plan section (the
    * pre-execution tree rides along after "== Initial Plan ==" and would
    * otherwise satisfy the positive assertions vacuously).
    */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    // collect() drives THIS queryExecution (count() would wrap the frame
    // in a new Dataset and finalize that plan instead, leaving this one
    // isFinalPlan=false)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("isFinalPlan=true"),
      s"$name did not produce a finalized adaptive plan:\n$full")
    full.split("== Initial Plan ==")(0)
  }

  test("AQE keeps the exploded-side joins as partitioned hash joins at runtime") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "suite contract: AQE must be enabled for these pins to mean anything")
    // query -> the join key that identifies its pinned exploded-side join:
    // deletion-variant hash, shingle posting key, LSH band key.
    for ((q, key) <- Seq("q_link_pairs_lev" -> "__v",
                         "q_jaccard_pairs" -> "shingle",
                         "q_minhash_pairs" -> "band",
                         // round-8: frame-content posting join (media
                         // dedup) — "[h#" anchors the key list's first
                         // attribute ("h#" alone would match e.g. hash#)
                         "q_frame_dedup" -> "[h#",
                         // round-8: SNM position-bucket join — the a side
                         // is the 2x-exploded one; build must stay on b
                         "q_link_snm" -> "__bkt")) {
      val p = finalPlan(q)
      val shj = p.linesIterator.filter(_.contains("ShuffledHashJoin")).toSeq
      assert(shj.exists(_.contains(key)),
        s"$q final plan lost the ShuffledHashJoin on '$key':\n$p")
      // LeftAnti broadcasts are the skew guards' DESIGNED plan (tiny hot
      // set) — only an Inner demotion is the failure these pins watch for
      val demoted = p.linesIterator
        .filter(l => l.contains("BroadcastHashJoin") && l.contains(key) &&
          !l.contains("LeftAnti")).toSeq
      assert(demoted.isEmpty,
        s"$q: AQE demoted the '$key' join to broadcast:\n${demoted.mkString("\n")}")
    }
  }

  test("PQ fan-out exchanges keep their user-specified partition count under AQE") {
    // AQE sizes exchanges by INPUT bytes; the PQ repartitions carry a few
    // KB of raw vectors whose cost lives AFTER the codeword fan-out, and
    // a coalesced exchange ran the ~4M d2 evaluations in ONE task
    // (StageAudit/PqProfile, round 10). repartition(n, col) plans as
    // REPARTITION_BY_NUM, which AQE's coalescer must not touch; a revert
    // to repartition(col) would read REPARTITION_BY_COL and coalesce.
    // q_pq_search keeps both pins (corpus-code side + LUT side);
    // q_pq_probe's probe-ranking window already exchanges on query_id,
    // so Catalyst legitimately elides the redundant LUT-side pin there.
    // q_link_pairs_lev (round 11): the deletion-variant explode has the
    // same shape — a tiny distinct-key exchange feeding a ~(len·k)-way
    // generator fan-out; unpinned, AQE coalesced it and the whole
    // neighborhood expansion ran in ONE task (1.7-2.4 s inside
    // q_link_agg_lev, LinkAggAudit, round 11). The pin hashes on gid
    // (a key-column repartition is elided as redundant with the groupBy).
    for ((q, minPins) <- Seq("q_pq_search" -> 2, "q_pq_probe" -> 1,
                             "q_link_pairs_lev" -> 1)) {
      val p = finalPlan(q)
      val byNum = p.linesIterator
        .filter(l => l.contains("Exchange") && l.contains("REPARTITION_BY_NUM"))
        .toSeq
      assert(byNum.size >= minPins,
        s"$q final plan lost the pinned-count repartitions:\n$p")
      assert(!p.linesIterator.exists(_.contains("REPARTITION_BY_COL")),
        s"$q has a coalescible repartition back in the plan:\n$p")
    }
  }

  test("PlanDump dumps the final adaptive plan, not the initial one") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(1000).groupBy((col("id") % 7).as("k")).count()
    val dump = graft.tools.PlanDump.formatted(df)
    assert(dump.contains("isFinalPlan=true"), dump)
    assert(!dump.contains("isFinalPlan=false"), dump)
  }
}
