package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Banding-parameter POLICY for the MinHash-LSH tier — the chooser that
  * turns "16 hashes, 4 bands of 4" from a pinned constant into a derived
  * decision, the same move [[graft.sources.Layout.compactIfNeeded]]
  * made for compaction and [[Ann.pqSearchAuto]] made for PQ serving.
  *
  * Theory (standard S-curve analysis, Leskovec/Rajaraman/Ullman, "Mining
  * of Massive Datasets" ch. 3 — public literature): under (b, r) banding
  * of an n = b·r hash MinHash signature, a pair with true Jaccard s
  * becomes an LSH candidate with probability p(s) = 1 − (1 − s^r)^b. The
  * engine verifies candidates exactly ([[NearDup.minhashNearDupPairs]]
  * computes true Jaccard on every candidate), so false positives cost
  * only candidate-verification CPU while false negatives are RECALL
  * losses — both masses live in the curve. [[tune]] picks the divisor
  * pair minimizing the balanced error mass
  * ∫₀ᵗ p(s) ds + ∫ₜ¹ (1 − p(s)) ds on a midpoint grid.
  *
  * At the engine's operating point — NumHashes = 16, threshold 0.5 (every
  * near-dup query in [[graft.SparkEntry]]) — the argmin IS the pinned
  * (4, 4): err mass 0.165 vs 0.215 for (8, 2), 0.338 for (2, 8). The
  * policy also says when the pins stop being right: t ≤ 0.3 wants (8, 2)
  * (wider net, cheap verify), t ≥ 0.8 wants (2, 8), t ≥ 0.9 wants
  * (1, 16). q_lsh_recall measures the recall the curve predicts.
  *
  * The error table itself ships as an ORACLED query (q_lsh_tune):
  * [[bandingErrorTable]] computes the per-banding mass in e12 fixed point
  * using ONLY exactly-rounded IEEE ops (explicit multiply chains instead
  * of pow, whose libm rounding differs across engines; exact integer sums
  * instead of float avg, per the repo's e12 convention), and
  * [[bandingErrorSql]] emits the DuckDB twin with the SAME multiply tree,
  * so the policy's numbers are hash-compared against an independent
  * engine rather than asserted.
  *
  * Scale posture: the table is 5 rows from a driver-free
  * `spark.range(gridN)` projection — one codegen stage, one 5-group
  * hash aggregate; `tune` itself is pure driver math (no Spark).
  */
object LshTune {

  /** All (bands, rowsPerBand) factorizations of `numHashes`, bands
    * ascending: the feasible banding choices for an n-hash signature.
    */
  def bandings(numHashes: Int): Seq[(Int, Int)] = {
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    (1 to numHashes).filter(numHashes % _ == 0).map(b => (b, numHashes / b))
  }

  /** P(pair becomes an LSH candidate | true Jaccard = s) under (b, r)
    * banding: 1 − (1 − s^r)^b.
    */
  def pCandidate(s: Double, b: Int, r: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, r), b)

  /** Balanced error mass of the (b, r) S-curve against `threshold`:
    * mean over a `gridN`-point midpoint grid of p(s) below the threshold
    * (false-positive mass) and 1 − p(s) at or above it (false-negative
    * mass). In [0, 1]; 0 would be the ideal step function.
    */
  def errorMass(b: Int, r: Int, threshold: Double, gridN: Int = 1000): Double = {
    var tot = 0.0
    var i = 0
    while (i < gridN) {
      val s = (i + 0.5) / gridN
      val p = pCandidate(s, b, r)
      tot += (if (s < threshold) p else 1.0 - p)
      i += 1
    }
    tot / gridN
  }

  /** THE POLICY: the (bands, rowsPerBand) divisor pair of `numHashes`
    * minimizing [[errorMass]] at `threshold`. Ties break toward fewer
    * bands (more rows per band — fewer candidates to verify).
    */
  def tune(numHashes: Int, threshold: Double): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1), got $threshold")
    bandings(numHashes).minBy { case (b, r) => (errorMass(b, r, threshold), b) }
  }

  /** x^n as a binary-exponentiation MULTIPLY tree (no pow): every node is
    * an exactly-rounded IEEE multiply, so the value is bit-identical on
    * any IEEE-754 engine — which libm pow is not across implementations.
    * [[powChainSql]] emits the same tree shape for DuckDB.
    */
  private def powChainCol(x: Column, n: Int): Column =
    if (n == 1) x
    else if (n % 2 == 0) { val h = powChainCol(x, n / 2); h * h }
    else x * powChainCol(x, n - 1)

  private def powChainSql(x: String, n: Int): String =
    if (n == 1) x
    else if (n % 2 == 0) { val h = powChainSql(x, n / 2); s"($h * $h)" }
    else s"($x * ${powChainSql(x, n - 1)})"

  /** Per-banding balanced error mass in e12 fixed point — one row per
    * divisor pair: (bands, rows_per_band, err_mass_e12) where
    * err_mass_e12 = Σ_grid ⌊err(s)·10¹²⌋ (exact long sum; ≤ gridN·10¹²,
    * far under 2⁶³). Bit-comparable against [[bandingErrorSql]].
    */
  def bandingErrorTable(spark: SparkSession, numHashes: Int,
                        threshold: Double, gridN: Int = 1000): DataFrame = {
    val grid = spark.range(gridN)
      .select(((col("id").cast("double") + lit(0.5)) / lit(gridN.toDouble)).as("s"))
    bandings(numHashes).map { case (b, r) =>
      val p = lit(1.0) - powChainCol(lit(1.0) - powChainCol(col("s"), r), b)
      val e = when(col("s") < lit(threshold), p).otherwise(lit(1.0) - p)
      grid.select(lit(b).as("bands"), lit(r).as("rows_per_band"),
        floor(e * lit(1e12)).cast("long").as("err_e12"))
    }.reduce(_ unionByName _)
      .groupBy("bands", "rows_per_band")
      .agg(sum(col("err_e12")).as("err_mass_e12"))
  }

  /** DuckDB twin of [[bandingErrorTable]]: same grid, same multiply tree,
    * same fixed-point floor — the oracle side of q_lsh_tune.
    */
  def bandingErrorSql(numHashes: Int, threshold: Double,
                      gridN: Int = 1000): String = {
    val branches = bandings(numHashes).map { case (b, r) =>
      val p = s"(1.0 - ${powChainSql(s"(1.0 - ${powChainSql("s", r)})", b)})"
      s"SELECT $b AS bands, $r AS rows_per_band, " +
        s"CAST(floor((CASE WHEN s < $threshold THEN $p ELSE 1.0 - $p END) " +
        s"* 1e12) AS BIGINT) AS err_e12 FROM grid"
    }.mkString(" UNION ALL ")
    s"WITH grid AS (SELECT (CAST(i AS DOUBLE) + 0.5) / $gridN.0 AS s " +
      s"FROM range(0, $gridN) t(i)), e AS ($branches) " +
      "SELECT bands, rows_per_band, " +
      "CAST(sum(err_e12) AS BIGINT) AS err_mass_e12 FROM e GROUP BY 1, 2"
  }
}
