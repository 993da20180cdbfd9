package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact deduplication operators.
  *
  * Covers the reference's dedup surface (SURVEY.md §2.3):
  *  - D1 key-subset distinct   (soulutionOne.py:41, solutionTwo.py:25, DAG/ETL.py:49)
  *  - D2 single-key distinct   (solutionThree.py:11)
  *  - D3 all-column distinct   (DAG/sample.py:41)
  *  - D5 count-style oracle    (solutionFour.py:3-6)
  * plus a deterministic-survivor variant the reference lacks (dropDuplicates
  * keeps an arbitrary row per key; at 100 TB that nondeterminism breaks
  * repeatability, so `canonical` pins the survivor with a total order).
  *
  * Scale notes: `dropDuplicates(keys)` plans as partial hash-aggregate →
  * shuffle on `keys` → final hash-aggregate, i.e. map-side combine runs
  * before the exchange — the right shape for 100 TB. `canonical` is a
  * window `row_number`; Spark plans it as shuffle on `keys` + in-partition
  * sort (no global sort).
  */
object Dedup {

  /** D1/D2: keep one arbitrary row per key tuple (Spark's native semantics). */
  def exact(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** D3: full-row distinct. */
  def fullRow(df: DataFrame): DataFrame = df.distinct()

  /** Deterministic survivor: keep the row with the smallest `order` columns
    * per key. Unlike dropDuplicates, re-runs (and different partitionings)
    * always pick the same survivor — required for oracle comparison and for
    * reproducible 100 TB pipelines.
    */
  def canonical(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Best-of-group survivor: keep the row MAXIMIZING `score` per key, ties
    * broken by the smallest `tiebreak` — the training-data dedup shape
    * (keep the highest-quality document per content fingerprint) as opposed
    * to [[canonical]]'s smallest-key survivor. Same physical plan: shuffle
    * on `keys` + in-partition sort + row_number, no global sort.
    */
  def bestByScore(df: DataFrame, keys: Seq[String], score: Column,
                  tiebreak: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(score.desc, tiebreak)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** D5 analog (solutionFour.py): row counts before/after dedup on keys,
    * as a one-row DataFrame. countDistinct over the key tuple is a single
    * aggregate pass — no second scan.
    */
  def stats(df: DataFrame, keys: Seq[String]): DataFrame = {
    val ks = keys.map(col)
    df.agg(
      count(lit(1)).as("n_rows"),
      count_distinct(ks.head, ks.tail: _*).as("n_distinct"))
  }

  /** [[stats]] per group: the dup-rate dashboard row every ingest
    * pipeline tracks per source/crawl/shard — which feeds are mostly
    * duplicates, BEFORE paying for the dedup itself. One hash aggregate
    * (group key + distinct-on-key), map-side combinable, output rows =
    * group cardinality. `dup_rate` is derived from the two exact counts
    * in-engine ((n_rows - n_distinct)/n_rows, double) so the row is
    * self-contained for a dashboard while staying engine-reproducible.
    */
  def statsByGroup(df: DataFrame, groupCol: String, keys: Seq[String]): DataFrame = {
    val ks = keys.map(col)
    df.groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_rows"),
        count_distinct(ks.head, ks.tail: _*).as("n_distinct"))
      .withColumn("dup_rate",
        (col("n_rows") - col("n_distinct")).cast("double") / col("n_rows"))
  }

  /** Incremental dedup: keep only rows of `newBatch` whose `key` does NOT
    * already occur in `corpus` — the "dedupe the incoming crawl against the
    * existing 100 TB corpus" shape (reference analog: re-running
    * soulutionOne.py:41's distinct over old+new data; doing it incrementally
    * touches only the new batch plus the corpus key column).
    *
    * Plans as LEFT ANTI join on `key`: the corpus side is pruned to the one
    * key column at the scan (column pruning), then both sides shuffle on
    * `key` — or, when the batch of new keys is small enough, AQE converts it
    * to a broadcast anti join. No distinct() on the corpus side: the anti
    * join's build table dedupes keys implicitly, and an explicit distinct
    * would add a whole extra shuffle.
    */
  def incremental(newBatch: DataFrame, corpus: DataFrame, key: String): DataFrame =
    newBatch.join(corpus.select(key), Seq(key), "left_anti")

  /** Publish a STANDING key index for [[incremental]] — the
    * write-once/serve-many pattern ([[NearDup.writeBandIndexBucketed]])
    * applied to the exact tier: the corpus's distinct keys as a BUCKETED
    * catalog table ([[graft.sources.Layout.publishBucketed]]), so each
    * batch's anti join consumes the index's layout in place — no
    * corpus-side shuffle or sort per batch, and the distinct is paid once
    * at publish time instead of inside every serve-side anti join.
    */
  def writeKeyIndexBucketed(corpus: DataFrame, key: String, dir: String,
                            tableName: String, numBuckets: Int = 8): Unit =
    graft.sources.Layout.publishBucketed(corpus.select(key).distinct(), key,
      tableName, dir, numBuckets)

  /** [[incremental]] against a persisted [[writeKeyIndexBucketed]]
    * table: only genuinely novel batch rows survive, and the standing
    * corpus contributes a bucketed scan per batch, never recompute.
    */
  def incrementalAgainstIndex(newBatch: DataFrame, key: String,
                              tableName: String): DataFrame =
    newBatch.join(newBatch.sparkSession.table(tableName).select(key),
      Seq(key), "left_anti")

  /** INCREMENTAL PUBLISH for the exact tier — the same third lifecycle
    * verb the LSH ([[NearDup.appendBandIndexBucketed]]) and CC
    * ([[ConnectedComponents.mergeRepublish]]) tiers carry: fold a day's
    * ACCEPTED batch keys into the standing fingerprint index by
    * bucketed append instead of re-distincting the whole corpus. The
    * appended files share the table's bucket spec, so the serve anti
    * join's no-index-shuffle property survives appends. The standing
    * distinctness invariant is preserved by the serve contract itself:
    * the rows appended are [[incrementalAgainstIndex]] survivors —
    * keys the anti join just proved absent — and the batch side is
    * distinct-ed here, so append(corpus) ∪ append(novel batch) holds
    * exactly the distinct keys of corpus ∪ batch (parity-spec'd;
    * q_dedup_incr_appended shares the monolithic form's oracle).
    *
    * A batch of at most [[ConnectedComponents]]' row cap is distinct-ed
    * on the driver instead (no job when the batch is already a local
    * frame) and written by one task
    * ([[graft.sources.Layout.appendBucketed]]): the same rows and files
    * as the distributed plan (DriverPathSpec). Only key types whose
    * value equality is Spark's grouping equality take that path.
    */
  def appendKeyIndexBucketed(novelBatch: DataFrame, key: String,
                             tableName: String): Unit = {
    val keys = novelBatch.select(key)
    val plan = keys.distinct()
    val keyType = keys.schema.head.dataType
    val driverDistinct = keyType match {
      // StringType matches the default (binary) collation only
      case StringType | ByteType | ShortType | IntegerType | LongType | BooleanType |
           DateType | TimestampType | TimestampNTZType | _: DecimalType => true
      case _ => false
    }
    val local = if (!driverDistinct) None
      else ConnectedComponents.smallRows(keys).map { rows =>
        ConnectedComponents.localFrame(plan.sparkSession, plan.schema,
          rows.map(r => if (r.isNullAt(0)) null else r.get(0, keyType)).distinct
            .map(InternalRow(_)).toSeq)
      }
    graft.sources.Layout.appendBucketed(local.getOrElse(plan), key, tableName)
  }

  /** Streaming twin of content-fingerprint dedup ([[TextOps.fingerprintGroups]]
    * collapsed to survivors): first-ARRIVAL document per md5-of-normalized-
    * text fingerprint, with BOUNDED state — dropDuplicatesWithinWatermark
    * evicts a fingerprint's state once the watermark passes, so a
    * continuously-ingesting corpus holds O(fingerprints per watermark
    * window) state, not O(all fingerprints ever) as plain dropDuplicates
    * would. The survivor is arrival-order-dependent (like the reference's
    * dropDuplicates); the batch canonical form pins min-id instead, so the
    * spec asserts fingerprint-set equality, not survivor identity.
    */
  def byFingerprintStream(docs: DataFrame, textCol: String, tsCol: String,
                          watermark: String = "1 hour"): DataFrame =
    docs.withColumn("fp", TextOps.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** P1 (soulutionOne.py:44): surrogate key via monotonically_increasing_id.
    * Values are partition-encoded (not consecutive) and nondeterministic
    * across runs — never compare them by value; `q_surrogate_id` asserts
    * uniqueness structurally instead.
    */
  def withSurrogateId(df: DataFrame, colName: String = "id"): DataFrame =
    df.withColumn(colName, monotonically_increasing_id())
}
