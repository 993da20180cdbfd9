package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, pmod}

/** Parquet layout maintenance — the two jobs every 100 TB table needs run
  * against it periodically, independent of any query:
  *
  *  - '''compaction''': streaming/incremental writers emit many small
  *    files; scans then pay per-file open/footer costs and lose row-group
  *    locality. Rewrite a directory into ~targetBytes files.
  *  - '''range clustering''': co-locate rows by sort key so parquet
  *    row-group min/max statistics become tight, disjoint ranges — a
  *    selective predicate then skips whole files at planning time (the
  *    poor-man's index every lake table relies on).
  *
  * The reference hands this problem to `coalesce(1)` (soulutionOne.py:47
  * — one task, one file, one writer core); these are the
  * cluster-parallel replacements.
  */
object Layout {

  /** Rewrite `inDir` (parquet) into `outDir` as ~`targetBytes`-sized
    * files ([[sizedRead]]). Returns the data file count written.
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
              targetBytes: Long = 128L << 20): Int = {
    sizedRead(spark, inDir, targetBytes)
      .write.mode(SaveMode.Overwrite).parquet(outDir)
    // Report what actually landed (AQE/empty-partition elision may merge
    // below the plan), so callers can log honest compaction ratios.
    dataFileCount(spark, outDir)
  }

  /** `dir`'s rows in one partition per ~`targetBytes` of its data files.
    * The count comes from the ACTUAL on-disk byte size (via the Hadoop FS
    * listing, so it works on any supported filesystem), never hardcoded.
    * Uses coalesce when shrinking the file count — a narrow,
    * shuffle-free merge; compaction must not cost a full re-shuffle of
    * the table.
    */
  private def sizedRead(spark: SparkSession, dir: String,
                        targetBytes: Long): DataFrame = {
    val totalBytes = dataFiles(spark, dir).map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(dir)
    // coalesce CAPS the partition count, it never raises it: when Spark's
    // read-side bin-packing already merged the small files into fewer
    // scan partitions than nFiles (low-core hosts, large
    // maxPartitionBytes), coalesce(nFiles) would silently emit those few
    // oversized files instead. Growing the count needs the shuffle.
    if (df.rdd.getNumPartitions >= nFiles) df.coalesce(nFiles)
    else df.repartition(nFiles)
  }

  /** The one data-file predicate: a `.parquet` file that a read would
    * see. Hidden and in-progress leftovers ('.'/'_'-prefixed: `_SUCCESS`,
    * `.crc` checksums, `._in_progress` writes) are invisible to a read,
    * so no count, byte sizing or footer read may include them.
    */
  private[graft] def isDataFile(s: org.apache.hadoop.fs.FileStatus): Boolean = {
    val n = s.getPath.getName
    s.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
  }

  /** The DATA files ([[isDataFile]]) directly under a plain
    * (unpartitioned) parquet dir.
    */
  private def dataFiles(spark: SparkSession,
                        dir: String): Array[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .filter(isDataFile)
  }

  /** Data-file count of a plain (flat, unpartitioned) parquet dir — the
    * compaction-trigger signal for the flat standing indexes (SQ8 codes,
    * sign signatures): every batch append lays down one file, so after N
    * daily appends a serve's stage-1 scan opens N files for the same
    * bytes — the identical small-files drift [[filesPerBucket]] measures
    * for bucketed tables, minus the bucket dimension (a flat dir IS one
    * bucket).
    */
  def dataFileCount(spark: SparkSession, dir: String): Int =
    dataFiles(spark, dir).length

  /** The swap every in-place compaction shares ([[compactDir]],
    * [[compactBucketed]], the cell tiers'
    * [[graft.operators.StandingIndex.compactCellsStagingSwap]]): an
    * overwrite of `dir` would delete the very files its job reads, so
    * `write` materializes the compacted copy ONCE into
    * `dir__compact_staging`, then `dir` is deleted and staging renamed
    * into place. A failed delete is loud: on HDFS-semantics filesystems a
    * rename into a still-existing dir nests staging INSIDE it and returns
    * true, so old and compacted copies would coexist while the verb
    * reports success. Crash window: between delete and rename the index
    * is absent at `dir` with the full compacted copy intact at staging —
    * recover by renaming it back; run from the nightly maintenance
    * window, never concurrent with serves.
    */
  private[graft] def stagedSwap(spark: SparkSession, dir: String,
                                verb: String)(write: String => Unit): Unit = {
    val staging = dir.stripSuffix("/") + "__compact_staging"
    write(staging)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root) && !fs.delete(root, true))
      throw new java.io.IOException(
        s"$verb: delete of $dir failed; compacted copy left at staging")
    if (!fs.rename(new org.apache.hadoop.fs.Path(staging), root))
      throw new java.io.IOException(
        s"$verb: rename $staging -> $dir failed; compacted copy left at staging")
  }

  /** Compact a plain parquet dir IN PLACE — the shared flat-index
    * maintenance verb ([[graft.operators.Ann.compactSq8Index]] /
    * [[Ann.compactSignIndex]] wrap it onto their code/sig subdirs;
    * [[compact]] stays the two-dir form for tables whose callers manage
    * locations). Same [[sizedRead]] sizing as [[compact]], then the
    * [[stagedSwap]] (crash window and recovery documented there).
    * Returns the data file count after compaction.
    */
  def compactDir(spark: SparkSession, dir: String,
                 targetBytes: Long = 128L << 20): Int = {
    val sized = sizedRead(spark, dir, targetBytes)
    stagedSwap(spark, dir, "compactDir")(
      sized.write.mode(SaveMode.Overwrite).parquet(_))
    dataFileCount(spark, dir)
  }

  /** The compaction POLICY to [[compactDir]]'s mechanism — the
    * [[compactBucketedIfNeeded]] rule applied to flat dirs: compact when
    * more than `maxFiles` data files have accumulated, else do nothing.
    * Same default threshold of 16, cited to the same IndexServeProbe
    * drift measurement (a flat serve reads EVERY file of the dir, so the
    * dir's file count is exactly its per-file cost multiplier). Call
    * from the nightly append job; deliberately not from inside the
    * appends (append-cost predictability — the ScaleProbe exponents).
    */
  def compactDirIfNeeded(spark: SparkSession, dir: String,
                         maxFiles: Int = 16,
                         targetBytes: Long = 128L << 20): Option[Int] =
    if (dataFileCount(spark, dir) > maxFiles)
      Some(compactDir(spark, dir, targetBytes))
    else None

  /** Catalog metadata of `tableName`, with its bucket spec required —
    * the shared precondition of every bucketed-table verb here (one
    * error message, one metadata fetch per caller).
    */
  private def bucketedMeta(spark: SparkSession, tableName: String)
      : (org.apache.spark.sql.catalyst.catalog.CatalogTable,
         org.apache.spark.sql.catalyst.catalog.BucketSpec) = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tableName))
    (meta, meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$tableName has no bucket spec — this verb serves bucketed catalog " +
        "tables only (use compact(inDir, outDir) for plain parquet)")))
  }

  /** Compact a BUCKETED catalog table in place — the maintenance verb
    * the incremental-publish tiers need
    * ([[graft.operators.Dedup.appendKeyIndexBucketed]],
    * [[graft.operators.NearDup.appendBandIndexBucketed]],
    * [[graft.operators.EditDistanceJoin.appendVariantIndexBucketed]]):
    * every bucketed append lays down one file SET per append under the
    * table's bucket spec, so after N daily appends a serve scans N small
    * files per bucket — the classic small-files regression, invisible at
    * day 1 and dominant at day 365. This rewrites the table from itself
    * under the IDENTICAL bucket/sort spec (read from the catalog, so no
    * caller-supplied spec can drift from the table's), restoring one
    * file per bucket while changing nothing a query can observe
    * (content parity spec'd in LayoutSpec; the serve cost at 1 vs ~20
    * appends, before and after compaction, is priced in
    * IndexServeProbe).
    *
    * Mechanics: the bucketed, sorted files are written ONCE, into the
    * [[stagedSwap]] staging dir beside the table's location under a
    * temporary catalog name (a bucketed write goes through the catalog);
    * the swap moves them into place, then the table's file listing is
    * refreshed and the temporary entry dropped (an external entry: the
    * drop deletes no files). Crash window and recovery are
    * [[stagedSwap]]'s; a crash also leaves the temporary entry, which the
    * next compaction overwrites. Returns the data file count after
    * compaction.
    */
  def compactBucketed(spark: SparkSession, tableName: String): Int = {
    val (meta, spec) = bucketedMeta(spark, tableName)
    val location = meta.location.toString
    val staged = s"${tableName}__compacting"
    stagedSwap(spark, location, "compactBucketed") { staging =>
      // read as plain parquet, not through the catalog: over a bucketed
      // scan the planner drops the repartition below as already
      // satisfied, then un-buckets the scan as unneeded, and every split
      // task writes its own file per bucket
      val writer = spark.read.schema(meta.schema).parquet(location)
        .repartition(spec.numBuckets, spec.bucketColumnNames.map(col): _*)
        .write.mode(SaveMode.Overwrite).format("parquet")
        .bucketBy(spec.numBuckets, spec.bucketColumnNames.head,
          spec.bucketColumnNames.tail: _*)
      (if (spec.sortColumnNames.nonEmpty)
         writer.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
       else writer)
        .option("path", staging).saveAsTable(staged)
    }
    spark.catalog.refreshTable(tableName)
    spark.sessionState.catalog.dropTable(
      org.apache.spark.sql.catalyst.TableIdentifier(staged),
      ignoreIfNotExists = true, purge = false)
    dataFileCount(spark, location)
  }

  /** Publish `df` as a BUCKETED catalog table — the one write every
    * standing index tier uses ([[graft.operators.Dedup]] key index,
    * [[graft.operators.NearDup]] band index,
    * [[graft.operators.EditDistanceJoin]] variant index): bucketBy +
    * sortBy on `key`, files under `dir`, bucket metadata in the catalog
    * (Spark persists it nowhere else). The pre-write repartition on the
    * bucket column with the bucket count puts each bucket's rows in one
    * task, so the table lands at ONE file per bucket whatever the
    * session's shuffle partitions (without it every upstream partition
    * writes its own file per bucket: 8 files per bucket at 8 partitions,
    * LayoutSpec). A user-specified count is exempt from AQE coalescing.
    */
  def publishBucketed(df: DataFrame, key: String, tableName: String,
                      dir: String, numBuckets: Int): Unit =
    df.repartition(numBuckets, col(key))
      .write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(numBuckets, key).sortBy(key)
      .option("path", dir).saveAsTable(tableName)

  /** Append `df` to a table [[publishBucketed]] wrote, under the table's
    * own bucket count ([[bucketCountOf]]) and the same one-file-per-bucket
    * pre-write repartition: each append adds at most one file per bucket.
    */
  def appendBucketed(df: DataFrame, key: String, tableName: String): Unit = {
    val n = bucketCountOf(df.sparkSession, tableName)
    df.repartition(n, col(key))
      .write.mode(SaveMode.Append).format("parquet")
      .bucketBy(n, key).sortBy(key)
      .saveAsTable(tableName)
  }

  /** Bucket count of a bucketed catalog table. The append verbs derive
    * their write-side spec from the TABLE's own metadata instead of
    * trusting a caller-supplied count — Spark rejects a mismatch loudly,
    * but an append verb that can only ever write the table's real spec
    * has no knob to get wrong (found by the empty-batch append spec: a
    * 4-bucket table with the old default-8 parameter failed every
    * append until the caller re-supplied the publish-time count).
    */
  def bucketCountOf(spark: SparkSession, tableName: String): Int =
    bucketedMeta(spark, tableName)._2.numBuckets

  /** Spark's bucketed data-file naming embeds the bucket id as the last
    * `_NNNNN` group before the extensions (`part-00000-<uuid>_00003
    * .c000.snappy.parquet` → bucket 3); same pattern Spark's own
    * BucketingUtils parses (that object is private[sql]).
    */
  private val BucketedFileName = """.*_(\d+)(?:\..*)?$""".r

  /** Data-file count of the DEEPEST bucket of a bucketed catalog table —
    * the compaction-trigger signal. Each bucketed append lays down one
    * file per NON-EMPTY bucket per batch, so when batches systematically
    * miss buckets (skewed keys) the deepest bucket's file count exceeds
    * the table-wide average — and the deepest bucket is exactly where the
    * small-files serve drift is worst. Parses the bucket id out of each
    * data file's name ([[BucketedFileName]]) and takes the per-bucket
    * MAX, so [[compactBucketedIfNeeded]] fires on the bucket that
    * actually hurts, not on an average that hides skew (LayoutSpec's
    * skewed-append case: every batch hitting one bucket fires the policy
    * at the same depth as uniform appends would).
    */
  def filesPerBucket(spark: SparkSession, tableName: String): Double = {
    val (meta, _) = bucketedMeta(spark, tableName)
    // data files only: hidden/in-progress files (they'd group into the
    // stray -1 bucket) could spuriously fire nightly compaction on files
    // that cost no serve anything
    val perBucket = dataFiles(spark, meta.location.toString).toSeq
      .groupBy(_.getPath.getName match {
        // toLongOption, not toInt: the regex accepts ANY trailing digit
        // group, so a stray file whose name ends in a huge digit run
        // (longer than Long's 19 digits) must land in the stray bucket
        // rather than crash the nightly policy call; timestamp-style
        // 13-digit groups parse fine and form their own singleton bucket
        case BucketedFileName(id) => id.toLongOption.getOrElse(-1L)
        case _                    => -1L // non-bucketed stray; still counted
      })
      .values.map(_.size)
    if (perBucket.isEmpty) 0.0 else perBucket.max.toDouble
  }

  /** The compaction POLICY to [[compactBucketed]]'s mechanism: compact
    * when the table has accumulated more than `maxFilesPerBucket` data
    * files per bucket, else do nothing. Returns Some(fileCountAfter) if
    * compaction ran, None if the table was under the threshold.
    *
    * The default threshold of 16 is cited to measurement, not taste:
    * IndexServeProbe prices the serve drift at ~20 appends as the point
    * where the small-files overhead becomes visible next to the serve's
    * own work (README "index lifecycle" ledger — serve at 20 appends
    * reads ~20× the file count for the same bytes), while a nightly
    * append cadence means 16 files ≈ two weeks of batches — compaction
    * then costs one rewrite of the table against ~14 days of
    * accumulated scan overhead. Call this from the same nightly job
    * that runs the append verbs; it is deliberately NOT called inside
    * the appends themselves, because an append that sometimes costs
    * a table-sized write would make the measured flat append exponents
    * (ScaleProbe) unpredictable for the scheduler.
    */
  def compactBucketedIfNeeded(spark: SparkSession, tableName: String,
                              maxFilesPerBucket: Int = 16): Option[Int] =
    if (filesPerBucket(spark, tableName) > maxFilesPerBucket)
      Some(compactBucketed(spark, tableName))
    else None

  /** Write `df` range-clustered on `cols`: repartitionByRange gives each
    * output file a disjoint key range (sampled range boundaries — one
    * shuffle), sortWithinPartitions makes row-group stats tight within
    * each file. A later `WHERE key = ...` scan reads ONE file's worth of
    * row groups instead of every file (LayoutSpec asserts the per-file
    * ranges are disjoint).
    */
  def writeClustered(df: DataFrame, outDir: String, numFiles: Int,
                     cols: String*): Unit =
    df.repartitionByRange(numFiles, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(outDir)

  /** Write `df` Z-order-clustered on two long columns: range-partition and
    * sort by the Morton interleave ([[graft.functions.z_order]]) instead
    * of lexicographically. [[writeClustered]] on (a, b) gives tight file
    * stats on `a` only — a predicate on `b` alone still scans every file;
    * the Z-curve keeps every file's min/max envelope narrow in BOTH
    * dimensions, so single-column predicates on either side prune
    * (LayoutSpec asserts pruning on each dimension separately). Same cost
    * as writeClustered: one shuffle + per-partition sort; the z key is a
    * few codegen'd shifts per row.
    */
  def writeZOrdered(df: DataFrame, outDir: String, numFiles: Int,
                    colA: String, colB: String): Unit = {
    val z = graft.functions.z_order(col(colA).cast("long"), col(colB).cast("long"))
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(outDir)
  }

  /** [[writeZOrdered]] with the Hilbert key ([[graft.functions
    * .hilbert_order]] — consecutive curve steps are Manhattan-adjacent,
    * so file envelopes come out tighter than Morton's for the same file
    * count; LayoutSpec measures both on the same grid). Same caveat:
    * low 16 bits per dimension — bucket or rank wider domains first.
    */
  def writeHilbertOrdered(df: DataFrame, outDir: String, numFiles: Int,
                          colA: String, colB: String): Unit = {
    val h = graft.functions.hilbert_order(
      col(colA).cast("long"), col(colB).cast("long"))
    df.withColumn("__h", h)
      .repartitionByRange(numFiles, col("__h"))
      .sortWithinPartitions(col("__h"))
      .drop("__h")
      .write.mode(SaveMode.Overwrite).parquet(outDir)
  }

  /** Publish step: write `df` partitioned into `numShards` hash shards —
    * shard = md5hash60(id) mod numShards, so a row's shard never changes
    * when the corpus grows, reruns land rows identically, and any
    * consumer can re-derive the shard of a row it holds. The directory
    * layout (`shard=K/`) is what a downstream training loader globs one
    * shard at a time.
    */
  def writeSharded(df: DataFrame, outDir: String, idCol: String,
                   numShards: Int): Unit =
    df.withColumn("shard",
        pmod(graft.functions.md5hash60(col(idCol).cast("string")),
          lit(numShards.toLong)))
      .write.mode(SaveMode.Overwrite).partitionBy("shard").parquet(outDir)

  /** Integrity manifest over a sharded table: per shard, the row count
    * and an ORDER-INDEPENDENT checksum (bit-XOR of a caller-supplied
    * per-row hash — task/partition ordering can never perturb it, so the
    * manifest is reproducible on any cluster layout and in the DuckDB
    * oracle). The publish-time handshake a 100 TB dataset release needs:
    * a consumer re-aggregates the same manifest over what it received
    * and diffs. XOR cancels DUPLICATE rows pairwise, so `rowHash` must
    * include a unique row id (its intended shape: md5hash60 over id +
    * content digest).
    */
  def shardManifest(df: DataFrame, shardCol: String,
                    rowHash: Column): DataFrame =
    df.withColumn("__h", rowHash)
      .groupBy(col(shardCol).cast("long").as(shardCol))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(__h)").as("checksum"))
}
