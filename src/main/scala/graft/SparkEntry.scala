package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is deterministic (stable value set; row order
  * irrelevant — the driver sorts before hashing) and, where SQL-expressible,
  * has a DuckDB oracle in `oracleSql` with IDENTICAL column names.
  */
object SparkEntry {

  /** Temp dirs queued for deletion at JVM exit by ONE shared shutdown hook.
    * (q_csv_roundtrip's output is lazily re-read, so its dir must outlive
    * the query; per-invocation hooks piled up one per run before.)
    */
  private val exitCleanupDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** Depth-first best-effort delete of `root`. Returns true only when the
    * walk completed and the root is actually gone — callers must never
    * report a failed or partial delete as done (a concurrent sweep or an
    * undeletable file leaves the tree in place with a Failure).
    */
  private def deleteTree(root: java.nio.file.Path): Boolean =
    scala.util.Using(java.nio.file.Files.walk(root)) { st =>
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }.isSuccess && !java.nio.file.Files.exists(root)

  private lazy val exitCleanupHook: Unit = sys.addShutdownHook {
    exitCleanupDirs.forEach(root => deleteTree(root))
  }
  private def cleanupAtExit(p: java.nio.file.Path): Unit = {
    exitCleanupHook
    exitCleanupDirs.add(p)
  }

  /** Scratch dir for the roundtrip queries, under the build's target/
    * rather than java.io.tmpdir: a shared /tmp is subject to external
    * sweeps mid-run (the round-4 bench lost its shuffle files exactly that
    * way — see [[GraftLocalDir]]), and a sink written milliseconds before
    * its re-read is the same exposure. Registered for exit cleanup.
    */
  private def scratchDir(prefix: String): java.nio.file.Path = {
    val base = java.nio.file.Paths.get("target", "graft-scratch")
    java.nio.file.Files.createDirectories(base)
    val p = java.nio.file.Files.createTempDirectory(base, prefix)
    cleanupAtExit(p)
    p
  }

  private val publishLock = new Object
  /** Hostname token for [[jvmNonce]], sanitized so it can never contain
    * the '_' the dir-name parse splits on. The host rides in the nonce
    * because the sweep's liveness test (ProcessHandle.of(pid)) only sees
    * THIS host's pid table: a publish dir written by another host (shared
    * filesystem) or another pid namespace (sibling container on a bind
    * mount) would look "dead" here while its owner is alive — the sweep
    * therefore only reasons about dirs carrying its OWN host token.
    *
    * When hostname resolution FAILS, a constant fallback would hand two
    * resolution-failing hosts on a shared filesystem the same sweep
    * token — the same one-deletes-the-other's-live-publish hazard as the
    * documented shared-hostname container case, minus the documentation —
    * so the fallback is salted with the kernel's per-boot id: distinct
    * machines hold distinct kernels, so their tokens can never collide
    * (and a boot id is exactly the scope a pid table is valid for).
    * Where the boot id is unreadable too (no /proc), the salt is a
    * per-JVM random UUID — that JVM's own orphans then wait for `sbt
    * clean` rather than its sweep (no other token ever matches), which
    * errs on never deleting a live publish. Same-kernel containers
    * sharing hostname AND mount while isolating pid namespaces remain
    * the one don't-run-it-that-way deployment (see [[jvmNonce]])
    * whichever branch produced the token.
    */
  private[graft] lazy val publishHost: String =
    scala.util.Try(java.net.InetAddress.getLocalHost.getHostName)
      .getOrElse {
        val salt = scala.util.Try(new String(java.nio.file.Files
            .readAllBytes(java.nio.file.Paths.get(
              "/proc/sys/kernel/random/boot_id")), "UTF-8").trim)
          .filter(_.nonEmpty)
          .getOrElse(java.util.UUID.randomUUID().toString)
        s"unknownhost-$salt"
      }.replaceAll("[^A-Za-z0-9-]", "-")
  /** Process-unique suffix for [[cachedPublish]] dirs: pid alone could be
    * reused by a later JVM after a crash orphans a dir, so the JVM start
    * time rides along — two distinct JVMs can never resolve to the same
    * publish path. The leading host token scopes the orphan sweep (see
    * [[publishHost]]); two containers that share BOTH the mount and the
    * hostname while isolating pid namespaces remain the one deployment
    * the sweep's liveness test cannot tell from a crash — don't run the
    * bench that way, or point the JVMs at disjoint working dirs.
    */
  private lazy val jvmNonce: String = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    s"${publishHost}_${ProcessHandle.current().pid()}_${rt.getStartTime}"
  }
  /** JVM-cached publish directory for the SERVE-ONLY bench rows
    * (q_cluster_cc_serve): unlike [[scratchDir]] (fresh per call, so
    * every bench attempt re-pays the index publish — the fixture
    * convention for `*_indexed` rows), this path is deterministic per
    * (key, sf dir) WITHIN one JVM and `body` runs only on first use, so
    * Bench's min-of-2 prices the SERVE alone on the second attempt —
    * the IndexServeProbe split, visible as a committed bench row.
    *
    * The path carries [[jvmNonce]], which is what makes the cache safe
    * without any marker protocol: a publish left behind by a crashed or
    * killed JVM (whose exit hook never ran) lives under a DIFFERENT
    * nonce, so a later session can never serve it — every JVM's first
    * use rebuilds with current code and registers its own exit cleanup —
    * and two concurrent JVMs write disjoint dirs, so there is no
    * cross-process race to lock against. Orphans from crashed JVMs are
    * swept by [[sweepOrphanPublishes]] on this JVM's first use; any that
    * survive the sweep (pid still alive) sit inert until `sbt clean`
    * (scratch space, never read).
    */
  /** Startup sweep for publish dirs orphaned by crashed JVMs: a killed
    * process's exit hook never runs, so its `pub_*` dir stays under
    * target/graft-scratch forever on a long-lived box. Any dir whose
    * nonce isn't this JVM's is unreachable by THIS process (the nonce is
    * in the path), but it may belong to a CONCURRENT live JVM — deleting
    * those would break the disjoint-dirs guarantee above — so the sweep
    * only removes dirs carrying THIS host's token whose embedded pid no
    * longer exists here (a foreign host's pids are invisible to this
    * process — its dirs are never touched). A pid-reused orphan (dead
    * JVM, pid now owned by something else) survives until that pid
    * frees or `sbt clean`; rare, bounded, and erring on the side of
    * never touching a live process's publish. Runs once per JVM under
    * [[publishLock]].
    */
  private lazy val sweepOrphanPublishes: Unit =
    sweepStalePublishDirs(
      java.nio.file.Paths.get("target", "graft-scratch"), jvmNonce)
  /** The sweep itself, parameterized for the spec: under `base`, delete
    * every `pub_*` directory that (a) doesn't carry `ownNonce`, (b)
    * carries THIS host's token (a foreign host's pid table is invisible
    * to ProcessHandle, so foreign dirs are never reasoned about — the
    * shared-filesystem case), and (c) whose embedded pid is not a live
    * process here. Returns the names of directories actually deleted —
    * a delete that failed or only partially completed is NOT reported
    * (and will be retried by the next JVM's sweep).
    */
  private[graft] def sweepStalePublishDirs(
      base: java.nio.file.Path, ownNonce: String): Seq[String] = {
    if (!java.nio.file.Files.isDirectory(base)) return Seq.empty
    // nonce = <host>_<pid>_<startMs>; host is sanitized to contain no '_'
    val ownHost = ownNonce.split('_').dropRight(2).mkString("_")
    val candidates = scala.util.Using(java.nio.file.Files.list(base)) { st =>
      import scala.jdk.CollectionConverters._
      st.iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p))
        .filter(_.getFileName.toString.startsWith("pub_"))
        .filterNot(_.getFileName.toString.endsWith(s"_$ownNonce"))
        .toSeq
    }.getOrElse(Seq.empty)
    candidates.flatMap { p =>
      // name = pub_<key>_<sfLeaf>_<host>_<pid>_<jvmStartMs>; parse from
      // the RIGHT (key/leaf may themselves contain '_'). Delete only on
      // POSITIVE evidence of death: our own host token AND a parsed pid
      // with no live process. A live pid (concurrent JVM, or pid reuse),
      // a foreign or legacy host token, and an unparseable name all
      // survive — never ours to reason about.
      val parts = p.getFileName.toString.split('_')
      val deadLocal = parts.length >= 3 && ownHost.nonEmpty &&
        parts(parts.length - 3) == ownHost &&
        parts(parts.length - 2).toLongOption
          .exists(pid => !ProcessHandle.of(pid).isPresent)
      if (deadLocal && deleteTree(p)) Some(p.getFileName.toString) else None
    }
  }
  /** Publish dirs whose body threw AND whose teardown failed to remove
    * the tree: still on disk, but must not satisfy [[cachedPublish]]'s
    * existence check. JVM-local is sufficient — the dir is nonce-scoped,
    * so no other JVM can ever resolve to it.
    */
  private val poisonedPublishes = scala.collection.mutable.Set.empty[String]
  /** Monotone count of [[cachedPublish]] bodies this JVM has executed —
    * the serve-pricing signal Bench's attempt scheduler reads (round-15
    * verdict: the repeat cutoff denied q_cluster_cc_serve its post-publish
    * attempt because the publish-laden FIRST attempt ran past the 60 s
    * wall; the cutoff can only reason about attempts whose wall time is
    * all query — this counter tells Bench which ones weren't). Snapshot
    * before/after an attempt; a delta means the attempt paid a one-time
    * standing publish on top of its serve. Contract: OPERATIONS.md
    * "Serve-pricing convention".
    */
  private val publishBuilds = new java.util.concurrent.atomic.AtomicLong(0L)
  def publishBuildCount: Long = publishBuilds.get()
  private def cachedPublish(key: String, sfDir: String)
                           (body: String => Unit): String =
    publishLock.synchronized {
      sweepOrphanPublishes
      val leaf = java.nio.file.Paths.get(sfDir).getFileName.toString
      val base = java.nio.file.Paths.get("target", "graft-scratch",
        s"pub_${key}_${leaf}_$jvmNonce")
      if (!java.nio.file.Files.exists(base) ||
          poisonedPublishes(base.toString)) {
        publishBuilds.incrementAndGet()
        java.nio.file.Files.createDirectories(base)
        cleanupAtExit(base)
        // A half-written publish must not satisfy the existence check on
        // the next call: tear the dir down before rethrowing — and if
        // even the teardown fails (undeletable file), poison the path so
        // the next call re-runs body over the remnants (every publish
        // body writes overwrite-mode artifacts from scratch) instead of
        // serving them as a completed publish.
        try {
          body(base.toString)
          poisonedPublishes -= base.toString
        } catch {
          case e: Throwable =>
            if (!deleteTree(base)) poisonedPublishes += base.toString
            throw e
        }
      }
      base.toString
    }

  /** Catalog table prefix of a [[cachedPublish]] dir: its leaf, with
    * every character a table name cannot hold (the leaf carries `sf0.1`
    * and the host token) turned to '_'. The catalog is the SparkContext's,
    * so the tables live exactly as long as the per-JVM publish they
    * belong to.
    */
  private def publishTablePrefix(pub: String): String =
    java.nio.file.Paths.get(pub).getFileName.toString
      .replaceAll("[^A-Za-z0-9_]", "_")

  /** The standing CC labels and bucketed variant index over the customer
    * `c_custkey % 3 != 0` slice, published once per JVM — shared by
    * q_cluster_cc_serve and q_cluster_cc_republish (one publish covers
    * both rows). Returns the standing labels and the index's table
    * prefix.
    */
  private def ccStanding(s: SparkSession, dir: String,
                         corpus: DataFrame): (DataFrame, String) = {
    val pub = cachedPublish("cc_standing", dir) { root =>
      ConnectedComponents.run(
          corpus.select(col("c_custkey").as("id")),
          EditDistanceJoin.idPairs(corpus, "c_custkey", "c_name", 1)
            .select(col("id_a").as("src"), col("id_b").as("dst")))
        .write.mode("overwrite").parquet(s"$root/standing")
      EditDistanceJoin.writeVariantIndexBucketed(
        corpus.select(col("c_custkey"), col("c_name")),
        "c_custkey", "c_name", 1, s"$root/varidx", publishTablePrefix(root))
    }
    (s.read.parquet(s"$pub/standing"), publishTablePrefix(pub))
  }

  /** Incremental near-dedup served from BUCKETED index tables (bucketBy
    * bkey/id through the catalog): today's batch (src0) against the
    * standing corpus (everything else) — the 100 TB form where the
    * standing index joins IN PLACE: no index-side exchange, only the
    * small batch shuffles to the bucket layout (plan-asserted in
    * NearDupSpec). The oracle replays the full LSH+verify recompute;
    * hash equality proves the publish/serve roundtrip lossless. Bound to
    * q_near_dedup_incremental and q_near_dedup_incr_bucketed.
    */
  private def nearDupIncrBucketed(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // Unique catalog names per run (see q_dedup_incr_indexed note).
    val tmp = scratchDir("graft_lsh_bidx")
    val tbl = tmp.getFileName.toString
    NearDup.writeBandIndexBucketed(docs.filter(col("source") =!= "src0"),
      "doc_id", "text", 3, tmp.toString, tbl)
    NearDup.incrementalNearDupPairsBucketed(
      docs.filter(col("source") === "src0"),
      "doc_id", "text", 3, 0.5, tbl)
  }

  /** Flagship (soulutionOne.py end-to-end shape, Spark-native): dedup the
    * counterparty-like customer table, then link near-duplicate names and
    * aggregate member sets per cluster. Driver smoke-checks rows>0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    Linker.pipeline(Tables.customer(spark, "/root/testdata/sf0.001"),
      "c_name", None, 80.0)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- D1: key-subset distinct (soulutionOne.py:41). Key columns only,
    // so the arbitrary-survivor nondeterminism can't leak into the output.
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.lineitem(s, dir).select("l_partkey", "l_suppkey"),
        Seq("l_partkey", "l_suppkey"))),

    // ---- D3: all-column distinct (DAG/sample.py:41).
    "q_dedup_rows" -> ((s, dir) => Dedup.fullRow(Tables.lineitem(s, dir))),

    // ---- D5: before/after dedup counts (solutionFour.py:3-6).
    "q_dedup_stats" -> ((s, dir) =>
      Dedup.stats(Tables.lineitem(s, dir), Seq("l_partkey", "l_suppkey"))),

    // ---- D1 + deterministic survivor: full rows, smallest c_custkey wins.
    "q_dedup_survivor" -> ((s, dir) =>
      Dedup.canonical(Tables.customer(s, dir), Seq("c_name"), Seq(col("c_custkey")))),

    // ---- Training-data dedup composite: per content fingerprint keep the
    // HIGHEST-quality document (ties -> smallest doc_id) — the survivor
    // policy a 100 TB corpus dedup actually wants, vs canonical's
    // smallest-key. One shuffle on fp + in-partition sort.
    "q_dedup_best" -> ((s, dir) => {
      val scored = Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"),
        TextOps.qualityScore(col("text")).as("q"))
      Dedup.bestByScore(scored, Seq("fp"), col("q"), col("doc_id"))
        .select(col("fp"), col("doc_id").as("best_doc"), col("q").as("best_quality"))
    }),

    // ---- Incremental dedup: new batch (source src0) anti-joined against
    // the existing corpus's content fingerprints — only genuinely novel
    // documents survive. LEFT ANTI on fp; corpus side pruned to one column.
    "q_dedup_incremental" -> ((s, dir) => {
      val fp = Tables.documents(s, dir).select(
        col("doc_id"), col("source"), TextOps.fingerprint(col("text")).as("fp"))
      val batch  = fp.filter(col("source") === "src0").select("doc_id", "fp")
      val corpus = fp.filter(col("source") =!= "src0")
      Dedup.incremental(batch, corpus, "fp")
    }),

    // ---- The same incremental exact dedup against a PERSISTED standing
    // fingerprint index (bucketed catalog table, distinct paid at
    // publish time) — the write-once/serve-many form of
    // q_dedup_incremental: the anti join consumes the index's bucket
    // layout in place, only the batch shuffles (plan-asserted in
    // DedupSpec). Same oracle: equality proves the roundtrip lossless.
    "q_dedup_incr_indexed" -> ((s, dir) => {
      val fp = Tables.documents(s, dir).select(
        col("doc_id"), col("source"), TextOps.fingerprint(col("text")).as("fp"))
      // Catalog table name = the unique scratch-dir leaf, so two sessions
      // sharing a metastore never race on one name with different paths.
      val tmp = scratchDir("graft_fp_idx")
      val tbl = tmp.getFileName.toString
      Dedup.writeKeyIndexBucketed(fp.filter(col("source") =!= "src0"),
        "fp", tmp.toString, tbl)
      Dedup.incrementalAgainstIndex(
        fp.filter(col("source") === "src0").select("doc_id", "fp"),
        "fp", tbl)
    }),

    // ---- The exact tier's INCREMENTAL PUBLISH: standing fingerprint
    // index built WITHOUT yesterday's batch (src1); src1's serve
    // SURVIVORS (the keys the anti join just proved novel) append into
    // the bucketed table via appendKeyIndexBucketed; today's batch
    // (src0) then serves against the grown index. Standing content
    // after append = distinct fps of source <> 'src0' exactly, so the
    // monolithic oracle proves the append lossless — the same argument
    // as q_near_dedup_incr_appended on the LSH tier.
    "q_dedup_incr_appended" -> ((s, dir) => {
      val fp = Tables.documents(s, dir).select(
        col("doc_id"), col("source"), TextOps.fingerprint(col("text")).as("fp"))
      val tmp = scratchDir("graft_fp_aidx")
      val tbl = tmp.getFileName.toString
      Dedup.writeKeyIndexBucketed(
        fp.filter(col("source") =!= "src0" && col("source") =!= "src1"),
        "fp", tmp.toString, tbl)
      val novel = Dedup.incrementalAgainstIndex(
        fp.filter(col("source") === "src1").select("doc_id", "fp"), "fp", tbl)
      Dedup.appendKeyIndexBucketed(novel, "fp", tbl)
      Dedup.incrementalAgainstIndex(
        fp.filter(col("source") === "src0").select("doc_id", "fp"),
        "fp", tbl)
    }),

    // ---- P1: surrogate id — structural check (uniqueness + count), values
    // are nondeterministic by design so they are never compared directly.
    "q_surrogate_id" -> ((s, dir) => {
      val deduped = Dedup.exact(Tables.customer(s, dir), Seq("c_name"))
      Dedup.withSurrogateId(deduped)
        .agg(count(lit(1)).as("n"), count_distinct(col("id")).as("n_ids"))
    }),

    // ---- J2/F4: levenshtein-threshold self-join (solutionThree.py:20),
    // scale path = SymSpell deletion-neighborhood equi-join (exact-equivalent
    // to the naive theta join; parity-tested in EditDistanceJoinSpec).
    "q_link_pairs_lev" -> ((s, dir) =>
      EditDistanceJoin.pairs(Tables.customer(s, dir), "c_custkey", "c_name", 2)
        .select("id_a", "key_a", "id_b", "key_b")),

    // ---- A1: per-id aggregated linked counterparts (solutionThree.py:23),
    // deterministic via sort_array + concat_ws.
    "q_link_agg_lev" -> ((s, dir) =>
      EditDistanceJoin.linkedAggregate(Tables.customer(s, dir), "c_custkey", "c_name", 2)),

    // ---- soulutionOne Task-2 shape (J1→P7→A2/W1→D4) with an oracle-able
    // pair predicate: canonical key via least(), per-cluster sorted member
    // sets via window collect_set, collapsed to one row per cluster.
    "q_link_window" -> ((s, dir) => {
      val pairs = EditDistanceJoin
        .pairs(Tables.customer(s, dir), "c_custkey", "c_name", 1, includeSelf = false)
        .filter(col("key_a") =!= col("key_b"))
        .select(graft.functions.canonical_key(col("key_a"), col("key_b")).as("uniqId"),
                col("key_a").as("name_a"))
      Linker.windowCollect(pairs, "uniqId", Seq("name_a" -> "CollectedNames"))
    }),

    // ---- J1 faithful: Ratcliff/Obershelp >= 80 similarity link on supplier
    // names (reference's exact predicate; JVM UDF, no Python crossing).
    // Fully DuckDB-oracled via a recursive-CTE difflib replay (see
    // sqlDifflibChain): the SQL recomputes every pair's matching-block
    // total M and links on the integer form 200*M >= 80*(|a|+|b|).
    "q_link_ro" -> ((s, dir) =>
      Linker.pipeline(Tables.supplier(s, dir), "s_name", None, 80.0)),

    // ---- The same reference pipeline driven entirely through the SQL
    // surface: the registered ro_similarity function in a plain SQL
    // theta-join + collect_set aggregate — proves the
    // SparkSessionExtensions path end-to-end under the SAME difflib
    // oracle as q_link_ro (the RoSimilarityBound optimizer rule rewrites
    // this plan's similarity predicate when enabled; result-invariant).
    // Same by-design O(n²) baseline as q_link_ro.
    "q_link_ro_sql" -> ((s, dir) => {
      Graft.registerFunctions(s)
      Tables.supplier(s, dir).select(col("s_name"))
        .createOrReplaceTempView("supplier_ro_sql")
      // The REPARTITION hint on the probe CTE is the SQL spelling of the
      // repartition similarityPairs already carries (Linker.scala:45):
      // BroadcastNestedLoopJoin parallelism = probe-side partitions, and
      // the distinct's small exchange otherwise AQE-coalesces to one —
      // the whole O(n²) verify then runs in ONE task (measured: a 3.5 s
      // single-task stage carrying this row at sf0.1). Same rows, same
      // oracle; the explicit count mirrors defaultParallelism like the
      // Column-API path.
      s.sql(
        "WITH nm AS (SELECT DISTINCT s_name AS name FROM supplier_ro_sql), " +
        s"nmp AS (SELECT /*+ REPARTITION(${s.sparkContext.defaultParallelism}) */ " +
        "name FROM nm), " +
        "pairs AS (SELECT least(a.name, b.name) AS uniqId, a.name AS name_a " +
        "FROM nmp a JOIN nm b ON a.name <> b.name " +
        "AND ro_similarity(a.name, b.name) >= 80.0D) " +
        "SELECT uniqId, concat_ws(',', sort_array(collect_set(name_a))) " +
        "AS CollectedNames FROM pairs GROUP BY uniqId")
    }),

    // ---- SURVEY §7.2 blocked mode for the RO metric: prefix-filter
    // equi-join candidates (1-gram multiset AllPairs + length band) +
    // ro_similarity verify — result-identical to q_link_ro's faithful
    // BNLJ (same difflib-replay oracle) with a plan that survives 100x.
    "q_link_ro_blocked" -> ((s, dir) => {
      val deduped = Dedup.exact(Tables.supplier(s, dir), Seq("s_name"))
      val pairs = Linker.similarityPairsBlocked(deduped, "s_name", 80.0)
      Linker.groupCollect(pairs, "uniqId", Seq("name_a" -> "CollectedNames"))
    }),

    // ---- The COST-BASED strategy form: similarityPairsAuto picks BNLJ
    // vs blocked off the measured RoBlockProbe crossover (threshold >= 90
    // or past the single-node name budget -> blocked; else BNLJ). On
    // this fixture (t=80, 100 distinct names at sf0.01) it takes the
    // BNLJ branch; both branches are parity-pinned, so the row shares
    // the same difflib-replay oracle either way — the choice is an
    // implementation detail the oracle can't see, which is the point.
    "q_link_ro_auto" -> ((s, dir) => {
      val pairs = Linker.similarityPairsAuto(
        Tables.supplier(s, dir), "s_name", 80.0)
      Linker.groupCollect(pairs, "uniqId", Seq("name_a" -> "CollectedNames"))
    }),

    // ---- A4 scale mode: similarity edges (exact lev<=1 join) → distributed
    // connected components (large-star/small-star) → component per customer.
    // DuckDB oracle = recursive-CTE transitive closure.
    "q_cluster_cc" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      // idPairs, not pairs: CC wants an undirected edge list, so the key
      // re-attach and directed/reflexive expansion would be pure waste.
      val edges = EditDistanceJoin.idPairs(c, "c_custkey", "c_name", 1)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      ConnectedComponents.run(c.select(col("c_custkey").as("id")), edges)
        .select(col("id").as("c_custkey"), col("component"))
    }),

    // ---- A4 scale mode, SERVED INCREMENTALLY: standing components +
    // standing variant index label a new batch WITHOUT recomputing the
    // corpus — cross edges come from the persisted dictionary postings
    // (fifth index tier), intra-batch edges from the batch alone, and
    // the condensed CC runs over batch ids + touched component labels
    // only. Labels provably equal the full recompute (min labels are
    // associative — ConnectedComponents.incrementalAssign Scaladoc);
    // the oracle IS the full-graph recursive closure restricted to the
    // batch. Publish (standing CC + index) re-paid in-bench by fixture
    // convention like every indexed query.
    "q_cluster_cc_incremental" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val corpus = c.filter(col("c_custkey") % 3 =!= 0)
      val batch = c.filter(col("c_custkey") % 3 === 0)
      // standing labels PINNED (eager checkpoint), mirroring day2's
      // standing1 pin and what a real publish does (write once, serve
      // reads the artifact): un-pinned, the labels' final join re-ran
      // on every downstream consumer — label-condense (×2 sides) and
      // vertex derivation — and that re-evaluation is where the
      // driver-window inflation lived (README noise log, round 15).
      // The publish is still paid in-band once per attempt, per the
      // fixture convention.
      // the standing-label CC loop and the variant-index publish are
      // INDEPENDENT (the serve below needs both) — overlapped
      // (Par.sections, guide §2.6): the index write back-fills the CC
      // rounds' scheduling gaps. Same artifacts, same labels.
      // Unique catalog names per run (see q_dedup_incr_indexed note).
      val tmp = scratchDir("graft_cc_var_idx")
      val tbl = tmp.getFileName.toString
      var standing: org.apache.spark.sql.DataFrame = null
      operators.Par.sections(
        () => standing = ConnectedComponents.run(
            corpus.select(col("c_custkey").as("id")),
            EditDistanceJoin.idPairs(corpus, "c_custkey", "c_name", 1)
              .select(col("id_a").as("src"), col("id_b").as("dst")))
          .localCheckpoint(true),
        () => EditDistanceJoin.writeVariantIndexBucketed(
          corpus.select(col("c_custkey"), col("c_name")),
          "c_custkey", "c_name", 1, tmp.toString, tbl))
      // reps, not pairs: CC needs ONE edge per (batch id, matched key) —
      // equal keys already share a standing component, so the key's
      // representative member reaches the whole group and the right-
      // membership fan-out would be pure waste (serve 7.1 -> 6.5 s,
      // IndexServeProbe; the residual is the SymSpell candidate join
      // itself, not the expansion).
      val crossEdges = EditDistanceJoin.repsAgainstIndexBucketed(
          batch.select(col("c_custkey"), col("c_name")),
          "c_custkey", "c_name", 1, tbl)
        .select(col("left_id").as("src"), col("right_rep_id").as("dst"))
      val batchEdges = EditDistanceJoin.idPairs(batch, "c_custkey", "c_name", 1)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      ConnectedComponents.incrementalAssign(standing,
          batch.select(col("c_custkey").as("id")),
          crossEdges.unionByName(batchEdges))
        .select(col("id").as("c_custkey"), col("component"))
    }),

    // ---- The SERVE-ONLY priced twin of q_cluster_cc_incremental: the
    // standing CC labels + variant index publish once per JVM
    // (cachedPublish), so Bench's min-of-2 second attempt pays the serve
    // alone — the IndexServeProbe cc_assign split surfaced as a
    // committed bench row, next to the publish-inclusive row the fixture
    // convention keeps. Result-identical (same edges, same condensed
    // CC): shares the incremental row's full-closure oracle.
    "q_cluster_cc_serve" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val corpus = c.filter(col("c_custkey") % 3 =!= 0)
      val batch = c.filter(col("c_custkey") % 3 === 0)
      val (standing, tbl) = ccStanding(s, dir, corpus)
      val crossEdges = EditDistanceJoin.repsAgainstIndexBucketed(
          batch.select(col("c_custkey"), col("c_name")),
          "c_custkey", "c_name", 1, tbl)
        .select(col("left_id").as("src"), col("right_rep_id").as("dst"))
      val batchEdges = EditDistanceJoin.idPairs(batch, "c_custkey", "c_name", 1)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      ConnectedComponents.incrementalAssign(standing,
          batch.select(col("c_custkey").as("id")),
          crossEdges.unionByName(batchEdges))
        .select(col("id").as("c_custkey"), col("component"))
    }),

    // ---- NIGHTLY RE-PUBLISH: fold the served batch back into the
    // standing labels (ConnectedComponents.mergeRepublish) — standing
    // components a batch id bridged relabel to the merged minimum via
    // ONE corpus-linear equi-join on the label column; batch ids take
    // their condensed labels. The output is the NEW standing frame over
    // ALL customers, so the oracle is q_cluster_cc's own full-graph
    // closure — equality proves republish ≡ full recompute, and the
    // fixpoint (serve → republish → serve ≡ one big run) is
    // parity-spec'd in ClusterSpec. Shares q_cluster_cc_serve's cached
    // standing publish (same corpus split, same artifacts — one publish
    // per JVM covers both rows), so the bench row prices the republish
    // itself, matching IndexServeProbe's cc_republish figure.
    "q_cluster_cc_republish" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val corpus = c.filter(col("c_custkey") % 3 =!= 0)
      val batch = c.filter(col("c_custkey") % 3 === 0)
      val (standing, tbl) = ccStanding(s, dir, corpus)
      val crossEdges = EditDistanceJoin.repsAgainstIndexBucketed(
          batch.select(col("c_custkey"), col("c_name")),
          "c_custkey", "c_name", 1, tbl)
        .select(col("left_id").as("src"), col("right_rep_id").as("dst"))
      val batchEdges = EditDistanceJoin.idPairs(batch, "c_custkey", "c_name", 1)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      ConnectedComponents.mergeRepublish(standing,
          batch.select(col("c_custkey").as("id")),
          crossEdges.unionByName(batchEdges))
        .select(col("id").as("c_custkey"), col("component"))
    }),

    // ---- The CC lifecycle's DAY-N LOOP, end-to-end and oracled: day-0
    // publish (standing labels + BUCKETED variant index), day-1 serve →
    // mergeRepublish → appendVariantIndexBucketed, day-2 serve whose
    // edges come from the APPENDED index against the REPUBLISHED labels
    // — no caller-supplied frames anywhere past day 0. The output (the
    // day-2 batch's labels) must equal the one-big-run closure over all
    // three slices, so it shares q_cluster_cc_serve's oracle: the
    // fixpoint property as a DuckDB row, not just the ClusterSpec
    // parity test. Fresh scratch tables per call — publish + fold +
    // append are re-paid in-bench by the same fixture convention as
    // every *_appended row. Day-1's fold is PINNED (eager
    // localCheckpoint) before the append grows the index it reads.
    "q_cluster_cc_day2" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      def slice(r: Int) = c.filter(col("c_custkey") % 3 === r)
        .select(col("c_custkey"), col("c_name"))
      val day0 = slice(1); val day1 = slice(2); val day2 = slice(0)
      val tmp = scratchDir("graft_cc_day2q")
      val tbl = tmp.getFileName.toString
      // day-0 publish and day-0 standing labels are INDEPENDENT —
      // overlapped (Par.sections, guide §2.6; the day-1 fold below
      // needs both). The append stays strictly AFTER the fold's eager
      // checkpoint, exactly as before.
      var standing0: org.apache.spark.sql.DataFrame = null
      operators.Par.sections(
        () => EditDistanceJoin.writeVariantIndexBucketed(day0, "c_custkey",
          "c_name", 1, tmp.toString, tbl),
        () => standing0 = ConnectedComponents.run(
          day0.select(col("c_custkey").as("id")),
          EditDistanceJoin.idPairs(day0, "c_custkey", "c_name", 1)
            .select(col("id_a").as("src"), col("id_b").as("dst"))))
      def edges(batch: org.apache.spark.sql.DataFrame) =
        EditDistanceJoin.repsAgainstIndexBucketed(
            batch, "c_custkey", "c_name", 1, tbl)
          .select(col("left_id").as("src"), col("right_rep_id").as("dst"))
          .unionByName(
            EditDistanceJoin.idPairs(batch, "c_custkey", "c_name", 1)
              .select(col("id_a").as("src"), col("id_b").as("dst")))
      val standing1 = ConnectedComponents.mergeRepublish(standing0,
          day1.select(col("c_custkey").as("id")), edges(day1))
        .localCheckpoint(true)
      EditDistanceJoin.appendVariantIndexBucketed(day1, "c_custkey",
        "c_name", tbl)
      ConnectedComponents.incrementalAssign(standing1,
          day2.select(col("c_custkey").as("id")), edges(day2))
        .select(col("id").as("c_custkey"), col("component"))
    }),

    // ---- A4 faithful mode: solutionTwo's greedy driver-side clustering
    // (order-dependent, multi-assign, non-transitive) on supplier names,
    // ordered by s_suppkey. The DuckDB oracle replays the FULL sequential
    // fold (sqlGreedyFoldOracle): all-pairs difflib sims via the same
    // recursive CTE as q_link_ro, then a second recursion carrying the
    // key list row-by-row — fixture-independent, unlike the r2–r7
    // one-cluster derivation. CPython-parity of the fold is in ClusterSpec.
    "q_cluster_greedy" -> ((s, dir) =>
      GreedyCluster.cluster(Tables.supplier(s, dir).withColumn("alt",
        col("s_nationkey").cast("string")), "s_name", "alt", "s_suppkey")),

    // ---- A4 faithful mode on a constructed MULTI-cluster frame: a quarter
    // of the suppliers, names prefixed with an 8-char group tag
    // (chr(65 + suppkey%3) ×8) that drops cross-group difflib similarity
    // below the >80 threshold while within-group stays above it — so the
    // greedy fold must emit ≥2 clusters (3 on the TPC-H fixture; pinned in
    // ClusterSpec). Exercises the oracle's key-creation recursion on the
    // path the single-cluster supplier fixture never reaches.
    "q_cluster_greedy_multi" -> ((s, dir) =>
      GreedyCluster.cluster(
        Tables.supplier(s, dir)
          .filter(col("s_suppkey") % 4 === 1)
          .withColumn("mname",
            expr("concat(repeat(chr(65 + CAST(s_suppkey % 3 AS INT)), 8), s_name)"))
          .withColumn("alt", col("s_nationkey").cast("string")),
        "mname", "alt", "s_suppkey")),

    // ---- Text analysis (north-star): per-doc token/char/punct/stopword
    // stats + quality score. Pure codegen projection — no shuffle.
    "q_text_stats" -> ((s, dir) =>
      TextOps.stats(Tables.documents(s, dir), "doc_id", "text")),

    // ---- Global top-k by quality: ORDER BY + LIMIT plans as
    // TakeOrderedAndProject — a per-partition bounded heap + driver merge
    // of k rows, NOT a global sort: the only scalable top-k shape at
    // 100 TB. Deterministic via the doc_id tie-break.
    "q_top_quality" -> ((s, dir) =>
      TextOps.stats(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("quality"))
        .orderBy(col("quality").desc, col("doc_id"))
        .limit(20)),

    // ---- Per-group top-k: best 3 documents by quality per source via
    // row_number over a (source)-partitioned window — one shuffle on
    // source, per-partition sort, early filter. (q_top_quality is the
    // GLOBAL top-k / TakeOrderedAndProject shape; this is the grouped
    // complement every per-domain curation pass needs.)
    "q_topk_per_source" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("quality").desc, col("doc_id"))
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          TextOps.qualityScore(col("text")).as("quality"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
    }),

    // ---- The SAME grouped top-k through the custom WHOLE-OPERATOR
    // extension (plans.TopKPerKey: LogicalPlan + SparkStrategy +
    // partial/final SparkPlan pair): per-partition bounded heaps, k rows
    // per group through the exchange, no window sort. Result must equal
    // the window spelling — the oracle IS the window spelling, and
    // TopKPerKeySpec pins the plan shape (2 heap passes, 1 exchange, no
    // Sort/Window).
    "q_topk_phys" -> ((s, dir) =>
      graft.plans.TopKPerKey.topKPerKey(
        Tables.documents(s, dir).select(col("doc_id"), col("source"),
          col("n_chars")),
        Seq("source"), Seq("n_chars" -> false, "doc_id" -> true), 3)),

    // ---- Document chunking: fixed 400-char windows, stride 300 (100
    // overlap) — sequence + posexplode + substr, pure codegen, no
    // shuffle; the unit-of-work producer for Packing.pack.
    "q_chunk_docs" -> ((s, dir) =>
      Chunker.chunk(Tables.documents(s, dir), "doc_id", "text", 400, 300)),

    // ---- Token-window chunking (60-token windows, 50-token stride →
    // 10 tokens of overlap): the context-length unit the pipeline
    // actually budgets by. See Chunker.chunkTokens.
    "q_chunk_tokens" -> ((s, dir) =>
      Chunker.chunkTokens(Tables.documents(s, dir), "doc_id", "text", 60, 50)),

    // ---- Source-priority dedup survivorship: when the same content
    // appears in multiple feeds, keep the copy from the preferred tier
    // (curated sources beat crawl) — the survivorship policy a real
    // multi-feed corpus needs, as canonical-by-(tier, id) over content
    // fingerprints. The tier table is a LOCAL Scala collection promoted
    // to a DataFrame (the S5 surface) and broadcast: bounded by the
    // number of feeds by construction.
    "q_dedup_priority" -> ((s, dir) => {
      import s.implicits._
      val tiers = (0 until 20).map(i => (s"src$i", if (i < 5) 0L else 1L))
        .toDF("source", "tier")
      val fp = Tables.documents(s, dir)
        .join(broadcast(tiers), "source")
        .withColumn("fp", TextOps.fingerprint(col("text")))
      Dedup.canonical(fp, Seq("fp"), Seq(col("tier"), col("doc_id")))
        .select("doc_id", "source", "tier", "fp")
    }),

    // ---- Per-source quality-percentile filter ("keep each domain's top
    // quartile"): exact P75 per source via the sort-based percentile
    // aggregate (tiny result — one row per source), broadcast back onto
    // the scan, filter strictly above. Two passes over the corpus, no
    // wide shuffle of the data itself: the aggregate exchanges only
    // per-source state and the threshold join is broadcast. The filtered
    // projection never emits the threshold, so the result is robust to
    // sub-ulp interpolation differences between engines (both thresholds
    // land strictly between the same two adjacent quality values).
    "q_quality_filter" -> ((s, dir) => {
      // FanOut.widen: the quality-score projection is consumed by BOTH
      // the threshold aggregate and the filter probe, each otherwise
      // re-scoring the corpus single-task over the one-file scan (guide
      // §2.5); widening also makes the two consumers' exchange subtrees
      // identical, so AQE reuses one scored stage for both
      val scored = FanOut.widen(Tables.documents(s, dir))
        .select(col("source"), col("doc_id"),
          TextOps.qualityScore(col("text")).as("quality"))
      val thresholds = scored.groupBy("source")
        .agg(percentile(col("quality"), lit(0.75)).as("q75"))
      scored.join(broadcast(thresholds), "source")
        .filter(col("quality") > col("q75"))
        .select(col("source"), col("doc_id"), col("quality"))
    }),

    // ---- Quality-threshold retention curve: for every filter bar
    // t/10 (t = 0..10), how many documents and tokens survive — the
    // table a filter owner reads to price a quality threshold against
    // the token budget BEFORE running the filter at corpus scale. One
    // scan: bucket by floor(quality*10), per-bucket hash agg (<= 11
    // rows), then each bucket explodes into the thresholds it clears
    // and a zero-seed union guarantees all 11 rows — generator + hash
    // agg, no join, no window, shuffle bounded by 11 groups.
    "q_quality_retention" -> ((s, dir) => {
      val scored = Tables.documents(s, dir).select(
        TextOps.qualityScore(col("text")).as("q"),
        TextOps.tokenCount(col("text")).as("toks"))
      val g = scored.select(
          least(greatest(floor(col("q") * lit(10.0)).cast("long"), lit(0L)),
            lit(10L)).as("bucket"), col("toks"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), sum(col("toks")).as("t"))
      g.select(explode(expr("sequence(0L, bucket)")).as("threshold_e1"),
          col("n"), col("t"))
        .unionByName(s.range(0, 11)
          .select(col("id").as("threshold_e1"), lit(0L).as("n"), lit(0L).as("t")))
        .groupBy("threshold_e1")
        .agg(sum(col("n")).as("n_docs_kept"),
          sum(col("t")).as("n_tokens_kept"))
    }),

    // ---- Token counting (north-star): whitespace tokens + the BPE-ish
    // regex pre-tokenizer count (TextOps.BpeTokenPattern; engine-parity
    // verified bit-for-bit) + the chars/4 estimate, per document.
    "q_text_tokens" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_ws_tokens"),
        TextOps.bpeTokenCount(col("text")).as("n_bpe_tokens"),
        TextOps.subwordEstimate(col("text")).as("n_subwords_est"))),

    // ---- Token-repetition quality signals (Gopher/C4-style): distinct
    // ratio and top token/bigram dominance, all inside one codegen'd
    // projection — no shuffle.
    "q_text_repetition" -> ((s, dir) =>
      TextOps.repetitionStats(Tables.documents(s, dir), "doc_id", "text")),

    // ---- Language ID: integer stopword-hit scores per language, argmax
    // with alphabetical tie-break.
    "q_text_lang" -> ((s, dir) =>
      TextOps.languageScores(
        Tables.documents(s, dir).select("doc_id", "text"), "text").drop("text")),

    // ---- Code-switch detection: per-20-token-window language ID →
    // per-doc switch counts + modal language (the per-language routing
    // signal; mixed docs mis-score under every monolingual filter).
    "q_code_switch" -> ((s, dir) =>
      TextOps.codeSwitchStats(Tables.documents(s, dir), "doc_id", "text", 20)),

    // ---- Content fingerprint groups: md5-of-normalized-text dedup.
    "q_fingerprint_groups" -> ((s, dir) =>
      TextOps.fingerprintGroups(Tables.documents(s, dir), "doc_id", "text")),

    // ---- End-to-end curation composite (the full LLM-data shape in one
    // plan): content-fingerprint dedup with deterministic min-id survivor
    // → language ID → quality score → keep confident-English docs above
    // 0.5. One fingerprint shuffle + codegen projections; lang/quality
    // are computed ONLY for surviving docs (filter before the expensive
    // columns). Every stage reuses an independently-oracled operator.
    "q_curation_pipeline" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("fp", TextOps.fingerprint(col("text")))
      val surv = Dedup.canonical(docs, Seq("fp"), Seq(col("doc_id")))
      TextOps.languageScores(surv, "text")
        .withColumn("quality", TextOps.qualityScore(col("text")))
        .filter(col("quality") >= 0.5 && col("lang_pred") === "en")
        .select(col("doc_id"), col("lang_pred"), col("quality"))
    }),

    // ---- The same pipeline as a RETENTION LEDGER: one row per
    // cumulative stage (raw → exact dedup → lang → quality → length)
    // with surviving doc/token counts — the dataset-release funnel
    // table, in one corpus pass. See Profiler.curationFunnel.
    "q_curation_funnel" -> ((s, dir) =>
      Profiler.curationFunnel(Tables.documents(s, dir), "doc_id", "text")),

    // ---- Vocabulary build: global token frequencies, top 500 — the seed
    // step of any tokenizer/BPE training run. explode + hash aggregate,
    // then ORDER BY + LIMIT plans as TakeOrderedAndProject (bounded heap
    // per partition + driver merge of 500 rows, never a global sort).
    // Deterministic via the token tie-break.
    "q_vocab_top" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(TextOps.tokens(lower(col("text")))).as("token"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("token"))
      toks.groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(500)
        .withColumn("rank", row_number().over(w).cast("long"))
    }),

    // ---- Per-dimension embedding-QA profile: dead-dimension / scale-
    // drift / outlier screen ahead of an ANN index build. Fixed-point
    // BIGINT moments -> engine-exact; shuffle is dim-sized KBs. See
    // Ann.dimStats.
    "q_embed_dim_stats" -> ((s, dir) =>
      Ann.dimStats(Tables.embeddings(s, dir), "embedding")),

    // ---- Corpus data card: per-(lang, source) docs / distinct
    // fingerprints / token totals / fixed-point quality sum — the
    // per-stratum release report, one hash aggregate over a codegen
    // projection. See TextOps.dataCard.
    "q_data_card" -> ((s, dir) =>
      TextOps.dataCard(Tables.documents(s, dir), "text", Seq("lang", "source"))),

    // ---- Per-source dup-rate observability: rows / distinct
    // fingerprints / dup rate per source — which feeds are mostly
    // duplicates, before paying for the dedup. One map-side-combinable
    // hash aggregate. See Dedup.statsByGroup.
    "q_dedup_sources" -> ((s, dir) =>
      Dedup.statsByGroup(
        Tables.documents(s, dir)
          .withColumn("fp", TextOps.fingerprint(col("text"))),
        "source", Seq("fp"))),

    // ---- Gopher structural rule filter: four auditable per-rule
    // booleans + keep conjunction, one shuffle-free codegen projection.
    // See TextOps.gopherRules.
    "q_gopher_rules" -> ((s, dir) =>
      TextOps.gopherRules(Tables.documents(s, dir), "doc_id", "text")),

    // ---- Blocklist safety screen (C4 badwords shape): per-doc blocked-
    // token occurrences + keep flag, one shuffle-free codegen projection.
    // See TextOps.blocklistFlags.
    "q_safety_filter" -> ((s, dir) =>
      TextOps.blocklistFlags(Tables.documents(s, dir), "doc_id", "text",
        Seq("spam", "dup", "slow"))),

    // ---- Unigram corpus-frequency rarity scoring: the exact-integer
    // sufficient statistics of a KenLM-style perplexity filter (CCNet /
    // RefinedWeb). Two map-side-combinable aggregates + one token
    // equi-join, fan-out bounded by per-doc multiplicity collapse — see
    // TextOps.rarityScore.
    "q_rarity_score" -> ((s, dir) =>
      TextOps.rarityScore(Tables.documents(s, dir), "doc_id", "text")),

    // ---- Model-based quality gate: linear scorer over hashed
    // bag-of-words features (the fastText-classifier tier). The model is
    // ONE bounded (bucket, weight) table broadcast to every executor —
    // inference is a map-side lookup + per-doc sum, no shuffle grows with
    // the corpus. Integer micro-unit weights -> exact BIGINT scores,
    // DuckDB-oracled end to end. See QualityModel.
    "q_quality_model" -> ((s, dir) =>
      QualityModel.score(Tables.documents(s, dir), "doc_id", "text")),

    // ---- Sketch-based corpus profile per language, AUDITED: HLL distinct
    // fingerprints + approx token quantiles (mergeable-sketch aggregates,
    // the scan-plus-KBs profiling shape at 100 TB) checked against exact
    // answers in the same job and emitted as per-sketch within-bound
    // booleans + the exact n_docs. The estimate VALUES are engine-specific,
    // but the CLAIM each sketch makes is checkable anywhere — the DuckDB
    // oracle hash-checks the exact count and literal TRUE flags, so a
    // sketch drifting out of bound fails the gate instead of hiding behind
    // a rows-only check. Raw estimates: TextOps.corpusStats (exercised
    // here and accuracy-asserted in PipelineOpsSpec).
    "q_corpus_stats" -> ((s, dir) =>
      TextOps.corpusStatsAudit(Tables.documents(s, dir), "doc_id", "text", "lang")),

    // ---- Incremental distinct counting: one mergeable DataSketches HLL
    // binary sketch per language + an __all__ row whose estimate comes
    // ONLY from hll_union_agg of the per-stratum sketches — the
    // persist-sketches-not-rescans profiling shape. Audited like
    // q_corpus_stats: exact counts + within-bound flags are what the
    // oracle hashes. See TextOps.sketchDistinctAudit.
    "q_sketch_distinct" -> ((s, dir) =>
      TextOps.sketchDistinctAudit(Tables.documents(s, dir), "text", "lang")),

    // ---- Exact twin of q_corpus_stats (sample-tier calibration shape):
    // same per-language profile with exact distinct counts and
    // deterministic integer percentiles — fully DuckDB-oracled.
    "q_corpus_profile" -> ((s, dir) =>
      TextOps.corpusProfile(Tables.documents(s, dir), "doc_id", "text", "lang")),

    // ---- TF-IDF top terms per doc (rational idf for engine-exact FP —
    // see TfIdf Scaladoc; ranking unchanged vs ln-idf).
    "q_tfidf_top" -> ((s, dir) =>
      TfIdf.topTerms(Tables.documents(s, dir), "doc_id", "text", 3)
        .withColumnRenamed("id", "doc_id")),

    // ---- Deterministic hash-threshold sample (~20% of docs): pure
    // projection+filter, no shuffle — the scan-speed sampling path.
    "q_sample_hash" -> ((s, dir) =>
      Sampling.hashSample(Tables.documents(s, dir), "doc_id", 200)
        .select("doc_id", "lang", "source")),

    // ---- Quality-weighted sampling (row-level mixing): keep probability
    // proportional to document length (capped), in integer micro-units —
    // pure projection + filter, deterministic, oracle-replayable. The
    // stratum-level counterpart is q_rebalance_mix.
    // ---- Temperature mixing (alpha = 1/2): big language strata damped
    // by sqrt instead of flattened — rates use only division + sqrt
    // (correctly-rounded IEEE ops, engine-identical), so the selected
    // set hash-checks. See Sampling.temperatureRebalance.
    "q_temperature_mix" -> ((s, dir) =>
      Sampling.temperatureRebalance(Tables.documents(s, dir), "lang", "doc_id")
        .select("doc_id", "source", "lang")),

    "q_sample_weighted" -> ((s, dir) => {
      val d = Tables.documents(s, dir).withColumn("w_micro",
        least(col("n_chars").cast("long"), lit(2000L)) * lit(500L))
      Sampling.weightedSample(d, "doc_id", "w_micro")
        .select("doc_id", "source", "n_chars", "w_micro")
    }),

    // ---- Language-mix rebalancing (data mixing): down-sample each
    // language to ~the smallest language's size via per-stratum integer
    // keep-rates + the hash-threshold filter — two scale-flat passes,
    // deterministic and engine-reproducible end-to-end (at sf0.01 'en'
    // keeps 293‰, the rarest language keeps everything).
    "q_rebalance_mix" -> ((s, dir) =>
      Sampling.rebalanceMix(Tables.documents(s, dir), "lang", "doc_id")
        .select("doc_id", "source", "lang")),

    // ---- Deterministic train/val/test split: hash-bucket assignment as a
    // pure projection — reproducible across runs/engines, stable under
    // corpus growth (a doc's split never changes when other docs arrive).
    "q_split_assign" -> ((s, dir) =>
      Sampling.splitAssign(Tables.documents(s, dir), "doc_id")
        .select("doc_id", "split")),

    // ---- END-TO-END curation manifest in ONE plan: near-dedup (keep
    // canonical survivors, carry the component) → structural gate
    // (n_tokens >= 5) → per-language token-budget selection (best quality
    // first, 600 tokens/lang) → leakage-free split keyed on the near-dup
    // component. The manifest a training run consumes — and the composite
    // proof that the stages COMPOSE as one Catalyst plan (each stage is
    // also oracled standalone: q_near_dedup, q_text_stats,
    // q_token_budget, q_split_leakfree).
    "q_pipeline_e2e" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val surv = docs.join(
        NearDup.dedupByNearDup(docs, "doc_id", "text", 3, 0.5)
          .filter(col("is_canonical"))
          .select(col("doc_id"), col("component")), Seq("doc_id"))
      // stats are per-doc intrinsic: computing them on the survivor set
      // equals computing on the corpus and joining — the oracle does the
      // latter to reuse the shared stats CTE
      val stats = TextOps.stats(surv, "doc_id", "text")
        .select(col("doc_id"), col("quality"), col("n_tokens"))
      val gated = surv.select("doc_id", "lang", "component")
        .join(stats, Seq("doc_id")).filter(col("n_tokens") >= 5)
      val sel = Sampling.tokenBudgetSelect(gated, "doc_id", "lang",
        "quality", "n_tokens", 600L)
      Sampling.splitAssign(sel, "component")
        .select("doc_id", "lang", "component", "quality", "n_tokens",
          "cum_tokens", "split")
    }),

    // ---- Count-once SOFT dedup: every doc weighted by the inverse of
    // its near-dup cluster size, then the deterministic weighted filter —
    // each duplicate family contributes ~one expected doc instead of
    // being collapsed to a canonical survivor. Output = the kept set with
    // its weights (singletons always survive by construction).
    "q_dedup_soft" -> ((s, dir) => {
      val w = Sampling.softDedupWeights(
        NearDup.dedupByNearDup(Tables.documents(s, dir), "doc_id", "text",
          3, 0.5).select(col("doc_id"), col("component")), "doc_id")
      Sampling.weightedSample(w, "doc_id", "w_micro")
    }),

    // ---- Leakage-free split: the split bucket is keyed on the near-dup
    // COMPONENT, not the doc — a duplicate family can never straddle
    // train/eval, the contamination mode q_split_assign's per-doc hashing
    // cannot prevent (near-identical docs hash independently). A pure
    // projection on top of the q_near_dedup composite; oracle = the
    // near-dedup closure CTEs + the same md5 arithmetic on component.
    "q_split_leakfree" -> ((s, dir) =>
      Sampling.leakFreeSplit(
        NearDup.dedupByNearDup(Tables.documents(s, dir), "doc_id", "text",
          3, 0.5).select(col("doc_id"), col("component")),
        "doc_id")),

    // ---- Exact per-language length quantiles (p50/p90/p99 of n_chars):
    // percentile_disc semantics from the (lang, value) HISTOGRAM — the
    // scale-safe exact-quantile shape (hash-agg to a bounded histogram +
    // prefix-sum window over it; never a per-group row sort). All-integer,
    // engine-exact. Feeds packing capacity / truncation-budget planning.
    "q_length_quantiles" -> ((s, dir) =>
      TextOps.lengthQuantiles(Tables.documents(s, dir), "lang", "n_chars",
        Seq(50, 90, 99))),

    // ---- Stratified exact-quota sample: 50 docs per language, selected
    // by deterministic (md5-hash, id) order — a reproducible reservoir.
    "q_sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedQuota(Tables.documents(s, dir), "lang", "doc_id", 50)
        .select("doc_id", "lang", "sample_rank")),

    // ---- PII scrub: URLs/emails/long digit runs redacted with typed
    // placeholders + pre-scrub match counts. Run over a composite with
    // real digit runs (the 9-digit customer-name suffix); URL/email
    // behavior is spec-covered on synthetic rows. Pure regexp projection.
    "q_pii_scrub" -> ((s, dir) =>
      TextOps.piiCounts(
        Tables.customer(s, dir).select(col("c_custkey"),
          concat_ws(" ", col("c_name"), col("c_mktsegment")).as("blob")),
        "c_custkey", "blob")),

    // ---- Sequence packing: documents laid end-to-end per source shard
    // (concatenate-then-split model), each doc's start offset and
    // capacity-512 sequence index. Prefix sum per shard — parallel across
    // shards, the production packing layout.
    "q_pack_sequences" -> ((s, dir) =>
      Packing.pack(Tables.documents(s, dir), "doc_id", "text", "source", 512)),

    // ---- BOUNDARY-RESPECTING packing: docs never cross a sequence
    // boundary (instruction-tuning / per-doc loss masking model; the
    // concat-split twin is q_pack_sequences). Greedy first-fit-in-order
    // fold per shard — iterator-streaming mapPartitions, O(1) state.
    "q_pack_boundaried" -> ((s, dir) =>
      Packing.packBoundaried(Tables.documents(s, dir), "doc_id", "text",
        "source", 512)),

    // ---- The padding-waste audit over that packing: per shard sequence
    // count, used vs padded tokens, utilization — the number that decides
    // whether capacity fits the doc-length distribution.
    "q_pack_efficiency" -> ((s, dir) =>
      Packing.packingEfficiency(
        Packing.packBoundaried(Tables.documents(s, dir), "doc_id", "text",
          "source", 512), "source", 512)),

    // ---- Winnowing fingerprints (Schleimer+ SIGMOD'03): per-doc selected
    // rolling-hash minima — the local/containment complement to whole-doc
    // md5 and MinHash Jaccard. Pure codegen projection.
    "q_winnow_fp" -> ((s, dir) =>
      Winnow.fingerprints(Tables.documents(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("fp"))),

    // ---- Winnowing overlap pairs: docs sharing >= 2 selected
    // fingerprints (posting-list equi-join, never n²).
    "q_winnow_pairs" -> ((s, dir) =>
      Winnow.sharedFingerprintPairs(Tables.documents(s, dir), "doc_id", "text", 2)),

    // ---- Duplicate-cluster centrality: integer PageRank (3 iterations)
    // over the symmetrized winnowing pair graph. CC says which cluster a
    // doc is in; the rank says who speaks for it (canonical pick) and how
    // much rank mass one template soaks up. Integer arithmetic end to end
    // so the iterative result is hash-comparable — see PageRank Scaladoc.
    "q_dup_centrality" -> ((s, dir) => {
      val pairs = Winnow.sharedFingerprintPairs(
        Tables.documents(s, dir), "doc_id", "text", 2)
      PageRank.ranks(PageRank.symmetrize(pairs, "id_a", "id_b"), "src", "dst", 3)
        .select(col("id").as("doc_id"), col("outdeg"), col("r").as("rank_e12"))
    }),

    // ---- Weighted variant: a 10-fingerprint twin pulls 5x harder than a
    // 2-fingerprint borderline match — mass splits by n_shared instead of
    // evenly. Output outdeg is the weighted degree.
    "q_dup_centrality_w" -> ((s, dir) => {
      val pairs = Winnow.sharedFingerprintPairs(
        Tables.documents(s, dir), "doc_id", "text", 2)
      PageRank.ranksWeighted(PageRank.symmetrize(pairs, "id_a", "id_b"),
          "src", "dst", "n_shared", 3)
        .select(col("id").as("doc_id"), col("outdeg").as("wdeg"),
          col("r").as("rank_e12"))
    }),

    // ---- Personalized (seeded) centrality: teleport mass returns to the
    // graph's 5 smallest doc_ids — rank becomes graph proximity to the
    // seed set (allowlist expansion / contamination-cluster chase). The
    // seed collect is 5 longs to the driver (query-vector bound).
    "q_ppr" -> ((s, dir) => {
      import s.implicits._
      val pairs = Winnow.sharedFingerprintPairs(
        Tables.documents(s, dir), "doc_id", "text", 2)
      val e = PageRank.symmetrize(pairs, "id_a", "id_b").localCheckpoint()
      val seeds = e.select(col("src")).distinct()
        .orderBy("src").limit(5).as[Long].collect().toSeq
      // Empty pair graph => empty seed set; short-circuit to an empty
      // frame (the oracle's behavior) instead of tripping the
      // ranksPersonalized seed guard — empty input is a pipeline stage,
      // not an error, same as every other query here.
      if (seeds.isEmpty)
        s.emptyDataset[(Long, Long, Long)]
          .toDF("doc_id", "wdeg", "rank_e12")
      else
        PageRank.ranksPersonalized(e, "src", "dst", "n_shared", seeds, 3)
          .select(col("id").as("doc_id"), col("outdeg").as("wdeg"),
            col("r").as("rank_e12"))
    }),

    // ---- Data-quality gate: per-rule violation report over orders in ONE
    // scan (conditional count + min-bad-key per rule, stack()'d out of a
    // single aggregate row) plus the referential rule as a left-anti join
    // — the pre-publish value-drift check. See DataChecks.
    "q_dq_report" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      DataChecks.audit(o, "o_orderkey", Seq(
        "price_positive" -> (col("o_totalprice") > 0),
        "price_le_250k" -> (col("o_totalprice") <= 250000),
        "status_open_or_final" -> col("o_orderstatus").isin("O", "F"),
        "custkey_not_null" -> col("o_custkey").isNotNull))
        .unionByName(DataChecks.fkViolations(o, "o_custkey", "o_orderkey",
          Tables.customer(s, dir), "c_custkey", "custkey_in_customer"))
    }),

    // ---- Deterministic epoch shuffle: dense training order 1..n in
    // hash-of-id order — reproducible on any engine/layout/rerun, ranked
    // by the two-phase prefix scan, never a global row_number window. See
    // Sampling.shuffleOrder.
    "q_shuffle_order" -> ((s, dir) =>
      Sampling.shuffleOrder(Tables.documents(s, dir), "doc_id")
        .select(col("doc_id"), col("shuffle_rank"))),

    // ---- Corpus drift: the 25 tokens most over-represented in each half
    // of the corpus (even vs odd doc_ids — the same split as the
    // contamination scans), by add-1-smoothed odds ratio. Integer products
    // + one correctly-rounded double division keep the ratio-valued score
    // engine-exact. See TextOps.domainShiftTokens.
    "q_domain_shift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.domainShiftTokens(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "text", 25)
    }),

    // ---- k-anonymity suppression gate: a document ships only if >= 5
    // docs share its (lang, source) quasi-identifier combination — the
    // structural privacy gate next to the value-level PII scrub. Group
    // size rides along as the audit column. See Privacy.
    "q_kanon" -> ((s, dir) =>
      Privacy.kSuppress(Tables.documents(s, dir), Seq("lang", "source"), 5L)
        .select(col("doc_id"), col("lang"), col("source"), col("qi_group_n"))),

    // ---- Epoch upsampling: one row per (doc, epoch) with low-resource
    // languages repeated (de x3, fr x4, es x2, rest x1) — the repeat side
    // of data mixing, a pure codegen'd generator (no shuffle). See
    // Sampling.epochRepeat.
    "q_epoch_mix" -> ((s, dir) =>
      Sampling.epochRepeat(Tables.documents(s, dir), "lang",
        Map("de" -> 3, "fr" -> 4, "es" -> 2))
        .select(col("doc_id"), col("lang"), col("epoch").cast("long"))),

    // ---- Contamination scan: winnowing-fingerprint overlap BETWEEN two
    // corpora (train = even doc_ids, eval = odd) — the train-test leakage
    // check; posting-list equi-join, never |train|x|eval|.
    "q_contamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Winnow.crossCorpusOverlapPairs(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", 2)
    }),

    // ---- Per-train-doc contamination fraction: of each train doc's
    // winnow fingerprints, how many appear anywhere in the eval corpus,
    // plus the integer-exact drop verdict at 50% — the decision metric
    // the pair report feeds. See Winnow.contaminationScore.
    "q_contamination_score" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Winnow.contaminationScore(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text")
    }),

    // ---- Exact 13-gram decontamination (the GPT-3 recipe): a train doc
    // is flagged on ANY 13-gram collision with the eval corpus, over the
    // full n-gram sets — the exhaustive complement of the winnow-sampled
    // scans above. See Winnow.exactNgramContamination.
    "q_decontam_13gram" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Winnow.exactNgramContamination(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text")
    }),

    // ---- Decontamination against a STANDING eval-suite index (the
    // write-once/serve-many pattern completing the contamination tier,
    // alongside the exact-key and LSH-band indexes): the benchmark
    // suite's distinct 13-grams persist once; each train batch reads
    // them as one small scan instead of re-shingling the suite per run.
    // Result-identical to q_decontam_13gram — same oracle.
    // ---- Span-surgery decontamination: excise ONLY the eval-matching
    // 13-gram windows from train docs (drop-the-doc's eval-aware
    // complement — one leaked benchmark sentence costs its window, not
    // the document). Same eval/train split as q_decontam_13gram.
    "q_decontam_redact" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Winnow.ngramRedact(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    }),

    "q_decontam_indexed" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val tmp = scratchDir("graft_eval_ngram_idx").toString
      Winnow.writeEvalNgramIndex(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", tmp)
      Winnow.ngramContaminationAgainstIndex(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", tmp)
    }),

    // ---- Redaction served from the same standing eval-suite index —
    // result-identical to q_decontam_redact by construction (the index
    // IS the distinct gram set); same oracle proves the roundtrip.
    "q_decontam_redact_indexed" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val tmp = scratchDir("graft_eval_ngram_idx").toString
      Winnow.writeEvalNgramIndex(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", tmp)
      Winnow.ngramRedactIndexed(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", tmp)
    }),

    // ---- Contamination scan, bloom-pruned: identical result (and
    // oracle) to q_contamination, but train postings are filtered by a
    // distributed-built Bloom sketch of the eval fingerprints BEFORE the
    // shuffle — the train side is the 100 TB side, so the prune removes
    // ~(1-fpp) of the join's shuffle I/O for mostly-disjoint corpora.
    "q_contamination_bloom" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Winnow.crossCorpusOverlapPairsBloomPruned(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", 2)
    }),

    // ---- Near-dup: exact 3-gram Jaccard via shingle posting-list join
    // (no cartesian product; exact-equivalent to all-pairs for t > 0).
    "q_jaccard_pairs" -> ((s, dir) =>
      NearDup.jaccardPairs(Tables.documents(s, dir), "doc_id", "text", 3, 0.5)),

    // ---- The DISPATCHED form: plain posting join vs PPJoin prefix from
    // the corpus's own candidate-mass/posting ratio (M/P = 4.9 here →
    // plain; the boilerplate regime routes prefix — PrefixDemo). Both
    // branches are exact, so the oracle is q_jaccard_pairs' own closure
    // whichever way it routes. See NearDup.jaccardPairsAuto.
    "q_jaccard_auto" -> ((s, dir) =>
      NearDup.jaccardPairsAuto(Tables.documents(s, dir), "doc_id", "text", 3, 0.5)),

    // ---- Incremental near-dedup: today's batch (src0) Jaccard-paired
    // against the standing corpus (everything else) — batch-postings x
    // corpus-postings equi-join, never corpus x corpus. The exact-match
    // twin is q_dedup_incremental.
    "q_jaccard_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      NearDup.crossJaccardPairs(
        docs.filter(col("source") === "src0"),
        docs.filter(col("source") =!= "src0"),
        "doc_id", "text", 3, 0.3)
    }),

    // ---- Incremental near-dedup against a standing LSH index
    // (write-once/serve-many — the IvfFixture pattern for text): the
    // standing corpus's band postings + verify shingle sets publish
    // once and today's batch (src0) joins the FROZEN index, so the
    // corpus contributes a scan per batch, never recompute. The LSH
    // tier has one index layout, so both names run one body
    // (nearDupIncrBucketed) and keep their oracle rows.
    "q_near_dedup_incremental" -> nearDupIncrBucketed _,
    "q_near_dedup_incr_bucketed" -> nearDupIncrBucketed _,

    // ---- The LSH tier's INCREMENTAL PUBLISH: build the standing index
    // WITHOUT yesterday's batch (src1), append src1 via
    // appendBandIndexBucketed (same bucket spec — the no-shuffle serve
    // property survives the append), then serve today's batch (src0)
    // against the grown index. Shares the monolithic rebuild's oracle
    // (standing after append = source <> 'src0' either way) — equality
    // proves append(corpus) ∪ append(batch) ≡ write(corpus ∪ batch).
    "q_near_dedup_incr_appended" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val tmp = scratchDir("graft_lsh_aidx")
      val tbl = tmp.getFileName.toString
      NearDup.writeBandIndexBucketed(
        docs.filter(col("source") =!= "src0" && col("source") =!= "src1"),
        "doc_id", "text", 3, tmp.toString, tbl)
      NearDup.appendBandIndexBucketed(
        docs.filter(col("source") === "src1"), "doc_id", "text", 3, tbl)
      NearDup.incrementalNearDupPairsBucketed(
        docs.filter(col("source") === "src0"),
        "doc_id", "text", 3, 0.5, tbl)
    }),

    // ---- Near-dup: MinHash signatures (16 md5-based hashes, shared with
    // the oracle bit-for-bit).
    "q_minhash_sig" -> ((s, dir) =>
      NearDup.minhashSignatures(
        NearDup.shingles(Tables.documents(s, dir), "doc_id", "text", 3))),

    // ---- Near-dup: LSH-banded candidates (4 bands x 4 rows), exactly
    // verified with true Jaccard on candidate pairs only.
    "q_minhash_pairs" -> ((s, dir) =>
      NearDup.minhashNearDupPairs(Tables.documents(s, dir), "doc_id", "text", 3, 0.5)),

    // ---- Text-side similarity search: top-3 most-similar docs per doc
    // by 3-gram Jaccard (posting-list pairs -> symmetrize -> bounded
    // per-doc rank). See NearDup.textKnn.
    "q_text_knn" -> ((s, dir) =>
      NearDup.textKnn(Tables.documents(s, dir), "doc_id", "text", 3, 0.3, 3)),

    // ---- Approximate-dedup quality audit: LSH candidate recall vs the
    // exact Jaccard ground truth, one row — the published measurement
    // that justifies running only the sketch at full scale. See
    // NearDup.lshRecallEval.
    "q_lsh_recall" -> ((s, dir) =>
      NearDup.lshRecallEval(Tables.documents(s, dir), "doc_id", "text", 3, 0.5)),

    // ---- Banding POLICY table: balanced S-curve error mass per (bands,
    // rows) factorization of the 16-hash signature at the engine's
    // operating threshold 0.5 — the derivation that makes 4x4 a decision,
    // not a constant (argmin row = LshTune.tune(16, 0.5) = (4, 4)).
    // e12 fixed point over an exactly-rounded multiply tree so the same
    // numbers fall out of DuckDB. See LshTune.
    "q_lsh_tune" -> ((s, _) => LshTune.bandingErrorTable(s, 16, 0.5)),

    // ---- North-star composite: corpus dedup = MinHash-LSH pairs →
    // connected components → canonical doc per cluster.
    "q_near_dedup" -> ((s, dir) =>
      NearDup.dedupByNearDup(Tables.documents(s, dir), "doc_id", "text", 3, 0.5)),

    // ---- Dedup diagnostics: cross-source duplicate-mass matrix — which
    // feed pairs share near-dup content (diagonal = within-source
    // duplication). The survivorship-policy-picking audit ahead of a full
    // dedup run; source-pair-count-sized output.
    "q_dup_matrix" -> ((s, dir) =>
      NearDup.crossSourceDupMatrix(Tables.documents(s, dir), "doc_id",
        "text", "source", 3, 0.5)),

    // ---- Dedup decision report: per-doc verdicts from all three tiers
    // (exact fingerprint, text near-dup, embedding cosine) + conjunction
    // + dropped_by provenance — the removal-review audit. Three id-keyed
    // joins over the tiers' scale-safe composites.
    "q_dedup_report" -> ((s, dir) =>
      NearDup.dedupDecisionReport(Tables.documents(s, dir),
        Tables.embeddings(s, dir), "doc_id", "text", "vec_id", "embedding",
        3, 0.5, 0.3)),

    // ---- HYBRID ensemble dedup: text MinHash pairs ∪ embedding cosine
    // pairs (3 stacked tables) → ONE connected-components pass. The
    // production combination — n-gram overlap catches boilerplate-mangled
    // copies, embedding cosine catches paraphrases; either signal joins
    // the cluster. Embeddings share the doc id namespace here.
    "q_hybrid_dedup" -> ((s, dir) =>
      NearDup.dedupByHybrid(Tables.documents(s, dir), Tables.embeddings(s, dir),
        "doc_id", "text", "vec_id", "embedding", 3, 0.5, 0.3, 3)),

    // ---- Hybrid clustering + QUALITY survivorship: the same best-by-
    // score keeper rule as q_dedup_best / q_near_dedup_best, so every
    // dedup tier offers the identical policy pair.
    "q_hybrid_dedup_best" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val scores = TextOps.stats(d, "doc_id", "text")
        .select(col("doc_id"), col("quality").as("score"))
      NearDup.dedupByHybridBest(d, Tables.embeddings(s, dir),
        "doc_id", "text", "vec_id", "embedding", 3, 0.5, 0.3, scores, 3)
    }),

    // ---- Dedup audit: cluster-size distribution of the near-dup
    // components — where the duplicate mass sits (big families vs
    // singleton noise). Two hash aggregates over the composite.
    "q_dedup_cluster_sizes" -> ((s, dir) =>
      ConnectedComponents.sizeHistogram(
        NearDup.dedupByNearDup(Tables.documents(s, dir), "doc_id", "text", 3, 0.5))),

    // ---- Same composite with QUALITY survivorship: keeper = best
    // quality in the cluster (tie-break lowest id) — the policy twin of
    // the exact tier's best-by-score survivor.
    "q_near_dedup_best" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val scores = TextOps.stats(d, "doc_id", "text")
        .select(col("doc_id"), col("quality").as("score"))
      NearDup.dedupByNearDupBest(d, "doc_id", "text", 3, 0.5, scores)
    }),

    // ---- Near-dup: 60-bit SimHash sketch per doc.
    "q_simhash" -> ((s, dir) =>
      NearDup.simhash(Tables.documents(s, dir), "doc_id", "text")),

    // ---- Near-dup: SimHash pairs within Hamming distance 3 (chunk-band
    // candidates + bit_count verify).
    "q_simhash_pairs" -> ((s, dir) =>
      NearDup.simhashPairs(
        NearDup.simhash(Tables.documents(s, dir), "doc_id", "text"), 3)),

    // ---- ANN: exact cosine top-5 for every 50th vector against the full
    // corpus (broadcast queries; sequential-fold cosine for FP parity).
    "q_ann_cosine" -> ((s, dir) =>
      Ann.cosineTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        col("vec_id") % 50 === 0, 5)),

    // ---- ANN scale path: random-hyperplane LSH buckets + multi-probe.
    // Approximate RELATIVE TO exact kNN (recall asserted in AnnSpec), but
    // fully deterministic given the seeded planes — so the DuckDB oracle
    // mirrors the planes, the 37 multi-probe XOR masks, and the
    // sequential-fold cosine, and hash-checks the entire output.
    "q_ann_lsh" -> ((s, dir) =>
      Ann.lshTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        col("vec_id") % 50 === 0, 5)),

    // ---- ANN scale path 2: IVF serving a FROZEN trained index (the
    // production shape: train once per corpus snapshot — graft.tools
    // .FreezeIvf — serve many query batches; recall@5 vs exact is in
    // AnnSpec via ivfTopK). Given the frozen centroids the whole search
    // (cell argmax, probe ranking, exact re-rank) is deterministic; the
    // DuckDB oracle carries the centroids as literals and hash-checks it.
    "q_ann_ivf" -> ((s, dir) =>
      Ann.ivfSearch(Tables.embeddings(s, dir), "vec_id", "embedding",
        IvfFixture.model, col("vec_id") % 50 === 0, 5)),

    // ---- ANN scale path 3: SQ8 two-stage serve (int8 scalar quantization
    // + exact rerank — the train-free FAISS SQFlat+refine shape). Stage-1
    // ranking is EXACT integer arithmetic (codegen dot_product_i8 kernel),
    // so the whole serve is engine-reproducible and the oracle mirrors
    // quantize → int-dot top-20 → cosine rerank top-5 verbatim. Recall
    // floor pinned in AnnSpec (1.000 at candidates=20 on the fixture).
    "q_sq8_search" -> ((s, dir) =>
      Ann.sq8Search(Tables.embeddings(s, dir), "vec_id", "embedding",
        col("vec_id") % 50 === 0, 5, 20)),

    // ---- The same serve against a STANDING SQ8 code index (publish =
    // quantize once; serve scans 4x fewer bytes and amortizes the scale
    // aggregate). The candidate count rides in the scale sidecar and the
    // serve defaults to it (sign-tier symmetry, round 17). Indexed ==
    // fused is spec-pinned, so the fused oracle is exact; the in-bench
    // publish re-pays per attempt by the *_indexed fixture convention.
    "q_sq8_search_indexed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val tmp = scratchDir("graft_sq8_idx").toString
      Ann.writeSq8Index(emb, "vec_id", "embedding", tmp, candidates = 20)
      Ann.sq8SearchIndexed(emb, "vec_id", "embedding",
        col("vec_id") % 50 === 0, 5, tmp)
    }),

    // ---- Recall audit for the SQ8 serve vs the exact cosine truth on the
    // same query tier — one row (n_true, n_caught, recall), q_ann_recall's
    // SQ8 twin; the candidates knob is the recall lever this row prices.
    "q_sq8_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      recallRow(
        Ann.cosineTopK(emb, "vec_id", "embedding",
          col("vec_id") % 50 === 0, 5).select("query_id", "vec_id"),
        Ann.sq8Search(emb, "vec_id", "embedding",
          col("vec_id") % 50 === 0, 5, 20).select("query_id", "vec_id"))
    }),

    // ---- ANN scale path 4: sign-bit (1-bit) two-stage serve — the
    // extreme-compression end next to SQ8 and PQ: the dimension signs
    // pack into ⌈dims/32⌉ 32-bit lanes (16x byte cut at the engine's 64
    // dims; 32-bit lanes because bit 63 of one packed long is a checked-
    // BIGINT overflow on the oracle — Ann.signLane), stage 1 ranks by
    // EXACT integer Hamming (lane-summed built-in bit_count(xor), whole-
    // stage codegen), stage 2 the shared exact-cosine refine. Nothing to
    // train OR freeze — the tier with zero refreeze rules.
    "q_hamming_search" -> ((s, dir) =>
      Ann.hammingSearch(Tables.embeddings(s, dir), "vec_id", "embedding",
        col("vec_id") % 50 === 0, 5, 50)),

    // ---- The same serve against a STANDING lane-column sign index
    // (~16 B/vector). The candidate count C is a PUBLISHED index
    // parameter (recall at fixed C is corpus-dependent — round-17 item
    // 2), so the serve passes no knob: it defaults to the published
    // C=50. Indexed == fused is spec-pinned; in-bench publish re-pays
    // per attempt by the *_indexed fixture convention.
    "q_hamming_search_indexed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val tmp = scratchDir("graft_sign_idx").toString
      Ann.writeSignIndex(emb, "vec_id", "embedding", tmp, candidates = 50)
      Ann.hammingSearchIndexed(emb, "vec_id", "embedding",
        col("vec_id") % 50 === 0, 5, tmp)
    }),

    // ---- Recall audit: sign-bit top-5 vs the exact cosine truth — the
    // candidates knob's price at 1 bit/dim (q_sq8_recall's 1-bit twin),
    // re-pinned at the PUBLISHED C (round-17 item 2): the serve under
    // audit is the standing-index serve at its publish-time candidate
    // count, the exact configuration production would run, not a
    // hand-passed C that could drift from the published one. Publish
    // re-paid in-bench by the *_indexed fixture convention.
    "q_hamming_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val tmp = scratchDir("graft_sign_rec").toString
      Ann.writeSignIndex(emb, "vec_id", "embedding", tmp, candidates = 50)
      recallRow(
        Ann.cosineTopK(emb, "vec_id", "embedding",
          col("vec_id") % 50 === 0, 5).select("query_id", "vec_id"),
        Ann.hammingSearchIndexed(emb, "vec_id", "embedding",
          col("vec_id") % 50 === 0, 5, tmp).select("query_id", "vec_id"))
    }),

    // ---- ANN scale path 5: IVF-SQ8 — the cell-partitioned SQ8 layout
    // (round 17): the point between SQ8-flat (no pruning, one-scalar
    // ops) and IVFPQ (pruned + max compression, codebook burden). Same
    // int8 codes and frozen scale as q_sq8_search, published one
    // directory per coarse cell; the probed serve (nProbe=8 of 16, the
    // probed-PQ serving point — IvfSq8Tune reads the same 0.86 recall
    // at sf0.01, the loss being pure routing) turns its probe set into
    // a literal partition filter so unprobed cells' FILES are never
    // read, then exact int8 dot through TopKPerKey + exact cosine
    // rerank. Publish re-paid in-bench by the *_indexed convention.
    "q_ivfsq8_search" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val tmp = scratchDir("graft_ivfsq8").toString
      Ann.writeSq8IndexByCell(emb, "vec_id", "embedding", tmp,
        IvfFixture.model, candidates = 20)
      Ann.sq8SearchByCell(emb, "vec_id", "embedding",
        col("vec_id") % 50 === 0, 5, tmp, IvfFixture.model, nProbe = 8)
    }),

    // ---- Recall audit for the probed IVF-SQ8 serve vs the exact cosine
    // truth: prices the ROUTING loss (IvfSq8Tune: recall identical at
    // C=20 and C=50, so nProbe is the knob — 0.86 at 8, 1.000 at 16).
    "q_ivfsq8_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val tmp = scratchDir("graft_ivfsq8_rec").toString
      Ann.writeSq8IndexByCell(emb, "vec_id", "embedding", tmp,
        IvfFixture.model, candidates = 20)
      recallRow(
        Ann.cosineTopK(emb, "vec_id", "embedding",
          col("vec_id") % 50 === 0, 5).select("query_id", "vec_id"),
        Ann.sq8SearchByCell(emb, "vec_id", "embedding",
          col("vec_id") % 50 === 0, 5, tmp, IvfFixture.model, nProbe = 8)
          .select("query_id", "vec_id"))
    }),

    // ---- CROSS-TIER ANN DISPATCH (Ann.annSearchAuto — the OPERATIONS.md
    // five-tier selection table as a verb, round-17 item 1): the caller
    // states a recall floor and the chooser serves from the cheapest
    // standing tier that clears it, priced from driver-side metadata
    // only (listing bytes, the sign meta row). Here both cheap standing
    // tiers are published and the floor (0.95) deliberately EXCLUDES the
    // sign tier (its published QuantTune recall is 0.90), so the
    // dispatch must route to the SQ8 index — the byte-cheaper sign index
    // being passed over on recall is the selection table doing its job —
    // and the result is q_sq8_search's own oracle. The other branches
    // (exact at floor 1.0, sign at a clearable floor, PQ's would-serve
    // form, fused fallback) are pinned in AnnSpec via annServeBranch.
    // Publishes re-paid in-bench by the *_indexed fixture convention.
    "q_ann_auto" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val tmp = scratchDir("graft_ann_auto").toString
      Ann.writeSq8Index(emb, "vec_id", "embedding", s"$tmp/sq8")
      Ann.writeSignIndex(emb, "vec_id", "embedding", s"$tmp/sign",
        candidates = 50, measuredRecall = Some(0.90))
      Ann.annSearchAuto(emb, "vec_id", "embedding",
        col("vec_id") % 50 === 0, 5, recallFloor = 0.95,
        sq8Dir = Some(s"$tmp/sq8"), signDir = Some(s"$tmp/sign"))
    }),

    // ---- The SQ8 tier's FULL LIFECYCLE as one oracled row (publish →
    // append → compact → serve), q_pq_cell_day2's flat-tier twin
    // (round-17 item 3): 7/8 of the corpus publishes (freezing the
    // scale on THAT subset — the frozen-grid append contract), the
    // %8==0 slice appends its codes under the published scale, the flat
    // compaction POLICY fires (threshold forced under the append depth —
    // the policy run, not just the bare verb) and rewrites the code dir
    // to sized files, and the indexed serve runs against the compacted
    // codes. Neither append nor compact may change anything stage 1 can
    // observe, so the oracle is the fused form with the scale pinned to
    // the publish subset. Publish + append + compact re-paid in-bench
    // by fixture convention.
    "q_sq8_day2" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val tmp = scratchDir("graft_sq8_day2").toString
      Ann.writeSq8Index(emb.filter(col("vec_id") % 8 =!= 0), "vec_id",
        "embedding", tmp)
      Ann.appendSq8Index(emb.filter(col("vec_id") % 8 === 0), "vec_id",
        "embedding", tmp)
      require(sources.Layout.compactIfNeeded(s, s"$tmp/codes", 1).nonEmpty,
        "flat compaction policy must fire at depth 2")
      Ann.sq8SearchIndexed(emb, "vec_id", "embedding",
        col("vec_id") % 50 === 0, 5, tmp)
    }),

    // ---- The sign tier's lifecycle twin: publish 7/8 (C=50 recorded in
    // the meta row), append the %8 slice (scale-free — nothing frozen to
    // honor; 8/7 growth stays under the retune bar), compact the sig
    // dir, serve at the PUBLISHED C. Signatures are append-invariant, so
    // the oracle is exactly q_hamming_search's fused form.
    "q_hamming_day2" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val tmp = scratchDir("graft_sign_day2").toString
      Ann.writeSignIndex(emb.filter(col("vec_id") % 8 =!= 0), "vec_id",
        "embedding", tmp, candidates = 50)
      Ann.appendSignIndex(emb.filter(col("vec_id") % 8 === 0), "vec_id",
        "embedding", tmp)
      require(sources.Layout.compactIfNeeded(s, s"$tmp/sigs", 1).nonEmpty,
        "flat compaction policy must fire at depth 2")
      Ann.hammingSearchIndexed(emb, "vec_id", "embedding",
        col("vec_id") % 50 === 0, 5, tmp)
    }),

    // ---- The IVF-SQ8 tier's FULL LIFECYCLE as one oracled row
    // (round-18 item 1 — the tier shipped its append/compact verbs in
    // round 17 but, alone among the five standing tiers, no day-N row
    // proving them end-to-end): 7/8 of the corpus publishes — freezing
    // the scale on THAT subset AND binding the centroid fingerprint —
    // the %8 slice appends under the published scale routed by the SAME
    // centroids (the fingerprint guard passes), the PER-CELL compaction
    // policy fires (threshold forced under the append depth — the
    // policy run, not the bare verb) and rewrites each cell to sized
    // files, the drift guard passes (8/7 growth < the 2x bar), and the
    // serve runs at the PUBLISHED (nProbe=8, C=20). Neither append nor
    // compact may change anything stage 1 observes, so the oracle is
    // the fused IVF-SQ8 replay with the scale pinned to the publish
    // subset. Publish + append + compact re-paid in-bench by the
    // fixture convention.
    "q_ivfsq8_day2" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val tmp = scratchDir("graft_ivfsq8_day2").toString
      Ann.writeSq8IndexByCell(emb.filter(col("vec_id") % 8 =!= 0), "vec_id",
        "embedding", tmp, IvfFixture.model)
      Ann.appendSq8IndexByCell(emb.filter(col("vec_id") % 8 === 0), "vec_id",
        "embedding", tmp, IvfFixture.model)
      require(sources.Layout.compactIfNeeded(s, s"$tmp/codes", 1).nonEmpty,
        "cell compaction policy must fire at depth 2")
      Ann.sq8SearchByCell(emb, "vec_id", "embedding",
        col("vec_id") % 50 === 0, 5, tmp, IvfFixture.model)
    }),

    // ---- Cross-tier dispatch, PRUNED-TIER ARM (round-18 item 2: the
    // pq/ivfsq8 dispatch arms — including the probed-byte pricing —
    // were pinned only at the pure-function level, never driven through
    // a real serve against the oracle): both the flat SQ8 index
    // (recall 1.000) and the IVF-SQ8 index (audited 0.86 at the
    // published nProbe=8) are standing, and the floor (0.80) clears
    // both — so the dispatch is decided by PRICED BYTES, where the
    // probed tier's nProbe/nCells share (half the code bytes at 8 of
    // 16) undercuts the flat tier's full scan. The route must be the
    // probed IVF-SQ8 serve at its published configuration; the oracle
    // is q_ivfsq8_search's full replay.
    "q_ann_auto_ivfsq8" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val tmp = scratchDir("graft_ann_auto_i8").toString
      Ann.writeSq8Index(emb, "vec_id", "embedding", s"$tmp/sq8")
      Ann.writeSq8IndexByCell(emb, "vec_id", "embedding", s"$tmp/ivfsq8",
        IvfFixture.model, measuredRecall = Some(0.86))
      Ann.annSearchAuto(emb, "vec_id", "embedding",
        col("vec_id") % 50 === 0, 5, recallFloor = 0.80,
        sq8Dir = Some(s"$tmp/sq8"),
        ivfSq8Dir = Some(s"$tmp/ivfsq8"),
        ivfSq8Coarse = Some(IvfFixture.model))
    }),

    // ---- Cross-tier dispatch, DRIFT-EXCLUSION ARM (round-18 item 2):
    // the IVF-SQ8 index publishes on the %8 slice (with an audited
    // recall that WOULD clear the floor) and then grows 8x by appends —
    // past the 2x retune bar, so its published recall is unclaimable
    // and its own serve guard would fail it loudly. The dispatcher must
    // EXCLUDE it (StandingIndex.driftExcluded — a soft "pick me a tier" call
    // must not route into a crash) and fall through to the flat SQ8
    // index, the cheapest remaining qualifier: the result is
    // q_sq8_search's own oracle, byte-cheaper probed tier passed over.
    "q_ann_auto_drift" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val tmp = scratchDir("graft_ann_auto_drift").toString
      Ann.writeSq8Index(emb, "vec_id", "embedding", s"$tmp/sq8")
      Ann.writeSq8IndexByCell(emb.filter(col("vec_id") % 8 === 0),
        "vec_id", "embedding", s"$tmp/ivfsq8", IvfFixture.model,
        measuredRecall = Some(0.86))
      Ann.appendSq8IndexByCell(emb.filter(col("vec_id") % 8 =!= 0),
        "vec_id", "embedding", s"$tmp/ivfsq8", IvfFixture.model)
      Ann.annSearchAuto(emb, "vec_id", "embedding",
        col("vec_id") % 50 === 0, 5, recallFloor = 0.80,
        sq8Dir = Some(s"$tmp/sq8"),
        ivfSq8Dir = Some(s"$tmp/ivfsq8"),
        ivfSq8Coarse = Some(IvfFixture.model))
    }),

    // ---- Embedding-cosine near-dup pairs: hyperplane-bucket candidates
    // (equi-join), exact sequential-fold cosine verify — the LSH-banding
    // shape applied to embeddings. Fully oracle-able: the ±1 planes are
    // deterministic literals mirrored into the DuckDB SQL.
    "q_embed_dup_pairs" -> ((s, dir) =>
      Ann.cosineDupPairs(Tables.embeddings(s, dir), "vec_id", "embedding", 0.3)),

    // ---- Same pairs through THREE stacked seed-variant plane tables —
    // the production recall configuration (1-(1-p)^3 per-pair survival);
    // candidates are (table, bucket) postings, MinHash-band style.
    "q_embed_dup_stacked" -> ((s, dir) =>
      Ann.stackedDupPairs(Tables.embeddings(s, dir), "vec_id", "embedding",
        0.3, 3)),

    // ---- Recall audit: stacked-table candidates vs exact cosine truth on
    // a deterministic sample tier (vec_id % 5 — the explicit bound on the
    // one deliberate n²). One audit row; q_lsh_recall's embedding twin.
    "q_ann_recall" -> ((s, dir) =>
      Ann.embeddingRecallEval(Tables.embeddings(s, dir), "vec_id",
        "embedding", col("vec_id") % 5 === 0, 0.3, 3)),

    // ---- Embedding-space corpus dedup composite: cosine dup pairs → CC →
    // canonical keeper per cluster (the semantic twin of q_near_dedup).
    // Oracled end-to-end: bucket/cosine SQL + recursive-CTE closure.
    "q_embed_dedup" -> ((s, dir) =>
      Ann.dedupByCosine(Tables.embeddings(s, dir), "vec_id", "embedding", 0.3)),

    // ---- SemDeDup (Abbas et al. 2023): cluster-then-prune semantic dedup
    // against the frozen IVF quantizer — the published alternative
    // candidate generator to q_embed_dedup's hyperplane buckets. Cell
    // argmax is the q_ann_ivf projection; within-cell upper-triangular
    // prune ordered by centroid-sim ASC (the paper keeps the cell's
    // least-typical member). Deterministic given the frozen centroids, so
    // the oracle mirrors centroids + fold-order dots and hash-checks all
    // of (vec_id, cell, cent_sim, is_kept).
    "q_semantic_dedup" -> ((s, dir) =>
      Ann.semanticDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
        IvfFixture.model, 0.3)),

    // ---- Semantic decontamination: every TRAIN-split vector flagged if
    // its cosine to any EVAL-split vector (the held-out benchmark stand-in,
    // vec_id % 20 == 0) reaches 0.3 — the embedding twin of
    // q_decontam_13gram / q_contamination, catching paraphrased leakage
    // that n-gram overlap misses. Clean rows survive with n_hits = 0.
    // Runs the 3-stacked-table recall configuration: a missed leaked pair
    // costs a benchmark, so this tier gets the high-recall setting.
    "q_semantic_contam" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.semanticContamination(
        emb.filter(col("vec_id") % 20 =!= 0),
        emb.filter(col("vec_id") % 20 === 0),
        "vec_id", "embedding", 0.3, nTables = 3)
    }),

    // ---- Multimodal: binary payload metadata (length, sha256, chunk
    // count, stub-decoded dims). Pure codegen projection over binary.
    "q_media_meta" -> ((s, dir) =>
      Multimodal.metadata(
        Multimodal.withPayload(Tables.documents(s, dir), "text"), "doc_id")),

    // ---- Multimodal: batched mapPartitions decode of REAL PNG payloads
    // (JDK javax.imageio codecs — no external deps): per-doc deterministic
    // PNGs are generated, then actually parsed back. The oracle recomputes
    // width/height/mean from the pixel formula, so a broken encoder OR
    // decoder fails the hash compare; the stub fallback path (non-image
    // payloads) stays covered by MultimodalSpec.
    "q_media_decode" -> ((s, dir) =>
      Multimodal.decodeFeatures(
        Multimodal.imagePayloads(Tables.documents(s, dir), "doc_id"), "doc_id")),

    // ---- Multimodal: batched resize (STUB resampler) — the mapPartitions
    // stage after decode; position-weighted integer checksum over an 8x8
    // byte grid, bit-identical in the oracle.
    "q_media_resize" -> ((s, dir) =>
      Multimodal.resizeFeatures(
        Multimodal.withPayload(Tables.documents(s, dir), "text"), "doc_id")),

    // ---- Multimodal: frame sampling — every 2nd 256-byte chunk of the
    // payload as a "frame" row with exact per-frame byte features (the
    // codegen'd explode plumbing a video pipeline needs; chunk==frame is
    // the declared stub).
    "q_media_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.withPayload(Tables.documents(s, dir), "text"), "doc_id")),

    // ---- Multimodal: frame-level near-dup — items sharing sampled frame
    // content (the video-dedup shape): distinct per-item frame hashes,
    // ubiquitous-frame guard, posting equi-join, shared-frame count per
    // pair. The oracle joins on the exact hex frame bytes, so the md5 key
    // narrowing can only agree or fail loudly.
    "q_frame_dedup" -> ((s, dir) =>
      Multimodal.sharedFramePairs(
        Multimodal.withPayload(Tables.documents(s, dir), "text"), "doc_id")),

    // ---- Multimodal: image-content near-dup — 60-bit dHash over the
    // REAL decoded raster (gradient grid, Multimodal.dHash60), candidate
    // pairs via the SAME 10-bit pigeonhole chunk join as text SimHash
    // (NearDup.simhashPairs, reused verbatim), exact Hamming verify. The
    // oracle recomputes every hash from the PNG generator's closed-form
    // pixel formula and replays the Hamming join all-pairs — equivalent
    // by the pigeonhole guarantee (hamming<=4 < 6 chunks forces a shared
    // chunk), so the banding can't be wrong without the hash compare
    // failing. The Spark side must actually parse PNG bytes to match.
    "q_image_neardup" -> ((s, dir) =>
      NearDup.simhashPairs(
        Multimodal.imageHashes(
          Multimodal.imagePayloads(Tables.documents(s, dir), "doc_id"),
          "doc_id"), 4)),

    // ---- Events: tumbling 1h windowed aggregation (batch form; the
    // streaming form with watermark is asserted equal in EventOpsSpec).
    "q_events_window" -> ((s, dir) => EventOps.tumblingAgg(Tables.events(s, dir))),

    // ---- Events: JSON property extraction + aggregate.
    "q_events_json" -> ((s, dir) => EventOps.jsonPropAgg(Tables.events(s, dir))),

    // ---- Events: gap-based sessionization (30 min).
    "q_sessions" -> ((s, dir) => EventOps.sessionize(Tables.events(s, dir))),

    // ---- SCD2 intervals from a change log: each user's event stream
    // becomes [valid_from, valid_to) state rows via a lead() window — one
    // shuffle on user_id, in-partition sort, the standard point-in-time
    // dimension build. Open intervals (current state) have null valid_to.
    "q_scd2" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("valid_to_us", lead(col("us"), 1).over(w))
        .select(col("user_id"), col("event_id"),
          col("event_type").as("state"),
          col("us").as("valid_from_us"), col("valid_to_us"))
    }),

    // ---- Pivot: per-cohort event-type counts as columns. The value list
    // is explicit, so Spark skips the extra distinct-values pass; counts
    // are coalesced to 0 because Spark's pivot emits NULL for a (cohort,
    // value) combination with no rows while SQL's count(*) FILTER emits 0
    // — on any data where a cohort misses an event type the two would
    // otherwise diverge.
    "q_pivot_events" -> ((s, dir) => {
      val values = Seq("view", "click", "purchase", "signup", "error")
      val p = Tables.events(s, dir)
        .groupBy((col("user_id") % 10).as("cohort"))
        .pivot("event_type", values)
        .agg(count(lit(1)))
      p.select(col("cohort") +:
        values.map(v => coalesce(col(v), lit(0L)).as(v)): _*)
    }),

    // ---- Histogram: fixed-width binning of a numeric column (floor
    // division to the bin origin) + count — the profiling primitive; pure
    // hash aggregate, bin count bounded by the value range not the data.
    "q_histogram" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy((floor(col("n_chars") / 50) * 50).cast("long").as("bin_lo"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))),

    // ---- Grouped top-k as a MERGEABLE AGGREGATE (typed Aggregator): each
    // user's first 3 events via min_k — map-side partial aggregation
    // reduces every group to <= k values BEFORE the shuffle (a
    // billion-event user ships 3 longs, not a billion rows), unlike the
    // window row_number form which shuffles and sorts whole groups
    // (q_topk_per_source shows that shape). Plan asserted in MinKSpec.
    "q_first_events" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(graft.functions.MinK.min_k(col("event_id"), 3).as("firsts"))
        .select(col("user_id"),
          posexplode(col("firsts")).as(Seq("rk", "event_id")))
        .select(col("user_id"), col("rk").cast("long").as("rk"),
          col("event_id"))),

    // ---- Salted two-stage distinct: per event_type distinct users with
    // the hot-key-proof (key, hash(value) mod 16) pre-aggregation —
    // exact-equivalent to plain count_distinct (oracle) while spreading
    // each key's distinct work over 16 reducers.
    "q_salted_distinct" -> ((s, dir) =>
      Skew.saltedCountDistinct(Tables.events(s, dir), "event_type", "user_id", 16)),

    // ---- As-of join (point-in-time): each view event attached to the
    // user's most recent purchase at-or-before it — union-and-sweep (one
    // shuffle on user_id + in-partition sort), never a per-key cartesian.
    // Right side pre-aggregated to one row per (user_id, ts) for
    // determinism; oracle = DuckDB's native ASOF LEFT JOIN.
    "q_asof_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("us").as("ts_us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("us").as("ts_us"))
        .agg(max(col("event_id")).as("purchase_id"))
      AsofJoin.asofJoin(views, purchases, Seq("user_id"), "ts_us")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("asof_purchase_id").as("asof_purchase"),
          col("asof_ts_us"),
          (col("ts_us") - col("asof_ts_us")).as("gap_us"))
    }),

    // ---- Bucketed time-range self-join: same-user event pairs within
    // 10 min of each other. The naive |ta-tb| theta-join is a per-key
    // cartesian; bucketing by window width turns it into a plain equi-join
    // on (user_id, bucket) with a 3x exploded probe side — linear shuffle,
    // AQE-skew-splittable, each pair emitted exactly once.
    "q_range_join" -> ((s, dir) =>
      RangeJoin.timeRangePairs(Tables.events(s, dir),
        "user_id", "event_id", "ts", 600)),

    // ---- A KEYLESS range join written as the naive SQL theta-join
    // (global burst detection: any two events within 2s of each other).
    // Without the plans.TimeRangeJoinRewrite optimizer rule this can only
    // plan as a nested-loop cartesian — the rule rewrites the
    // abs(a.us - b.us) <= W conjunct into the bucket-and-explode
    // equi-join automatically, so plain SQL users get the linear-shuffle
    // plan without knowing the trick (plan asserted nested-loop-free in
    // TimeRangeJoinRewriteSpec; keyed range joins keep their hash join
    // and use the explicit RangeJoin operator instead — see the rule's
    // Scaladoc for why).
    "q_range_join_sql" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
        .createOrReplaceTempView("graft_events_us")
      s.sql("SELECT a.event_id AS id_a, b.event_id AS id_b, " +
        "abs(a.us - b.us) AS gap_us " +
        "FROM graft_events_us a JOIN graft_events_us b " +
        "ON a.event_id < b.event_id AND abs(a.us - b.us) <= 2000000")
    }),

    // ---- Events: windowed conversion funnel (view -> click -> purchase,
    // each stage within 24h of the previous) — greedy-earliest per stage,
    // stages-many filtered min-aggregates chained on user_id, never a
    // per-user sort or an events self-join. See EventOps.funnel.
    "q_funnel" -> ((s, dir) =>
      EventOps.funnel(Tables.events(s, dir), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), 86400000000L)),

    // ---- Events: weekly cohort retention matrix — cohort by first-event
    // week, fraction active per week offset. Single exact-integer division
    // for the rate. See EventOps.retention.
    "q_retention" -> ((s, dir) =>
      EventOps.retention(Tables.events(s, dir), "user_id", "ts", 8)),

    // ---- Events: deterministic dedup-by-key (batch twin of the bounded-
    // state streaming dedup, dropDuplicatesWithinWatermark — key-set
    // equality asserted in EventOpsSpec).
    "q_events_dedup" -> ((s, dir) => EventOps.dedupHourly(Tables.events(s, dir))),

    // ---- Left-semi join: customers with at least one URGENT open order —
    // existence check WITHOUT materializing the match (the probe stops at
    // the first hit; no fan-out however many orders match). The
    // dedup-against-reference shape (q_dedup_incremental is its anti
    // twin over fingerprints).
    "q_semi_join" -> ((s, dir) =>
      Tables.customer(s, dir).join(
        Tables.orders(s, dir)
          .filter(col("o_orderpriority") === "1-URGENT" &&
            col("o_orderstatus") === "O"),
        col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))),

    // ---- Left-anti join: orders no lineitem references — referential
    // orphan scan. Same single-shuffle cost as the semi form; the filter
    // on the right side is pushed to its scan.
    "q_anti_join" -> ((s, dir) =>
      Tables.orders(s, dir).join(
        Tables.lineitem(s, dir).select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))),

    // ---- Global cumulative curve (distributed prefix sum): daily shipped
    // quantity and its running total over the whole date range. The naive
    // `sum() OVER (ORDER BY date)` is a single-partition window — the
    // worst scaling cliff in the window API; PrefixSum.runningTotal is
    // the two-phase scan (range partition → parallel local scan → KB-size
    // offset broadcast) whose wall-clock matches a sort at any scale.
    "q_cum_shipments" -> ((s, dir) => {
      val daily = Tables.lineitem(s, dir)
        .groupBy(col("l_shipdate").cast("date").cast("string").as("ship_date"))
        .agg(sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("day_qty"))
      PrefixSum.runningTotal(daily, "ship_date", "day_qty")
        .withColumnRenamed("cum_day_qty", "cum_qty")
    }),

    // ---- Star-schema broadcast join (the classic analytics shape the
    // reference lacks): fact orders joined to the customer and nation
    // dimensions, revenue per nation for finished orders. Catalyst
    // broadcasts both dims (real parquet stats, no hints needed) so the
    // fact table never shuffles — at 100 TB the orders scan streams
    // through two executor-local hash joins; only the tiny per-nation
    // aggregate exchanges.
    "q_star_join" -> ((s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_orderstatus") === "F")
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("revenue_cents"),
          count_distinct(col("o_custkey")).as("n_customers"))),

    // ---- Bucketed co-located join: both tables published in 8 buckets
    // on the join key (Layout.publishBucketed, one file per bucket), so
    // the sort-merge join consumes bucket files directly
    // — ZERO exchanges feeding the join (the only shuffle left is the
    // final small aggregate; asserted in DedupSpec's plan test). The
    // "merge" hint keeps Catalyst from broadcasting the small dim, which
    // would hide the co-location this query demonstrates. At 100 TB,
    // bucketing both fact tables on the join key at write time is the
    // difference between joining in place and re-shuffling the corpus on
    // every query.
    "q_bucketed_join" -> ((s, dir) => {
      val tmpPath = scratchDir("graft_bucket")
      val tmp = tmpPath.toString
      // Unique catalog names per run (see q_dedup_incr_indexed note).
      val base = tmpPath.getFileName.toString
      sources.Layout.publishBucketed(Tables.orders(s, dir), "o_custkey",
        s"${base}_orders", s"$tmp/orders_b", 8)
      sources.Layout.publishBucketed(Tables.customer(s, dir), "c_custkey",
        s"${base}_customer", s"$tmp/customer_b", 8)
      s.table(s"${base}_orders").hint("merge")
        .join(s.table(s"${base}_customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("revenue_cents"))
    }),

    // ---- ROLLUP (grouping sets): revenue at (status, priority), per
    // status, and grand total in ONE pass — Catalyst expands the grouping
    // sets before the partial aggregate, so the input is still read once
    // and map-side combined. Subtotal NULLs are coalesced to 'ALL' (the
    // fixture columns are non-null, so the marker is unambiguous).
    "q_rollup" -> ((s, dir) =>
      Tables.orders(s, dir)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("revenue_cents"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("revenue_cents"))),

    // ---- CUBE: all four grouping sets of (status, priority) in one
    // pass — same single-scan expand as ROLLUP, plus the priority-only
    // subtotal a rollup omits.
    "q_cube" -> ((s, dir) =>
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("revenue_cents"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("revenue_cents"))),

    // ---- Filter/projection pushdown showcase: the predicate and the
    // 3-column projection both reach the parquet scan (PushedFilters +
    // pruned ReadSchema — ExplainAll, round 1; PlanGuaranteesSpec pins
    // both). At 100 TB
    // this is the difference between scanning 3 columns of matching
    // row groups and scanning everything.
    "q_filter_pushdown" -> ((s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_totalprice") > 100000.0 && col("o_orderstatus") === "F")
        .select("o_orderkey", "o_custkey", "o_totalprice")),

    // ---- ETL shape (O1/O2): temp-view handoff + SQL entry + canonical
    // dedup + deterministic distributed surrogate id (zipWithIndex, no
    // global single-partition window).
    "q_etl_orders" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView(pipeline.Etl.ExtractedView)
      val src = s.sql(s"SELECT * FROM ${pipeline.Etl.ExtractedView}")
      val ded = Dedup.canonical(src, Seq("o_custkey", "o_orderdate"), Seq(col("o_orderkey")))
      pipeline.Etl.withDeterministicId(ded, "o_orderkey")
        .select("o_orderkey", "o_custkey", "o_totalprice", "id")
    }),

    // ---- JDBC sink roundtrip through embedded Derby: truncate-overwrite
    // a per-status aggregate, append it again, read back over JDBC and
    // re-aggregate — exactly two copies of every row by construction, so
    // the relational load path (K3 append / K4 truncate) is hash-checked
    // against pure SQL over orders instead of spec-only. See
    // Etl.jdbcRoundTrip.
    "q_jdbc_roundtrip" -> ((s, dir) =>
      pipeline.Etl.jdbcRoundTrip(s, Tables.orders(s, dir))),

    // ---- Partitioned-layout roundtrip: write events PARTITIONED BY
    // event_type, read back filtered to one partition (the scan lists only
    // that directory — partition pruning, the difference between reading
    // 1/5th and all of a 100 TB table), aggregate per user. Oracle = the
    // same aggregate over the original table: equality proves the
    // partitioned write/read was lossless AND the pruned scan saw every
    // row of the partition.
    "q_parquet_partitioned" -> ((s, dir) => {
      val tmpPath = scratchDir("graft_part")
      val out = s"${tmpPath.toString}/events_by_type"
      Tables.events(s, dir).write.mode("overwrite")
        .partitionBy("event_type").parquet(out)
      s.read.parquet(out)
        .filter(col("event_type") === "click")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("sum_value_cents"),
          min(unix_micros(col("ts"))).as("first_us"))
    }),

    // ---- Layout maintenance roundtrip: fragment the customer table into
    // 40 small files, compact to byte-targeted outputs (Layout.compact —
    // narrow coalesce, no shuffle), range-cluster a second copy
    // (Layout.writeClustered), then aggregate the compacted read. Oracle
    // = the same aggregate over the source table: any row lost or mangled
    // by either rewrite breaks the hash match. File-count and
    // disjoint-range assertions live in LayoutSpec.
    "q_compact_roundtrip" -> ((s, dir) => {
      val tmpPath = scratchDir("graft_compact")
      val frag = s"$tmpPath/fragmented"
      val comp = s"$tmpPath/compacted"
      val clus = s"$tmpPath/clustered"
      val c = Tables.customer(s, dir)
      c.repartition(40).write.mode("overwrite").parquet(frag)
      sources.Layout.compact(s, frag, comp, 1L << 20)
      sources.Layout.writeClustered(c, clus, 6, "c_custkey")
      val clustered = s.read.parquet(clus)
        .select(col("c_custkey"), col("c_nationkey"))
      s.read.parquet(comp)
        .join(clustered, Seq("c_custkey", "c_nationkey"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("c_custkey")).as("sum_keys"))
    }),

    // ---- Publish: hash-sharded write + per-shard integrity manifest.
    // shard = md5hash60(doc_id) mod 8 (stable under corpus growth), the
    // manifest is (n_rows, bit-XOR of row hashes) per shard — order-
    // independent, so reproducible on any cluster layout and replayable
    // by the oracle straight off the source table: equality proves the
    // sharded write/read was lossless AND complete. See
    // Layout.writeSharded/shardManifest.
    "q_shard_manifest" -> ((s, dir) => {
      val out = s"${scratchDir("graft_shards")}/shards"
      val d = Tables.documents(s, dir).select("doc_id", "text")
      sources.Layout.writeSharded(d, out, "doc_id", 8)
      sources.Layout.shardManifest(s.read.parquet(out), "shard",
        graft.functions.md5hash60(
          concat_ws("|", col("doc_id").cast("string"), md5(col("text")))))
    }),

    // ---- ORC roundtrip: the second columnar format (predicate pushdown
    // + column pruning work the same as parquet). Write orders as ORC,
    // read back with a pushed filter, aggregate — oracle is the same
    // aggregate over the parquet table, so any value mangled by the
    // ORC write/read breaks the hash.
    "q_orc_roundtrip" -> ((s, dir) => {
      val tmpPath = scratchDir("graft_orc")
      val out = s"$tmpPath/orders_orc"
      Tables.orders(s, dir).write.mode("overwrite").orc(out)
      s.read.orc(out)
        .filter(col("o_orderstatus") === "F")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("revenue_cents"))
    }),

    // ---- Multi-distinct aggregation: several COUNT(DISTINCT ...) in one
    // pass — Catalyst plans the Expand-based rewrite (one row per
    // distinct-column group), the single-scan shape for audience/overlap
    // reports that would otherwise need one job per distinct column.
    "q_multi_distinct" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("n_users"),
          count_distinct(to_date(col("ts")).cast("string")).as("n_days"),
          count(lit(1)).as("n_events"))),

    // ---- JSON-lines roundtrip: write documents as JSON, read back both
    // inferred and explicit-schema, aggregate the explicit-schema read.
    // Oracle = the same aggregate over the parquet table: any value
    // mangled by the JSON write/read breaks the hash match (the inferred
    // read feeds a row-count column, proving that surface scanned all
    // rows too).
    "q_json_roundtrip" -> ((s, dir) => {
      val tmpPath = scratchDir("graft_json_rt")
      val out = s"${tmpPath.toString}/docs"
      val docs = Tables.documents(s, dir)
      sources.Json.write(docs, out)
      val nInferred = sources.Json.readInferred(s, out).count()
      sources.Json.readWithSchema(s, out, docs.schema)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"),
          count_distinct(col("text")).as("n_texts"))
        .withColumn("n_inferred", lit(nInferred))
    }),

    // ---- S1-S4/K1-K2/F6 end-to-end: write customer to CSV (single-file
    // K1 + parallel K2), read back through all four read surfaces
    // (all-string S1, format API S2, inferred S3, directory glob S4) with
    // the required-column guard, and aggregate the INFERRED roundtrip.
    // Oracle = the same aggregate over the parquet table directly: any
    // value lost or mangled by the CSV write/read breaks the hash match.
    "q_csv_roundtrip" -> ((s, dir) => {
      // The returned DataFrame lazily re-reads $tmp/single, so the dir can
      // only go away at JVM exit — scratchDir enqueues it for the single
      // shared hook (one hook per JVM, not one per invocation; a long
      // bench session runs this query dozens of times).
      val tmpPath = scratchDir("graft_csv_rt")
      val tmp = tmpPath.toString
      val customer = Tables.customer(s, dir)
      sources.Sinks.writeSingleCsv(customer, s"$tmp/single")   // K1
      sources.Sinks.writeCsv(customer, s"$tmp/multi")          // K2
      val inferred = sources.Csv.requireColumns(               // S3 + F6
        sources.Csv.readInferred(s, s"$tmp/single"),
        Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
      // The other three readers feed row-count columns: equality with the
      // parquet count proves each surface scanned the full roundtrip.
      val nAllString = sources.Csv.readAllString(s, s"$tmp/single").count() // S1
      val nFormat = sources.Csv.readFormat(s, s"$tmp/single").count()       // S2
      val nGlob = sources.Csv.readDirectory(s, s"$tmp/multi").count()       // S4
      inferred.groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(expr("CAST(round(c_acctbal * 100) AS BIGINT)")).as("sum_acctbal_cents"),
          min(col("c_name")).as("min_name"),
          count_distinct(col("c_custkey")).as("n_custkeys"))
        .withColumn("n_allstring", lit(nAllString))
        .withColumn("n_format", lit(nFormat))
        .withColumn("n_glob", lit(nGlob))
    }),

    // ---- Directed n-gram containment: subset-duplication scan (a doc
    // quoted wholesale inside a longer host — symmetric Jaccard misses it
    // once the host dwarfs the quote). Same posting-list equi-join scale
    // shape as q_jaccard_pairs.
    "q_containment_pairs" -> ((s, dir) =>
      NearDup.containmentPairs(Tables.documents(s, dir), "doc_id", "text", 3, 0.8)),

    // ---- Span-level exact substring dedup (the suffix-array tier of LLM
    // dedup, join-friendly form): maximal verbatim token runs >= 8 tokens
    // per doc pair, from positioned k-gram postings + diagonal
    // gaps-and-islands. Fully DuckDB-oracled (md5 gram hashes, integer
    // positions).
    "q_substring_spans" -> ((s, dir) =>
      SubstringDedup.sharedSpans(Tables.documents(s, dir), "doc_id", "text", 8)),

    // ---- The rewrite pass over those spans: higher-id side of each pair
    // loses the duplicated tokens (min-key keeper convention), text
    // rebuilt from the surviving original-case tokens.
    "q_substring_dedup" -> ((s, dir) =>
      SubstringDedup.removeSharedSpans(Tables.documents(s, dir), "doc_id", "text", 8)),

    // ---- Decontamination by REDACTION: train docs (doc_id % 2 == 0)
    // rewritten with every >= 8-token run shared verbatim with ANY eval
    // doc (% 2 == 1) removed — keep the doc, cut the leak (the surgical
    // complement of the verdict tiers q_contamination_score /
    // q_decontam_13gram). Every train doc survives with n_removed.
    "q_redact_eval" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      SubstringDedup.redactEvalSpans(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", 8)
    }),

    // ---- C4/RefinedWeb line-dedup tier at k-token segment granularity:
    // the prevalence audit (which segments appear in >= 5 distinct docs)
    // and the removal pass (drop EVERY occurrence — no keeper; the
    // keep-one form is q_substring_dedup). One hash aggregate on segment
    // text + one anti-join; segmentation itself is shuffle-free codegen.
    "q_boilerplate_prevalence" -> ((s, dir) =>
      Boilerplate.segmentPrevalence(Tables.documents(s, dir), "doc_id", "text", 3, 5)),
    "q_boilerplate_remove" -> ((s, dir) =>
      Boilerplate.removeBoilerplate(Tables.documents(s, dir), "doc_id", "text", 3, 5)),

    // ---- Intra-document repetition removal (the Gopher duplicate-line
    // signal as a transform): keep only the first occurrence of each
    // distinct 2-token segment within a doc. Per-doc window keys — the
    // shuffle is corpus-linear with no global hot key.
    "q_intradoc_dedup" -> ((s, dir) =>
      Boilerplate.dedupSegmentsWithinDoc(Tables.documents(s, dir), "doc_id", "text", 2)),

    // ---- Tokenizer vocabulary coverage: per-doc OOV counts against the
    // corpus top-20 token vocab (ranks 21+ are out-of-vocabulary here —
    // the fit metric read before committing to a tokenizer vocab).
    // Bounded vocab -> legitimate forced broadcast; everything else is
    // explode + hash agg.
    "q_oov_stats" -> ((s, dir) =>
      TextOps.oovStats(Tables.documents(s, dir), "doc_id", "text", 20)),

    // ---- Gopher duplicate-3-gram fraction: within-doc repetition beyond
    // token/bigram dominance (q_text_repetition) — all occurrences of
    // grams seen >1x in the same doc, exact integer permille.
    "q_dup_ngrams" -> ((s, dir) =>
      TextOps.dupNgramStats(Tables.documents(s, dir), "doc_id", "text", 3)),

    // ---- Token-budget mix assembly: per source, best-quality docs until
    // 800 cumulative tokens (inclusive — no overflow doc). The cumsum is
    // the grouped two-phase prefix scan, not a per-stratum window (which
    // would cap parallelism at the source count).
    "q_token_budget" -> ((s, dir) => {
      val stats = TextOps.stats(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("quality"), col("n_tokens"))
      val withSrc = stats.join(
        Tables.documents(s, dir).select("doc_id", "source"), Seq("doc_id"))
      Sampling.tokenBudgetSelect(withSrc, "doc_id", "source",
        "quality", "n_tokens", 800L)
    }),

    // ---- Keyed upsert (MERGE): a correction batch (every 10th order,
    // repriced) replaces same-key rows of the standing snapshot — one
    // corpus scan + one broadcast anti-join on change keys, the
    // incremental counterpart of the reference's truncate-and-reload
    // (DAG/sample.py:71-87).
    "q_upsert" -> ((s, dir) => {
      val current = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"))
      val updates = current.filter(col("o_orderkey") % 10 === 0)
        .withColumn("price_cents", col("price_cents") * 2)
      Upsert.upsert(current, updates, Seq("o_orderkey"))
    }),

    // ---- CDC apply: mixed change batch — deletes (every 7th key) and
    // upserts (every 10th, repriced) — folded into the snapshot in one
    // anti-join pass; deleted keys fall out of both branches.
    "q_cdc_apply" -> ((s, dir) => {
      val current = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"))
      val changes = current.filter(col("o_orderkey") % 7 === 0)
        .withColumn("op", lit("d"))
        .unionByName(current
          .filter(col("o_orderkey") % 10 === 0 && col("o_orderkey") % 7 =!= 0)
          .withColumn("price_cents", col("price_cents") * 2)
          .withColumn("op", lit("u")))
      Upsert.applyCdc(current, changes, Seq("o_orderkey"), "op")
    }),

    // ---- Salted large-x-large join: lineitem⋈orders on the salted key —
    // result-identical to the plain join (oracle proves it) while a hot
    // orderkey's rows spread over 8 reducers instead of funneling one.
    "q_salted_join" -> ((s, dir) => {
      val probe = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("orderkey"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_cents"))
      val build = Tables.orders(s, dir)
        .select(col("o_orderkey").as("orderkey"), col("o_orderpriority"))
      Skew.saltedJoin(probe, build, Seq("orderkey"), 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("price_cents")).as("sum_price_cents"))
    }),

    // ---- Snapshot diff: per-key churn between two corpus snapshots —
    // output is ONLY the delta (added / removed / changed), the property
    // that makes auditing a 100 TB rebuild affordable. One full-outer
    // shuffle join.
    "q_snapshot_diff" -> ((s, dir) => {
      val prev = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"))
      val cur = prev.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("price_cents",
          when(col("o_orderkey") % 10 === 0, col("price_cents") * 2)
            .otherwise(col("price_cents")))
        .unionByName(prev.filter(col("o_orderkey") % 13 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_custkey"), col("price_cents")))
      Upsert.snapshotDiff(prev, cur, Seq("o_orderkey"))
    }),

    // ---- Schema evolution: two parquet batches written under different
    // schema versions (v2 adds a column) read back as ONE table via
    // mergeSchema — v1 rows surface the new column as null. The
    // append-only corpus reality: schemas drift, old files stay.
    "q_schema_evolution" -> ((s, dir) => {
      val tmp = scratchDir("graft_evolve").toString
      val base = Tables.orders(s, dir).select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"),
        col("o_orderpriority"))
      base.filter(col("o_orderkey") % 2 === 0).drop("o_orderpriority")
        .write.parquet(s"$tmp/t/v1")
      base.filter(col("o_orderkey") % 2 =!= 0)
        .write.parquet(s"$tmp/t/v2")
      s.read.option("mergeSchema", "true").parquet(s"$tmp/t/v1", s"$tmp/t/v2")
        .groupBy(coalesce(col("o_orderpriority"), lit("<v1>")).as("priority"))
        .agg(count(lit(1)).as("n_rows"), sum(col("price_cents")).as("sum_cents"))
    }),

    // ---- Z-order clustering key: Morton interleave of (l_partkey,
    // l_suppkey) as a native codegen expression — the layout key that
    // keeps parquet file stats tight in BOTH dimensions (pruning asserted
    // per-dimension in LayoutSpec; Layout.writeZOrdered is the writer).
    // Pure integer math -> the oracle recomputes the interleave
    // bit-for-bit in SQL.
    "q_zorder" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select((col("l_partkey") % 16).as("bucket"),
          graft.functions.z_order(col("l_partkey"), col("l_suppkey")).as("z"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"), min(col("z")).as("min_z"),
          max(col("z")).as("max_z"), sum(col("z")).as("sum_z"))),

    // ---- Hilbert layout key (q_zorder's locality-better sibling —
    // consecutive indices are Manhattan-adjacent cells, LayoutSpec):
    // same bucket-envelope audit over the codegen hilbert_order key.
    // Oracle replays the 16 quadrant levels as unrolled CTE stages.
    "q_hilbert" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select((col("l_partkey") % 16).as("bucket"),
          graft.functions.hilbert_order(col("l_partkey"), col("l_suppkey")).as("h"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"), min(col("h")).as("min_h"),
          max(col("h")).as("max_h"), sum(col("h")).as("sum_h"))),

    // ---- IN-ENGINE model training: fixed-point nearest-centroid
    // (Rocchio) over hashed presence features, distilling a keyword
    // screen (docs mentioning 'customer') into a dense hashed model. The
    // trained weights come out of a Spark plan — closed-form, one posting
    // join + one aggregate, all-integer, so the oracle hash-checks the
    // MODEL itself, not just a score.
    "q_train_centroid" -> ((s, dir) =>
      QualityModel.trainCentroid(Tables.documents(s, dir), "doc_id",
        "text", array_contains(TextOps.tokens(lower(col("text"))), "customer"))),

    // ---- Training-accuracy audit of the in-engine model: one
    // integer-exact row; ~890 permille vs the 790-permille majority on
    // the fixture — the trainer demonstrably learned (spec pins both).
    "q_centroid_eval" -> ((s, dir) =>
      QualityModel.centroidEval(Tables.documents(s, dir), "doc_id",
        "text", array_contains(TextOps.tokens(lower(col("text"))), "customer"))),

    // ---- Exact distributed selection: the lower median of order value
    // (integer cents) over an UNBOUNDED domain by radix-prefix refinement
    // (Selection.kthSmallest) — four scans with 2^16-group map-side
    // aggregates and KB driver state, never a global sort; the
    // unbounded-domain complement of q_length_quantiles' bounded
    // histogram. Oracle = the row_number spelling.
    "q_exact_median" -> ((s, dir) =>
      Selection.medianReport(
        Tables.orders(s, dir).select(
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")),
        "cents")),

    // ---- Consistent-hash shard assignment (Lamping & Veach jump hash, a
    // native codegen expression): shard under 8 and under 9 shards per
    // doc — growing the shard count moves ONLY the docs landing in the
    // new shard (~1/9 here), where mod-N would reshuffle ~8/9 of 100 TB.
    // The oracle replays the LCG+IEEE-division loop as a recursive CTE
    // over HUGEINT state — bit-exact, the moved set hashes identically.
    "q_shard_jump" -> ((s, dir) => {
      val key = graft.functions.md5hash60(col("doc_id").cast("string"), 0)
      Tables.documents(s, dir).select(
        col("doc_id"),
        graft.functions.jump_hash(key, lit(8L)).as("shard8"),
        graft.functions.jump_hash(key, lit(9L)).as("shard9"))
        .withColumn("moved", col("shard8") =!= col("shard9"))
    }),

    // ---- Quantile bucketing for curation: per-source deciles by doc
    // length — the "keep the top-N% per source" primitive, as an exact
    // ntile window (per-source sort; sources partition the corpus, so the
    // sort parallelizes across them).
    "q_quality_deciles" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          ntile(10).over(w).cast("long").as("decile"))
    }),

    // ---- Null-key skew bypass: left join where null-keyed rows (every
    // 11th order, unattributed) skip the shuffle instead of funneling one
    // hash(null) partition — result identical to the plain left join
    // (oracle proves it).
    "q_null_skew_join" -> ((s, dir) => {
      val left = Tables.orders(s, dir).select(col("o_orderkey"),
        when(col("o_orderkey") % 11 === 0, lit(null).cast("long"))
          .otherwise(col("o_custkey")).as("custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"))
      val right = Tables.customer(s, dir)
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      Skew.nullTolerantLeftJoin(left, right, "custkey")
        .groupBy(coalesce(col("c_mktsegment"), lit("<no-key>")).as("segment"))
        .agg(count(lit(1)).as("n_rows"), sum(col("price_cents")).as("sum_cents"))
    }),

    // ---- Unicode NFC normalization (native codegen expression, mirrors
    // DuckDB nfc_normalize byte-for-byte): byte-stable fingerprints across
    // mixed normalization forms — run before fingerprint/shingle dedup.
    "q_text_normalize" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        length(col("text")).as("len_raw"),
        length(graft.functions.nfc_normalize(col("text"))).as("len_nfc"),
        md5(graft.functions.nfc_normalize(col("text"))).as("fp_nfc"))),

    // ---- Per-label embedding centroids: class prototypes as a
    // map-side-combinable (label, dim) hash aggregate — shuffles
    // labels x dim partial sums, never vectors. Fixed-point sums for
    // engine-exact determinism.
    "q_label_centroid" -> ((s, dir) =>
      Ann.labelCentroids(Tables.embeddings(s, dir), "label", "embedding")),

    // ---- Generic per-column data-quality profile: one pass (Expand-based
    // multi-distinct), one row per column — the first scan every new
    // table gets.
    "q_profile_orders" -> ((s, dir) =>
      Profiler.profile(Tables.orders(s, dir))),

    // ---- Collocation mining: top-100 bigrams with unigram counts — the
    // integer sufficient statistics for PMI/LLR association scoring
    // (phrase vocabularies, tokenizer merges), engine-exact by emitting
    // counts instead of log-ratios.
    "q_bigram_stats" -> ((s, dir) =>
      TextOps.bigramStats(Tables.documents(s, dir), "text", 100)),

    // ---- Prefix-filtered exact Jaccard (AllPairs/PPJoin): result-
    // identical to q_jaccard_pairs, but candidates come only from each
    // doc's RAREST shingles — the boilerplate hot keys drop out of
    // candidate generation entirely. Same oracle SQL as q_jaccard_pairs.
    "q_jaccard_prefix" -> ((s, dir) =>
      NearDup.jaccardPairsPrefix(Tables.documents(s, dir), "doc_id", "text", 3, 0.5)),

    // ---- Trailing 7-day revenue per customer: RANGE-frame window over
    // epoch days (integer cents — deterministic at any parallelism).
    "q_rolling_revenue" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy("day").rangeBetween(-6, 0)
      o.select(col("o_orderkey"), col("o_custkey"), col("day"),
        sum(col("cents")).over(w).as("revenue_7d"),
        count(lit(1)).over(w).as("n_orders_7d"))
    }),

    // ---- Cross-table edit-distance match (master-data / spell-correction
    // shape): every 5th part name gets one deterministic character
    // deletion, then maps back to the clean dictionary within lev <= 1 via
    // the two-table deletion-neighborhood equi-join (never |dirty|x|dict|).
    // Oracle replays the naive levenshtein join.
    "q_dict_match" -> ((s, dir) => {
      val parts = Tables.part(s, dir)
      val dirty = parts.filter(col("p_partkey") % 5 === 0)
        .select(col("p_partkey").as("dirty_id"),
          concat(expr("substring(p_name, 1, CAST((p_partkey DIV 5) % length(p_name) AS INT))"),
            expr("substring(p_name, CAST((p_partkey DIV 5) % length(p_name) AS INT) + 2)"))
            .as("dirty_name"))
      EditDistanceJoin.pairsAgainst(dirty, "dirty_id", "dirty_name",
          parts.select(col("p_partkey"), col("p_name")), "p_partkey", "p_name", 1)
        .withColumn("dist", col("dist").cast("long"))
    }),

    // ---- The same dictionary match served from a PERSISTED standing
    // variant index (the FIFTH write-once/serve-many tier): the
    // dictionary's deletion-variant postings publish once; only the
    // dirty batch explodes at query time. Same oracle as q_dict_match:
    // equality proves the publish/serve roundtrip lossless. The bench
    // row re-pays the publish by fixture convention.
    "q_dict_match_indexed" -> ((s, dir) => {
      val parts = Tables.part(s, dir)
      val dirty = parts.filter(col("p_partkey") % 5 === 0)
        .select(col("p_partkey").as("dirty_id"),
          concat(expr("substring(p_name, 1, CAST((p_partkey DIV 5) % length(p_name) AS INT))"),
            expr("substring(p_name, CAST((p_partkey DIV 5) % length(p_name) AS INT) + 2)"))
            .as("dirty_name"))
      // Unique catalog names per run (see q_dedup_incr_indexed note).
      val tmp = scratchDir("graft_var_idx")
      val tbl = tmp.getFileName.toString
      EditDistanceJoin.writeVariantIndexBucketed(
        parts.select(col("p_partkey"), col("p_name")), "p_partkey", "p_name",
        1, tmp.toString, tbl)
      EditDistanceJoin.pairsAgainstIndexBucketed(
          dirty, "dirty_id", "dirty_name", 1, tbl)
        .withColumn("dist", col("dist").cast("long"))
    }),

    // ---- The dictionary match served from an INCREMENTALLY GROWN
    // bucketed variant index — the day-N loop the CC tier needed
    // (EditDistanceJoin.appendVariantIndexBucketed): the %7!=0 slice of
    // the dictionary publishes as bucketed tables, the %7==0 slice
    // APPENDS (batch-sized work — novel keys anti-joined, postings and
    // members appended under the tables' bucket specs; never a corpus
    // rebuild), and the serve runs against the grown index. The final
    // index content equals the full dictionary, so this shares
    // q_dict_match's oracle — equality proves append ≡ rebuild through
    // the whole serve path. Publish + append re-paid in-bench by
    // fixture convention.
    "q_dict_match_appended" -> ((s, dir) => {
      val parts = Tables.part(s, dir)
      val dirty = parts.filter(col("p_partkey") % 5 === 0)
        .select(col("p_partkey").as("dirty_id"),
          concat(expr("substring(p_name, 1, CAST((p_partkey DIV 5) % length(p_name) AS INT))"),
            expr("substring(p_name, CAST((p_partkey DIV 5) % length(p_name) AS INT) + 2)"))
            .as("dirty_name"))
      val tmp = scratchDir("graft_var_aidx")
      val tbl = tmp.getFileName.toString
      EditDistanceJoin.writeVariantIndexBucketed(
        parts.filter(col("p_partkey") % 7 =!= 0)
          .select(col("p_partkey"), col("p_name")),
        "p_partkey", "p_name", 1, tmp.toString, tbl)
      EditDistanceJoin.appendVariantIndexBucketed(
        parts.filter(col("p_partkey") % 7 === 0)
          .select(col("p_partkey"), col("p_name")),
        "p_partkey", "p_name", tbl)
      EditDistanceJoin.pairsAgainstIndexBucketed(
          dirty, "dirty_id", "dirty_name", 1, tbl)
        .withColumn("dist", col("dist").cast("long"))
    }),

    // ---- Winner policy over the dictionary match: one canonical entry
    // per dirty row (min dist, tie -> min right_id) via a single min_by
    // hash aggregate — the correction table a master-data pipeline
    // actually applies. Oracle replays the policy with a row_number
    // window over the naive join.
    "q_dict_best" -> ((s, dir) => {
      val parts = Tables.part(s, dir)
      val dirty = parts.filter(col("p_partkey") % 5 === 0)
        .select(col("p_partkey").as("dirty_id"),
          concat(expr("substring(p_name, 1, CAST((p_partkey DIV 5) % length(p_name) AS INT))"),
            expr("substring(p_name, CAST((p_partkey DIV 5) % length(p_name) AS INT) + 2)"))
            .as("dirty_name"))
      EditDistanceJoin.bestAgainst(dirty, "dirty_id", "dirty_name",
          parts.select(col("p_partkey"), col("p_name")), "p_partkey", "p_name", 1)
        .withColumn("dist", col("dist").cast("long"))
    }),

    // ---- Retrieval-indexing composite (RAG shape): chunk -> embed (stub,
    // md5-derived — no model runtime here; plumbing is real) -> exact
    // top-3 per query chunk. Chunking/embedding are shuffle-free
    // projections; lshTopK/ivfSearch are the scale paths over the same
    // embedded-chunk table.
    "q_rag_topk" -> ((s, dir) =>
      Retrieval.chunkRetrievalTopK(Tables.documents(s, dir), "doc_id", "text",
        400, 300, 8, 97L, 3)),

    // ---- Embedding-quality eval: 5-NN majority-vote label prediction vs
    // ground truth, per class — deterministic end to end (exact FP-parity
    // scorer + tie-broken votes), so the whole eval is oracled.
    "q_knn_eval" -> ((s, dir) =>
      Ann.knnLabelEval(Tables.embeddings(s, dir), "vec_id", "embedding",
        "label", col("vec_id") % 50 === 0, 5)),

    // ---- EXACT heavy-hitter tokens via a Misra-Gries sketch + exact
    // recount of the <= k candidates: KBs through the shuffle instead of
    // the whole token domain, and the MG guarantee makes the thresholded
    // output exact — so a trivial full-aggregation oracle checks it.
    "q_heavy_hitters" -> ((s, dir) =>
      TextOps.heavyHitterTokens(Tables.documents(s, dir), "text", 30)),

    // ---- Percent-rank normalization: score -> [0,1] rank position per
    // source (deterministic tie-break), the cross-source-comparable form
    // quality filters compose over.
    "q_percent_rank" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), percent_rank().over(w).as("pr"))
    }),

    // ---- Bigram LM self-likelihood: every document scored under the
    // add-one bigram model trained on the whole corpus — the
    // perplexity-style "does this read like the rest" filter statistic,
    // frozen to e12 fixed point per the repo FP contract.
    "q_lm_score" -> ((s, dir) =>
      LanguageModel.likelihood(Tables.documents(s, dir), "doc_id", "text")),

    // ---- CCNet-style domain contrast: in-domain (lang = 'en') vs
    // out-domain bigram models; delta_e12 > 0 reads as target-domain.
    "q_lm_contrast" -> ((s, dir) =>
      LanguageModel.contrast(Tables.documents(s, dir), "doc_id", "text",
        col("lang") === "en")),

    // ---- BM25 lexical retrieval: top-10 documents for a 3-term query —
    // rational idf, exactly-representable k1/b, per-term scores in e12
    // fixed point (see Retrieval.bm25TopK's parity Scaladoc).
    "q_bm25" -> ((s, dir) =>
      Retrieval.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
        Seq("spark", "vector", "dup"), 10)),

    // ---- Content-defined chunking (FastCDC family, token granularity):
    // boundary when md5hash60(token) % 4 == 0 — duplicated spans chunk
    // identically at any offset. Oracle replays boundary flags, running
    // chunk ids, and the ordered rebuild row for row.
    "q_cdc_chunks" -> ((s, dir) =>
      Chunker.contentDefinedChunks(Tables.documents(s, dir), "doc_id", "text", 4)),

    // ---- CDC storage-dedup report: per distinct chunk content, copies /
    // docs / reclaimable token mass.
    "q_cdc_dedup" -> ((s, dir) =>
      Chunker.cdcDedupReport(Tables.documents(s, dir), "doc_id", "text", 4)),

    // ---- Sorted-neighborhood linkage (SNM): levenshtein-verified pairs
    // among the 10 sort-successors of each customer name — the classic
    // n·w-budget blocking family; positions from the distributed
    // densePositions scan, pairing via position-bucket equi-join.
    "q_link_snm" -> ((s, dir) =>
      Linker.sortedNeighborhood(Tables.customer(s, dir), "c_custkey",
        "c_name", 10, 2)),

    // ---- IVFPQ encode: every vector as its coarse IVF cell + 64
    // per-subspace RESIDUAL code ids against the frozen PqFixture
    // codebooks (trained on v − centroid(cell) residuals, the FAISS
    // IVFPQ layout; m=64 × ks=64 chosen by the PqTune recall/latency
    // frontier — recall@5 1.000, the cheapest config over the 0.95
    // serving floor) — the compressed representation a 100 TB ANN
    // stores instead of raw floats.
    "q_pq_encode" -> ((s, dir) =>
      Ann.pqEncode(Tables.embeddings(s, dir), "vec_id", "embedding",
        PqFixture.model, Some(IvfFixture.model))),

    // ---- IVFPQ asymmetric-distance search: per-(query, cell) residual
    // LUT (e12 fixed point), corpus scanned as (cell, codes), integer
    // distance sums joined on (cell, subspace, code), top-5.
    "q_pq_search" -> ((s, dir) =>
      Ann.pqSearch(Tables.embeddings(s, dir), "vec_id", "embedding",
        PqFixture.model, col("vec_id") % 50 === 0, 5,
        Some(IvfFixture.model))),

    // ---- IVFPQ search against a STANDING code index (write-once/
    // serve-many on the ANN tier, completing the pattern the exact,
    // near-dup, and contamination tiers already carry): the corpus ×
    // m·ks code assignment persists once; each query batch reads codes
    // as one scan and only builds its own LUTs. Result-identical to the
    // fused q_pq_search — same oracle.
    "q_pq_search_indexed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val tmp = scratchDir("graft_pq_idx").toString
      Ann.writePqIndex(emb, "vec_id", "embedding", PqFixture.model, tmp,
        Some(IvfFixture.model))
      Ann.pqSearchIndexed(emb, "vec_id", "embedding", PqFixture.model,
        col("vec_id") % 50 === 0, 5, tmp, Some(IvfFixture.model))
    }),

    // ---- The standing code index GROWN INCREMENTALLY (Ann.appendPqIndex
    // — the ANN tier's day-N verb): 7/8 of the corpus publishes, the
    // %8==0 slice appends its own codes (batch-sized encode, same frozen
    // codebooks — a refreeze forces a rebuild by construction), and the
    // search runs against the grown index. Final code content equals the
    // monolithic encode, so this shares q_pq_search's oracle. Publish +
    // append re-paid in-bench by fixture convention.
    "q_pq_search_appended" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val tmp = scratchDir("graft_pq_aidx").toString
      Ann.writePqIndex(emb.filter(col("vec_id") % 8 =!= 0), "vec_id",
        "embedding", PqFixture.model, tmp, Some(IvfFixture.model))
      Ann.appendPqIndex(emb.filter(col("vec_id") % 8 === 0), "vec_id",
        "embedding", PqFixture.model, tmp, Some(IvfFixture.model))
      Ann.pqSearchIndexed(emb, "vec_id", "embedding", PqFixture.model,
        col("vec_id") % 50 === 0, 5, tmp, Some(IvfFixture.model))
    }),

    // ---- The CELL-PARTITIONED standing code layout
    // (Ann.writePqIndexByCell): codes land under cell=N directories and
    // the probe-bounded serve turns its probed-cell union into a static
    // IN partition filter — unprobed cells' files are never read
    // (PqServeSweep: 8/16 files, 67% byte cut for a single query; this
    // row's 40-query batch probes every cell, so here the filter is
    // exercised at full width). Result-identical to the flat probed
    // serve — shares q_pq_probe's oracle. Publish re-paid in-bench by
    // fixture convention.
    "q_pq_probe_pruned" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val tmp = scratchDir("graft_pq_cidx").toString
      Ann.writePqIndexByCell(emb, "vec_id", "embedding", PqFixture.model,
        tmp, IvfFixture.model)
      Ann.pqSearchIndexed(emb, "vec_id", "embedding", PqFixture.model,
        col("vec_id") % 50 === 0, 5, tmp, Some(IvfFixture.model),
        nProbe = 8)
    }),

    // ---- The cell tier's FULL LIFECYCLE as one oracled row (publish →
    // append → compact → probed serve), the ANN counterpart of
    // q_cluster_cc_day2: 7/8 of the corpus publishes by cell, the %8==0
    // slice appends under the cell directories, the compaction POLICY
    // fires (threshold forced under the append depth — the policy run,
    // not just the bare verb) and rewrites to one file per cell, and
    // the probe-bounded serve runs against the compacted index. Neither
    // the append nor the compact may change anything the ADC join can
    // observe, so the closure is q_pq_probe's own. Publish + append +
    // compact re-paid in-bench by fixture convention.
    "q_pq_cell_day2" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val tmp = scratchDir("graft_pq_celld2").toString
      Ann.writePqIndexByCell(emb.filter(col("vec_id") % 8 =!= 0),
        "vec_id", "embedding", PqFixture.model, tmp, IvfFixture.model)
      Ann.appendPqIndexByCell(emb.filter(col("vec_id") % 8 === 0),
        "vec_id", "embedding", PqFixture.model, tmp, IvfFixture.model)
      require(sources.Layout.compactIfNeeded(s, tmp, 1).nonEmpty,
        "cell compaction policy must fire at depth 2")
      Ann.pqSearchIndexed(emb, "vec_id", "embedding", PqFixture.model,
        col("vec_id") % 50 === 0, 5, tmp, Some(IvfFixture.model),
        nProbe = 8)
    }),

    // ---- The ANN tier's COST-BASED DISPATCH (Ann.pqSearchAuto —
    // similarityPairsAuto's pattern on PQ): serving point chosen from
    // corpus size and the PqTune frontier instead of hand-picked per
    // call site. Here the standing index is published and the
    // exhaustive bound is deliberately forced UNDER the fixture corpus
    // (500 ≰ 100), so the dispatch exercises its scale-path composite —
    // indexed source + nProbe=8 probed form — and the result must equal
    // q_pq_probe's (the branch-pinning spec in AnnSpec covers the other
    // three combinations; publish re-paid in-bench by fixture
    // convention).
    "q_pq_search_auto" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val tmp = scratchDir("graft_pq_auto").toString
      Ann.writePqIndex(emb, "vec_id", "embedding", PqFixture.model, tmp,
        Some(IvfFixture.model))
      Ann.pqSearchAuto(emb, "vec_id", "embedding", PqFixture.model,
        col("vec_id") % 50 === 0, 5, Some(IvfFixture.model),
        indexDir = Some(tmp), maxExhaustiveVectors = 100L)
    }),

    // ---- IVFPQ search with the PRODUCTION probe bound (nProbe=8 of 16
    // cells): LUTs built only for each query's best coarse cells, so
    // unprobed vectors never enter the distance sum — the sublinear
    // serving form next to q_pq_search's exhaustive compressed scan.
    // nProbe=8 is the chosen bounded serving point off the PqTune
    // frontier: recall@5 0.86 on the sf0.01 fixture (AnnSpec pins the
    // 0.80 floor so a codebook refreeze can't silently degrade the
    // bounded path); nProbe=4 measured 0.70 — below any defensible
    // serving floor, so the round-12 pin moved the point up.
    "q_pq_probe" -> ((s, dir) =>
      Ann.pqSearch(Tables.embeddings(s, dir), "vec_id", "embedding",
        PqFixture.model, col("vec_id") % 50 === 0, 5,
        Some(IvfFixture.model), nProbe = 8)),

    // ---- BATCH BM25: two queries scored in ONE corpus pass (broadcast
    // query-vocab prune → shared postings → per-query fan-out), top-5
    // each — the production retrieval shape next to q_bm25's single set.
    "q_bm25_batch" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((1L, "spark vector dup"), (2L, "merge order hash"))
        .toDF("query_id", "qtext")
      Retrieval.bm25Batch(Tables.documents(s, dir), "doc_id", "text",
        qs, "query_id", "qtext", 5)
    }),

    // ---- Hard-negative mining: per query, top-5 bucket-mates in the
    // [0.05, 0.3) similarity band — informative contrastive negatives
    // below the dup bar (0.3 = the embedding family's dup threshold).
    "q_hard_negatives" -> ((s, dir) =>
      Ann.hardNegatives(Tables.embeddings(s, dir), "vec_id", "embedding",
        col("vec_id") % 50 === 0, 5, 0.05, 0.3)),

    // ---- IVFPQ recall audit vs the exact L2 top-5 (query-bounded exact
    // scan, the sample-tier contract): one hash-checked audit row.
    "q_pq_recall" -> ((s, dir) =>
      Ann.pqRecallEval(Tables.embeddings(s, dir), "vec_id", "embedding",
        PqFixture.model, col("vec_id") % 50 === 0, 5,
        Some(IvfFixture.model))),

    // ---- In-engine BPE tokenizer training: 6 merges learned over the
    // corpus (pair-count hash agg + argmax + codegen fold per round, all
    // on the vocabulary-bounded distinct-word table). Oracle replays
    // every round as unrolled CTEs with positional merge semantics.
    "q_bpe_train" -> ((s, dir) =>
      Bpe.train(Tables.documents(s, dir), "text", 6)),

    // ---- Encode with the trained merges: per-doc word/subword counts —
    // the token-budget readout of a candidate tokenizer. Train's collect
    // is the model artifact (K6 driver materialization by semantics).
    "q_bpe_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val m = Bpe.train(docs, "text", 6).orderBy("merge_rank")
        .select("x", "y").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      Bpe.encode(docs, "doc_id", "text", m)
    }),

    // ---- SNM recall audit: the window-10 neighborhood's catch rate
    // against the exact lev<=2 pair set — the number that prices the
    // n·w budget (same measure-then-trust contract as the LSH/PQ
    // audits, and like them run on a deterministic sample tier: the
    // truth side re-runs the exact deletion join, which is the cost the
    // audited operator exists to avoid paying corpus-wide).
    "q_link_snm_recall" -> ((s, dir) =>
      Linker.sortedNeighborhoodRecall(
        Tables.customer(s, dir).filter(col("c_custkey") % 3 === 0),
        "c_custkey", "c_name", 10, 2)),

    // ---- MULTI-PASS SNM recall audit (Hernández–Stolfo's published fix
    // for single-pass SNM's recall ceiling): one audit row per sort-key
    // pass — forward / reversed / sorted-chars — plus their union, vs
    // the exact lev<=2 truth on the same fixture as q_link_snm_recall.
    // Misses of independent keys multiply, so the union row beats every
    // single key's; the verify always compares the REAL name.
    "q_link_snm_multi_recall" -> ((s, dir) =>
      Linker.sortedNeighborhoodMultiRecall(
        Tables.customer(s, dir).filter(col("c_custkey") % 3 === 0),
        "c_custkey", "c_name",
        Seq("forward" -> col("c_name"),
          "reversed" -> reverse(col("c_name")),
          "sorted_chars" -> concat_ws("", sort_array(split(col("c_name"), "")))),
        10, 2)),

    // ---- SNM transitive-closure audit (the Hernández–Stolfo method's
    // FINAL step: duplicates = the closure of the multi-pass union):
    // recall AND precision for the raw union and for all in-component
    // pairs after CC over the union edges, vs the exact lev<=2 truth on
    // the same fixture. The closure's recall gain is only meaningful
    // next to its precision bill — both columns in one audit row pair.
    "q_link_snm_tc_recall" -> ((s, dir) =>
      Linker.sortedNeighborhoodTcRecall(
        Tables.customer(s, dir).filter(col("c_custkey") % 3 === 0),
        "c_custkey", "c_name",
        Seq(col("c_name"), reverse(col("c_name")),
          concat_ws("", sort_array(split(col("c_name"), "")))),
        10, 2)),

    // ---- DSIR importance weights: every document weighted by hashed-
    // bigram target/raw probability ratios (target = lang 'en'), e6
    // fixed point — the importance-resampling selection signal.
    "q_dsir_weights" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      LanguageModel.importanceWeights(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text", 256)
    }),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "q_dedup_exact" ->
      "SELECT DISTINCT l_partkey, l_suppkey FROM lineitem",
    "q_dedup_rows" ->
      "SELECT DISTINCT * FROM lineitem",
    "q_dedup_stats" ->
      ("SELECT count(*) AS n_rows, " +
        "(SELECT count(*) FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)) AS n_distinct " +
        "FROM lineitem"),
    "q_dedup_survivor" ->
      ("SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY c_name ORDER BY c_custkey) AS rn FROM customer) " +
        "WHERE rn = 1"),
    "q_surrogate_id" ->
      "SELECT count(*) AS n, count(*) AS n_ids FROM (SELECT DISTINCT c_name FROM customer)",
    "q_dedup_best" ->
      ("WITH scored AS (SELECT doc_id, " +
        "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp, " +
        "round((CASE WHEN n_tokens >= 10 AND n_tokens <= 5000 THEN 1.0 ELSE 0.5 END) * 0.4 " +
        " + (1.0 - (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END)) * 0.3 " +
        " + least((CASE WHEN n_tokens > 0 THEN CAST(n_stop_en AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) * 5.0, 1.0) * 0.3, 6) AS q " +
        "FROM (SELECT doc_id, text, " +
        s"$sqlTokenCount AS n_tokens, " +
        "length(text) AS n_chars, " +
        "length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct, " +
        s"${sqlStopHits(TextOps.stopwords("en"))} AS n_stop_en " +
        "FROM documents)) " +
        "SELECT fp, doc_id AS best_doc, q AS best_quality FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY fp ORDER BY q DESC, doc_id) AS rn FROM scored) " +
        "WHERE rn = 1"),
    "q_dedup_incremental" -> sqlDedupIncrementalOracle,
    // The bucketed-index serve computes the identical result; same
    // recompute oracle (the q_near_dedup_incr_bucketed argument).
    "q_dedup_incr_indexed" -> sqlDedupIncrementalOracle,
    // Appended-index serve: standing after append = distinct fps of
    // source <> 'src0', so the monolithic oracle proves the append.
    "q_dedup_incr_appended" -> sqlDedupIncrementalOracle,
    // Equality with the direct aggregate proves the partitioned write/read
    // roundtrip in the Spark query was lossless and the pruned scan complete.
    // Replays the manifest straight off the source table: shard and
    // checksum are pure md5 arithmetic, so the on-disk roundtrip must be
    // lossless and complete for the hashes to meet.
    "q_shard_manifest" ->
      ("WITH h AS (SELECT " +
        s"${sqlHash60("CAST(doc_id AS VARCHAR)", 0)} % 8 AS shard, " +
        s"${sqlHash60("CAST(doc_id AS VARCHAR) || '|' || md5(text)", 0)} AS rh " +
        "FROM documents) " +
        "SELECT shard, count(*) AS n_rows, bit_xor(rh) AS checksum " +
        "FROM h GROUP BY shard"),
    "q_orc_roundtrip" ->
      ("SELECT o_orderpriority, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents " +
        "FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority"),
    "q_multi_distinct" ->
      ("SELECT event_type, count(DISTINCT user_id) AS n_users, " +
        "count(DISTINCT CAST(CAST(ts AS DATE) AS VARCHAR)) AS n_days, " +
        "count(*) AS n_events FROM events GROUP BY event_type"),
    "q_compact_roundtrip" ->
      ("SELECT c_nationkey, count(*) AS n_customers, " +
        "CAST(sum(c_custkey) AS BIGINT) AS sum_keys " +
        "FROM customer GROUP BY c_nationkey"),
    "q_parquet_partitioned" ->
      ("SELECT user_id, count(*) AS n_events, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents, " +
        "min(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us " +
        "FROM events WHERE event_type = 'click' GROUP BY user_id"),
    "q_link_pairs_lev" ->
      ("SELECT a.c_custkey AS id_a, a.c_name AS key_a, b.c_custkey AS id_b, b.c_name AS key_b " +
        "FROM customer a JOIN customer b ON levenshtein(a.c_name, b.c_name) <= 2"),
    "q_link_agg_lev" ->
      ("SELECT a.c_custkey AS c_custkey, count(*) AS n_linked, " +
        "string_agg(b.c_name, ',' ORDER BY b.c_name) AS linked_keys " +
        "FROM customer a JOIN customer b ON levenshtein(a.c_name, b.c_name) <= 2 " +
        "GROUP BY a.c_custkey"),
    "q_link_window" ->
      ("SELECT uniqId AS \"uniqId\", " +
        "array_to_string(list_sort(list(DISTINCT name_a)), ',') AS \"CollectedNames\" " +
        "FROM (SELECT least(a.c_name, b.c_name) AS uniqId, a.c_name AS name_a " +
        "      FROM customer a JOIN customer b " +
        "      ON a.c_name <> b.c_name AND levenshtein(a.c_name, b.c_name) <= 1) " +
        "GROUP BY uniqId"),
    "q_cluster_cc" ->
      ("WITH RECURSIVE e AS (" +
        "SELECT a.c_custkey AS u, b.c_custkey AS v FROM customer a JOIN customer b " +
        "ON levenshtein(a.c_name, b.c_name) <= 1), " +
        "reach(u, v) AS (SELECT u, v FROM e " +
        "UNION SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u) " +
        "SELECT u AS c_custkey, min(v) AS component FROM reach GROUP BY u"),
    // The incremental serve must equal the FULL-graph closure restricted
    // to the batch slice — that equality IS the operator's correctness
    // claim (min labels are associative over the condensed supernodes).
    "q_cluster_cc_incremental" ->
      ("WITH RECURSIVE e AS (" +
        "SELECT a.c_custkey AS u, b.c_custkey AS v FROM customer a JOIN customer b " +
        "ON levenshtein(a.c_name, b.c_name) <= 1), " +
        "reach(u, v) AS (SELECT u, v FROM e " +
        "UNION SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u) " +
        "SELECT u AS c_custkey, min(v) AS component FROM reach " +
        "WHERE u % 3 = 0 GROUP BY u"),
    // Serve-only twin: identical result to the incremental row (same
    // edges, same condensed CC), so the same full-closure oracle.
    "q_cluster_cc_serve" ->
      ("WITH RECURSIVE e AS (" +
        "SELECT a.c_custkey AS u, b.c_custkey AS v FROM customer a JOIN customer b " +
        "ON levenshtein(a.c_name, b.c_name) <= 1), " +
        "reach(u, v) AS (SELECT u, v FROM e " +
        "UNION SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u) " +
        "SELECT u AS c_custkey, min(v) AS component FROM reach " +
        "WHERE u % 3 = 0 GROUP BY u"),
    // Re-publish must equal the FULL recompute over corpus + batch —
    // q_cluster_cc's own oracle, unrestricted: that equality IS
    // mergeRepublish's correctness claim.
    "q_cluster_cc_republish" ->
      ("WITH RECURSIVE e AS (" +
        "SELECT a.c_custkey AS u, b.c_custkey AS v FROM customer a JOIN customer b " +
        "ON levenshtein(a.c_name, b.c_name) <= 1), " +
        "reach(u, v) AS (SELECT u, v FROM e " +
        "UNION SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u) " +
        "SELECT u AS c_custkey, min(v) AS component FROM reach GROUP BY u"),
    // Day-2 of the lifecycle loop serves the same %3==0 slice against
    // day0 ∪ day1 — and its labels must equal the one-big-run closure,
    // so the oracle is q_cluster_cc_serve's, verbatim.
    "q_cluster_cc_day2" ->
      ("WITH RECURSIVE e AS (" +
        "SELECT a.c_custkey AS u, b.c_custkey AS v FROM customer a JOIN customer b " +
        "ON levenshtein(a.c_name, b.c_name) <= 1), " +
        "reach(u, v) AS (SELECT u, v FROM e " +
        "UNION SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u) " +
        "SELECT u AS c_custkey, min(v) AS component FROM reach " +
        "WHERE u % 3 = 0 GROUP BY u"),
    "q_text_stats" -> sqlTextStats,
    // Retention curve replay: same quality formula + whitespace token
    // count, same floor(q*10) bucketing (identical IEEE tree both
    // engines), unnest(range) mirroring Spark's sequence explode.
    "q_quality_retention" ->
      (s"WITH s AS ($sqlTextStats), " +
        "b AS (SELECT least(greatest(CAST(floor(quality * 10) AS BIGINT), 0), 10) AS bucket, " +
        "n_tokens FROM s), " +
        "g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(n_tokens) AS BIGINT) AS t FROM b GROUP BY 1), " +
        "e AS (SELECT unnest(range(0, bucket + 1)) AS threshold_e1, n, t FROM g " +
        "UNION ALL SELECT unnest(range(0, 11)) AS threshold_e1, 0 AS n, 0 AS t) " +
        "SELECT CAST(threshold_e1 AS BIGINT) AS threshold_e1, " +
        "CAST(sum(n) AS BIGINT) AS n_docs_kept, " +
        "CAST(sum(t) AS BIGINT) AS n_tokens_kept FROM e GROUP BY 1"),
    "q_top_quality" ->
      (s"WITH s AS ($sqlTextStats) " +
        "SELECT doc_id, quality FROM s ORDER BY quality DESC, doc_id LIMIT 20"),
    // BPE-ish pattern embedded as a SQL literal: single quotes doubled;
    // backslashes pass through verbatim (DuckDB strings are not
    // escape-processed).
    "q_text_tokens" ->
      ("SELECT doc_id, " +
        s"$sqlTokenCount AS n_ws_tokens, " +
        s"len(regexp_extract_all(text, '${TextOps.BpeTokenPattern.replace("'", "''")}')) AS n_bpe_tokens, " +
        "CAST(ceil(length(regexp_replace(text, '\\s+', '', 'g')) / 4.0) AS BIGINT) AS n_subwords_est " +
        "FROM documents"),
    "q_text_lang" ->
      (s"SELECT doc_id, s_de, s_en, s_es, s_fr, $sqlLangPredCase " +
        s"FROM ($sqlLangScores)"),
    // Code-switch replay: 20-token windows, per-window stopword-hit
    // language argmax, lag-based switch count, modal-language min_by
    // (row_number spelling).
    "q_code_switch" ->
      ("WITH tk AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 " +
        "THEN CAST([] AS VARCHAR[]) " +
        "ELSE string_split_regex(trim(text), '\\s+') END AS t FROM documents), " +
        "idx AS (SELECT doc_id, t, " +
        "unnest(generate_series(0, CAST(greatest((len(t)-1)//20, 0) AS BIGINT))) AS i " +
        "FROM tk), " +
        "chx AS (SELECT doc_id, i AS chunk_idx, " +
        "array_to_string(t[CAST(i*20+1 AS INT):CAST(i*20+20 AS INT)], ' ') AS chunk " +
        "FROM idx), " +
        "lp AS (SELECT doc_id, chunk_idx, " +
        "CASE WHEN s_de = m AND m > 0 THEN 'de' WHEN s_en = m AND m > 0 THEN 'en' " +
        "WHEN s_es = m AND m > 0 THEN 'es' WHEN s_fr = m AND m > 0 THEN 'fr' " +
        "ELSE 'xx' END AS lang_pred FROM " +
        "(SELECT doc_id, chunk_idx, s_de, s_en, s_es, s_fr, " +
        "greatest(s_de, s_en, s_es, s_fr) AS m FROM (SELECT doc_id, chunk_idx, " +
        s"${sqlStopHitsOn("chunk", TextOps.stopwords("de"))} AS s_de, " +
        s"${sqlStopHitsOn("chunk", TextOps.stopwords("en"))} AS s_en, " +
        s"${sqlStopHitsOn("chunk", TextOps.stopwords("es"))} AS s_es, " +
        s"${sqlStopHitsOn("chunk", TextOps.stopwords("fr"))} AS s_fr FROM chx))), " +
        "sw AS (SELECT doc_id, count(*) AS n_chunks, " +
        "count(DISTINCT lang_pred) AS n_langs, " +
        "CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> lang_pred THEN 1 ELSE 0 END) AS BIGINT) AS n_switches " +
        "FROM (SELECT doc_id, lang_pred, lag(lang_pred) OVER " +
        "(PARTITION BY doc_id ORDER BY chunk_idx) AS prev FROM lp) GROUP BY 1), " +
        "dc AS (SELECT doc_id, lang_pred, count(*) AS c FROM lp GROUP BY 1, 2), " +
        "dom AS (SELECT doc_id, lang_pred AS dominant_lang FROM " +
        "(SELECT doc_id, lang_pred, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY c DESC, lang_pred) AS rn FROM dc) WHERE rn = 1) " +
        "SELECT sw.doc_id, n_chunks, n_langs, n_switches, dominant_lang " +
        "FROM sw JOIN dom ON sw.doc_id = dom.doc_id"),
    "q_text_repetition" ->
      ("WITH toks AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] " +
        "ELSE string_split_regex(trim(text), '\\s+') END AS t FROM documents), " +
        "b AS (SELECT doc_id, t, CASE WHEN len(t) >= 2 THEN " +
        "list_transform(generate_series(1, len(t) - 1), i -> array_to_string(t[i:i+1], ' ')) " +
        "ELSE []::VARCHAR[] END AS bi FROM toks) " +
        "SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, " +
        "CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens, " +
        "CAST(coalesce(list_max(list_transform(list_distinct(t), x -> len(list_filter(t, y -> y = x)))), 0) AS BIGINT) AS top_token_n, " +
        "CAST(coalesce(list_max(list_transform(list_distinct(bi), x -> len(list_filter(bi, y -> y = x)))), 0) AS BIGINT) AS top_bigram_n " +
        "FROM b"),
    "q_fingerprint_groups" ->
      ("SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp, " +
        "count(*) AS n_docs, min(doc_id) AS canonical_id " +
        "FROM documents GROUP BY 1"),
    "q_dedup_priority" ->
      ("WITH t AS (SELECT doc_id, source, " +
        "CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 0 ELSE 1 END AS tier, " +
        "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp " +
        "FROM documents), " +
        "r AS (SELECT *, row_number() OVER " +
        "(PARTITION BY fp ORDER BY tier, doc_id) AS rn FROM t) " +
        "SELECT doc_id, source, CAST(tier AS BIGINT) AS tier, fp " +
        "FROM r WHERE rn = 1"),
    // Rational idf (n+1)/(df+1): every op (BIGINT->DOUBLE widen, one add,
    // one divide, one multiply) is correctly rounded IEEE on both engines,
    // so scores hash-match bit-for-bit — see TfIdf Scaladoc.
    "q_tfidf_top" ->
      ("WITH t2 AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM t2 GROUP BY 1, 2), " +
        "nd AS (SELECT count(DISTINCT doc_id) AS n FROM tf), " +
        "dfq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY 1) " +
        "SELECT doc_id, term, tf, score, rank FROM " +
        "(SELECT tf.doc_id, tf.term, tf.tf, " +
        "tf.tf * ((nd.n + 1.0) / (dfq.dfreq + 1.0)) AS score, " +
        "CAST(row_number() OVER (PARTITION BY tf.doc_id ORDER BY " +
        "tf.tf * ((nd.n + 1.0) / (dfq.dfreq + 1.0)) DESC, tf.term) AS BIGINT) AS rank " +
        "FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN nd) " +
        "WHERE rank <= 3"),
    "q_sample_hash" ->
      ("SELECT doc_id, lang, source FROM documents " +
        s"WHERE ${sqlHash60("CAST(doc_id AS VARCHAR)", 0)} % 1000 < 200"),
    "q_temperature_mix" ->
      ("WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang), " +
        "r AS (SELECT lang, CAST(floor(1000 * sqrt(CAST((SELECT min(n) FROM c) AS DOUBLE) " +
        "/ CAST(n AS DOUBLE))) AS BIGINT) AS rate FROM c) " +
        "SELECT doc_id, source, d.lang FROM documents d JOIN r ON d.lang = r.lang " +
        s"WHERE ${sqlHash60("CAST(doc_id AS VARCHAR)", 0)} % 1000 < rate"),
    "q_sample_weighted" ->
      ("SELECT doc_id, source, n_chars, " +
        "CAST(least(n_chars, 2000) * 500 AS BIGINT) AS w_micro FROM documents " +
        s"WHERE ${sqlHash60("CAST(doc_id AS VARCHAR)", 0)} % 1000000 " +
        "< least(n_chars, 2000) * 500"),
    "q_rebalance_mix" ->
      ("WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang), " +
        "r AS (SELECT lang, (1000 * (SELECT min(n) FROM c)) // n AS rate FROM c) " +
        "SELECT doc_id, source, d.lang FROM documents d JOIN r ON d.lang = r.lang " +
        s"WHERE ${sqlHash60("CAST(doc_id AS VARCHAR)", 0)} % 1000 < rate"),
    "q_split_assign" ->
      ("SELECT doc_id, CASE WHEN b < 80 THEN 'train' " +
        "WHEN b < 90 THEN 'val' ELSE 'test' END AS split " +
        s"FROM (SELECT doc_id, ${sqlHash60("CAST(doc_id AS VARCHAR)", 0)} % 100 AS b " +
        "FROM documents)"),
    // The whole manifest pipeline as composed CTEs: near-dedup closure →
    // canonical survivors → shared stats CTE → per-lang budget window →
    // component-keyed split buckets.
    "q_pipeline_e2e" ->
      (s"WITH RECURSIVE $sqlNearDedupCtes, " +
        s"st AS ($sqlTextStats), " +
        "surv AS (SELECT d.doc_id, d.lang, c.component FROM documents d " +
        "JOIN comp c ON c.doc_id = d.doc_id AND c.doc_id = c.component), " +
        "g AS (SELECT surv.doc_id, surv.lang, surv.component, st.quality, " +
        "st.n_tokens FROM surv JOIN st ON st.doc_id = surv.doc_id " +
        "WHERE st.n_tokens >= 5), " +
        "cum AS (SELECT g.*, CAST(sum(n_tokens) OVER (PARTITION BY lang " +
        "ORDER BY quality DESC, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
        "AS cum_tokens FROM g), " +
        "sel AS (SELECT * FROM cum WHERE cum_tokens <= 600) " +
        "SELECT doc_id, lang, component, quality, n_tokens, cum_tokens, " +
        "CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' " +
        "ELSE 'test' END AS split FROM " +
        "(SELECT sel.*, " +
        s"${sqlHash60("CAST(component AS VARCHAR)", 0)} % 100 AS b FROM sel)"),
    // Near-dedup closure + inverse-cluster-size weights + the same md5
    // weighted-threshold filter as q_sample_weighted.
    "q_dedup_soft" ->
      (s"WITH RECURSIVE $sqlNearDedupCtes, " +
        "cs AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component), " +
        "wt AS (SELECT c.doc_id, c.component, s.cluster_size, " +
        "CAST(1000000 // s.cluster_size AS BIGINT) AS w_micro " +
        "FROM comp c JOIN cs s USING (component)) " +
        "SELECT doc_id, component, cluster_size, w_micro FROM wt " +
        s"WHERE ${sqlHash60("CAST(doc_id AS VARCHAR)", 0)} % 1000000 < w_micro"),
    // Near-dedup closure + the same md5 split arithmetic keyed on the
    // component id: every member of a component gets the same bucket.
    "q_split_leakfree" ->
      (s"WITH RECURSIVE $sqlNearDedupCtes " +
        "SELECT doc_id, component, CASE WHEN b < 80 THEN 'train' " +
        "WHEN b < 90 THEN 'val' ELSE 'test' END AS split FROM " +
        "(SELECT doc_id, component, " +
        s"${sqlHash60("CAST(component AS VARCHAR)", 0)} % 100 AS b FROM comp)"),
    // Histogram -> cumulative counts -> smallest value reaching
    // ceil(p*total/100) (integer form: 100*cum >= p*total).
    "q_length_quantiles" ->
      ("WITH h AS (SELECT lang, CAST(n_chars AS BIGINT) AS v, count(*) AS cnt " +
        "FROM documents WHERE n_chars IS NOT NULL GROUP BY lang, n_chars), " +
        "c AS (SELECT lang, v, " +
        "CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cum, " +
        "CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS total FROM h) " +
        "SELECT lang, pct, min(v) AS value FROM c, " +
        "(SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS pct) p " +
        "WHERE cum * 100 >= pct * total GROUP BY lang, pct"),
    "q_sample_stratified" ->
      ("SELECT doc_id, lang, sample_rank FROM " +
        "(SELECT doc_id, lang, CAST(row_number() OVER (PARTITION BY lang " +
        s"ORDER BY ${sqlHash60("CAST(doc_id AS VARCHAR)", 0)}, doc_id) AS BIGINT) " +
        "AS sample_rank FROM documents) WHERE sample_rank <= 50"),
    "q_pii_scrub" -> {
      val (u, e, n) = (TextOps.UrlPattern, TextOps.EmailPattern,
        TextOps.NumberRunPattern)
      "WITH blob AS (SELECT c_custkey, " +
        "c_name || ' ' || c_mktsegment AS b FROM customer) " +
        "SELECT c_custkey, " +
        s"regexp_replace(regexp_replace(regexp_replace(b, '$u', '<URL>', 'g'), " +
        s"'$e', '<EMAIL>', 'g'), '$n', '<NUM>', 'g') AS scrubbed, " +
        s"len(regexp_extract_all(b, '$u')) AS n_urls, " +
        s"len(regexp_extract_all(b, '$e')) AS n_emails, " +
        s"len(regexp_extract_all(b, '$n')) AS n_num_runs " +
        "FROM blob"
    },
    "q_pack_sequences" ->
      ("SELECT doc_id, source, n_tokens, start_offset, " +
        "CAST(floor(start_offset / 512) AS BIGINT) AS seq_index FROM " +
        "(SELECT doc_id, source, n_tokens, " +
        "CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens " +
        "AS start_offset FROM " +
        s"(SELECT doc_id, source, $sqlTokenCount AS n_tokens FROM documents))"),
    "q_pack_boundaried" ->
      (s"WITH RECURSIVE $sqlPackBoundariedCtes " +
        "SELECT doc_id, source, n_tokens, seq_index, seq_offset FROM f"),
    "q_pack_efficiency" ->
      (s"WITH RECURSIVE $sqlPackBoundariedCtes " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(n_tokens) AS BIGINT) AS used_tokens, " +
        "coalesce(max(CASE WHEN n_tokens > 0 THEN " +
        "seq_index + (seq_offset + n_tokens + 511) // 512 ELSE 0 END), 0) AS n_seqs, " +
        "coalesce(max(CASE WHEN n_tokens > 0 THEN " +
        "seq_index + (seq_offset + n_tokens + 511) // 512 ELSE 0 END), 0) * 512 " +
        "- CAST(sum(n_tokens) AS BIGINT) AS padding_tokens, " +
        "CASE WHEN coalesce(max(CASE WHEN n_tokens > 0 THEN " +
        "seq_index + (seq_offset + n_tokens + 511) // 512 ELSE 0 END), 0) > 0 THEN " +
        "CAST(sum(n_tokens) AS DOUBLE) / " +
        "(coalesce(max(CASE WHEN n_tokens > 0 THEN " +
        "seq_index + (seq_offset + n_tokens + 511) // 512 ELSE 0 END), 0) * 512) " +
        "END AS utilization FROM f GROUP BY source"),
    "q_winnow_fp" ->
      (s"WITH $sqlWinnowCte SELECT doc_id, fp FROM wfp"),
    "q_winnow_pairs" ->
      (s"WITH $sqlWinnowCte " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared " +
        "FROM wfp a JOIN wfp b ON a.fp = b.fp AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 HAVING count(*) >= 2"),
    // PageRank replayed as unrolled integer-arithmetic iterations — every
    // step is multiply/floor-divide/sum on BIGINTs, so both engines agree
    // bit for bit (the CAST collapses DuckDB's HUGEINT sum back to the
    // BIGINT Spark carries).
    "q_dup_centrality" ->
      (s"WITH $sqlWinnowCte, " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b " +
        "FROM wfp a JOIN wfp b ON a.fp = b.fp AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
        "UNION ALL SELECT id_b, id_a FROM pairs), " +
        "deg AS (SELECT src AS id, count(*) AS outdeg FROM edges GROUP BY 1), " +
        "nn AS (SELECT count(*) AS n FROM deg), " +
        "r0 AS (SELECT id, outdeg, 1000000000000 // n AS r FROM deg CROSS JOIN nn), " +
        prCte("r0", "r1") + ", " + prCte("r1", "r2") + ", " + prCte("r2", "r3") +
        " SELECT id AS doc_id, outdeg, r AS rank_e12 FROM r3"),
    "q_dup_centrality_w" ->
      (s"WITH $sqlWinnowCte, " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS w " +
        "FROM wfp a JOIN wfp b ON a.fp = b.fp AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "edges AS (SELECT id_a AS src, id_b AS dst, w FROM pairs " +
        "UNION ALL SELECT id_b, id_a, w FROM pairs), " +
        "deg AS (SELECT src AS id, CAST(sum(w) AS BIGINT) AS outdeg " +
        "FROM edges GROUP BY 1), " +
        "nn AS (SELECT count(*) AS n FROM deg), " +
        "r0 AS (SELECT id, outdeg, 1000000000000 // n AS r FROM deg CROSS JOIN nn), " +
        prCteW("r0", "r1") + ", " + prCteW("r1", "r2") + ", " + prCteW("r2", "r3") +
        " SELECT id AS doc_id, outdeg AS wdeg, r AS rank_e12 FROM r3"),
    "q_ppr" ->
      (s"WITH $sqlWinnowCte, " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS w " +
        "FROM wfp a JOIN wfp b ON a.fp = b.fp AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "edges AS (SELECT id_a AS src, id_b AS dst, w FROM pairs " +
        "UNION ALL SELECT id_b, id_a, w FROM pairs), " +
        "deg AS (SELECT src AS id, CAST(sum(w) AS BIGINT) AS outdeg " +
        "FROM edges GROUP BY 1), " +
        "sd AS (SELECT id FROM deg ORDER BY id LIMIT 5), " +
        "ns AS (SELECT count(*) AS ns FROM sd), " +
        "r0 AS (SELECT d.id, d.outdeg, " +
        "CAST(CASE WHEN sd.id IS NOT NULL THEN 1000000000000 // ns.ns ELSE 0 END AS BIGINT) AS r " +
        "FROM deg d LEFT JOIN sd ON d.id = sd.id CROSS JOIN ns), " +
        prCteP("r0", "r1") + ", " + prCteP("r1", "r2") + ", " + prCteP("r2", "r3") +
        " SELECT id AS doc_id, outdeg AS wdeg, r AS rank_e12 FROM r3"),
    // One branch per rule; violation = expectation false OR null (the
    // null-hostile coalesce both engines apply identically).
    "q_dq_report" ->
      ("SELECT 'price_positive' AS rule, count(*) AS n_checked, " +
        "CAST(sum(CASE WHEN NOT coalesce(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS n_violations, " +
        "min(CASE WHEN NOT coalesce(o_totalprice > 0, FALSE) THEN o_orderkey END) AS min_bad_key FROM orders " +
        "UNION ALL SELECT 'price_le_250k', count(*), " +
        "CAST(sum(CASE WHEN NOT coalesce(o_totalprice <= 250000, FALSE) THEN 1 ELSE 0 END) AS BIGINT), " +
        "min(CASE WHEN NOT coalesce(o_totalprice <= 250000, FALSE) THEN o_orderkey END) FROM orders " +
        "UNION ALL SELECT 'status_open_or_final', count(*), " +
        "CAST(sum(CASE WHEN NOT coalesce(o_orderstatus IN ('O','F'), FALSE) THEN 1 ELSE 0 END) AS BIGINT), " +
        "min(CASE WHEN NOT coalesce(o_orderstatus IN ('O','F'), FALSE) THEN o_orderkey END) FROM orders " +
        "UNION ALL SELECT 'custkey_not_null', count(*), " +
        "CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT), " +
        "min(CASE WHEN o_custkey IS NULL THEN o_orderkey END) FROM orders " +
        "UNION ALL SELECT 'custkey_in_customer', (SELECT count(*) FROM orders), " +
        "CAST(count(*) AS BIGINT), min(o_orderkey) FROM orders o " +
        "WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)"),
    "q_shuffle_order" ->
      (s"WITH k AS (SELECT doc_id, lpad(CAST(${sqlHash60("CAST(doc_id AS VARCHAR)", 0)} " +
        "AS VARCHAR), 19, '0') || '-' || lpad(CAST(doc_id AS VARCHAR), 19, '0') AS sk " +
        "FROM documents) " +
        "SELECT doc_id, CAST(row_number() OVER (ORDER BY sk) AS BIGINT) AS shuffle_rank FROM k"),
    "q_domain_shift" ->
      ("WITH t AS (SELECT doc_id, " +
        "unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "ca AS (SELECT token, count(*) AS c_a FROM t WHERE doc_id % 2 = 0 GROUP BY 1), " +
        "cb AS (SELECT token, count(*) AS c_b FROM t WHERE doc_id % 2 = 1 GROUP BY 1), " +
        "j AS (SELECT coalesce(ca.token, cb.token) AS token, " +
        "coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b " +
        "FROM ca FULL OUTER JOIN cb ON ca.token = cb.token), " +
        "tot AS (SELECT sum(c_a) AS ta, sum(c_b) AS tb, count(*) AS v FROM j), " +
        "scored AS (SELECT token, c_a, c_b, " +
        "CAST((c_a + 1) * (tb + v) AS DOUBLE) / CAST((c_b + 1) * (ta + v) AS DOUBLE) AS ratio " +
        "FROM j CROSS JOIN tot) " +
        "SELECT 'a' AS direction, token, c_a, c_b, ratio FROM " +
        "(SELECT * FROM scored ORDER BY ratio DESC, token LIMIT 25) x " +
        "UNION ALL SELECT 'b' AS direction, token, c_a, c_b, ratio FROM " +
        "(SELECT * FROM scored ORDER BY ratio ASC, token LIMIT 25) y"),
    "q_kanon" ->
      ("WITH g AS (SELECT lang, source, count(*) AS qi_group_n " +
        "FROM documents GROUP BY 1, 2) " +
        "SELECT d.doc_id, d.lang, d.source, g.qi_group_n " +
        "FROM documents d JOIN g ON d.lang IS NOT DISTINCT FROM g.lang " +
        "AND d.source IS NOT DISTINCT FROM g.source " +
        "WHERE g.qi_group_n >= 5"),
    // Bounded epoch table (max repeat = 4) joined on epoch <= repeat(lang)
    // — lateral-free, so it runs on any SQL engine.
    "q_epoch_mix" ->
      ("SELECT d.doc_id, d.lang, CAST(r.epoch AS BIGINT) AS epoch " +
        "FROM documents d JOIN (SELECT 1 AS epoch UNION ALL SELECT 2 " +
        "UNION ALL SELECT 3 UNION ALL SELECT 4) r " +
        "ON r.epoch <= (CASE d.lang WHEN 'de' THEN 3 WHEN 'fr' THEN 4 " +
        "WHEN 'es' THEN 2 ELSE 1 END)"),
    "q_contamination" ->
      (s"WITH $sqlWinnowCte " +
        "SELECT a.doc_id AS train_id, b.doc_id AS eval_id, count(*) AS n_shared " +
        "FROM wfp a JOIN wfp b ON a.fp = b.fp " +
        "WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1 " +
        "GROUP BY 1, 2 HAVING count(*) >= 2"),
    "q_contamination_score" ->
      (s"WITH $sqlWinnowCte, " +
        "tr AS (SELECT doc_id, fp FROM wfp WHERE doc_id % 2 = 0), " +
        "ev AS (SELECT DISTINCT fp FROM wfp WHERE doc_id % 2 = 1) " +
        "SELECT tr.doc_id AS train_id, CAST(count(*) AS BIGINT) AS n_fp, " +
        "CAST(sum(CASE WHEN ev.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit, " +
        "100 * sum(CASE WHEN ev.fp IS NOT NULL THEN 1 ELSE 0 END) >= " +
        "50 * count(*) AS contaminated " +
        "FROM tr LEFT JOIN ev ON tr.fp = ev.fp GROUP BY 1"),
    "q_decontam_13gram" ->
      ("WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "g AS (SELECT DISTINCT doc_id, " +
        "array_to_string(t[CAST(i AS INT):CAST(i + 12 AS INT)], ' ') AS s " +
        "FROM tk, unnest(range(1, len(t) - 11)) AS u(i) WHERE len(t) >= 13), " +
        "tr AS (SELECT doc_id, s FROM g WHERE doc_id % 2 = 0), " +
        "ev AS (SELECT DISTINCT s FROM g WHERE doc_id % 2 = 1) " +
        "SELECT tr.doc_id AS train_id, CAST(count(*) AS BIGINT) AS n_grams, " +
        "CAST(sum(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit, " +
        "sum(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END) >= 1 AS contaminated " +
        "FROM tr LEFT JOIN ev ON tr.s = ev.s GROUP BY 1"),
    // The standing-index serve is result-identical by construction (the
    // index IS the distinct eval-gram set) — the oracle is IDENTICAL to
    // q_decontam_13gram's.
    "q_decontam_indexed" ->
      ("WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "g AS (SELECT DISTINCT doc_id, " +
        "array_to_string(t[CAST(i AS INT):CAST(i + 12 AS INT)], ' ') AS s " +
        "FROM tk, unnest(range(1, len(t) - 11)) AS u(i) WHERE len(t) >= 13), " +
        "tr AS (SELECT doc_id, s FROM g WHERE doc_id % 2 = 0), " +
        "ev AS (SELECT DISTINCT s FROM g WHERE doc_id % 2 = 1) " +
        "SELECT tr.doc_id AS train_id, CAST(count(*) AS BIGINT) AS n_grams, " +
        "CAST(sum(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit, " +
        "sum(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END) >= 1 AS contaminated " +
        "FROM tr LEFT JOIN ev ON tr.s = ev.s GROUP BY 1"),
    // Redaction replay: positioned (non-distinct) train grams join the
    // eval-distinct gram set; covered = union of hit windows; survivors
    // re-join ordered by position (list ORDER BY + FILTER).
    "q_decontam_redact" -> sqlDecontamRedactOracle,
    // The indexed serve is identical by construction (the standing index
    // IS the distinct eval-gram set) — same replay oracle.
    "q_decontam_redact_indexed" -> sqlDecontamRedactOracle,
    // Bloom pruning is result-invariant (no false negatives; false
    // positives die in the exact join) — the oracle is IDENTICAL to
    // q_contamination's.
    "q_contamination_bloom" ->
      (s"WITH $sqlWinnowCte " +
        "SELECT a.doc_id AS train_id, b.doc_id AS eval_id, count(*) AS n_shared " +
        "FROM wfp a JOIN wfp b ON a.fp = b.fp " +
        "WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1 " +
        "GROUP BY 1, 2 HAVING count(*) >= 2"),
    "q_range_join" ->
      ("WITH e AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events) " +
        "SELECT a.user_id AS key, a.event_id AS id_a, b.event_id AS id_b, " +
        "abs(a.us - b.us) AS gap_us " +
        "FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_id < b.event_id " +
        "AND abs(a.us - b.us) <= 600000000"),
    "q_range_join_sql" ->
      ("WITH e AS (SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events) " +
        "SELECT a.event_id AS id_a, b.event_id AS id_b, " +
        "abs(a.us - b.us) AS gap_us " +
        "FROM e a JOIN e b ON a.event_id < b.event_id " +
        "AND abs(a.us - b.us) <= 2000000"),
    "q_chunk_tokens" ->
      ("WITH tk AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 " +
        "THEN CAST([] AS VARCHAR[]) " +
        "ELSE string_split_regex(trim(text), '\\s+') END AS t FROM documents), " +
        "idx AS (SELECT doc_id, t, " +
        "unnest(generate_series(0, CAST(greatest((len(t)-1)//50, 0) AS BIGINT))) AS i " +
        "FROM tk) " +
        "SELECT doc_id, i AS chunk_idx, " +
        "array_to_string(t[CAST(i*50+1 AS INT):CAST(i*50+60 AS INT)], ' ') AS chunk, " +
        "CAST(len(t[CAST(i*50+1 AS INT):CAST(i*50+60 AS INT)]) AS BIGINT) AS chunk_tokens " +
        "FROM idx"),
    "q_chunk_docs" ->
      ("WITH idx AS (SELECT doc_id, text, " +
        "unnest(generate_series(0, CAST(greatest((length(text)-1)//300, 0) AS BIGINT))) AS i " +
        "FROM documents) " +
        "SELECT doc_id, i AS chunk_idx, " +
        "substring(text, CAST(i*300+1 AS INT), 400) AS chunk, " +
        "CAST(length(substring(text, CAST(i*300+1 AS INT), 400)) AS BIGINT) AS chunk_len " +
        "FROM idx"),
    "q_topk_per_source" ->
      (s"WITH s AS ($sqlTextStats), " +
        "j AS (SELECT d.source, s.doc_id, s.quality FROM s " +
        "JOIN documents d ON s.doc_id = d.doc_id), " +
        "r AS (SELECT source, doc_id, quality, row_number() OVER " +
        "(PARTITION BY source ORDER BY quality DESC, doc_id) AS rk FROM j) " +
        "SELECT source, doc_id, quality, rk FROM r WHERE rk <= 3"),
    // The window spelling IS the oracle for the physical operator.
    "q_topk_phys" ->
      ("SELECT doc_id, source, n_chars, topk_rank FROM " +
        "(SELECT doc_id, source, n_chars, CAST(row_number() OVER " +
        "(PARTITION BY source ORDER BY n_chars DESC, doc_id) AS BIGINT) " +
        "AS topk_rank FROM documents) WHERE topk_rank <= 3"),
    "q_quality_filter" ->
      (s"WITH s AS ($sqlTextStats), " +
        "j AS (SELECT d.source, s.doc_id, s.quality FROM s " +
        "JOIN documents d ON s.doc_id = d.doc_id), " +
        "t AS (SELECT source, quantile_cont(quality, 0.75) AS q75 " +
        "FROM j GROUP BY source) " +
        "SELECT j.source, j.doc_id, j.quality FROM j " +
        "JOIN t ON j.source = t.source WHERE j.quality > t.q75"),
    "q_asof_join" ->
      ("WITH e AS (SELECT event_id, user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events), " +
        "l AS (SELECT event_id, user_id, us AS ts_us FROM e WHERE event_type = 'view'), " +
        "r AS (SELECT user_id, us AS ts_us, max(event_id) AS purchase_id FROM e " +
        "WHERE event_type = 'purchase' GROUP BY user_id, us) " +
        "SELECT l.event_id, l.user_id, l.ts_us, r.purchase_id AS asof_purchase, " +
        "r.ts_us AS asof_ts_us, l.ts_us - r.ts_us AS gap_us " +
        "FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_us >= r.ts_us"),
    "q_events_dedup" ->
      ("SELECT user_id, event_type, epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hour_us, " +
        "min(event_id) AS first_event, count(*) AS n_events " +
        "FROM events GROUP BY 1, 2, 3"),
    "q_retention" ->
      ("WITH b AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS w " +
        "FROM events), " +
        "f AS (SELECT user_id, min(w) AS cohort_week FROM b GROUP BY 1), " +
        "a AS (SELECT DISTINCT user_id, w FROM b), " +
        "p AS (SELECT cohort_week, w - cohort_week AS week_offset, " +
        "count(DISTINCT a.user_id) AS n_active " +
        "FROM a JOIN f ON a.user_id = f.user_id " +
        "WHERE w - cohort_week BETWEEN 0 AND 8 GROUP BY 1, 2), " +
        "s AS (SELECT cohort_week, count(*) AS n_cohort FROM f GROUP BY 1) " +
        "SELECT p.cohort_week, p.week_offset, p.n_active, s.n_cohort, " +
        "CAST(p.n_active AS DOUBLE) / CAST(s.n_cohort AS DOUBLE) AS retention " +
        "FROM p JOIN s ON p.cohort_week = s.cohort_week"),
    "q_funnel" ->
      ("WITH e AS (SELECT user_id, event_type AS t, " +
        "epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events), " +
        "s1 AS (SELECT user_id, min(us) AS t1_us FROM e WHERE t = 'view' GROUP BY 1), " +
        "s2 AS (SELECT e.user_id, min(us) AS t2_us FROM e JOIN s1 ON e.user_id = s1.user_id " +
        "WHERE t = 'click' AND us > t1_us AND us <= t1_us + 86400000000 GROUP BY 1), " +
        "s3 AS (SELECT e.user_id, min(us) AS t3_us FROM e JOIN s2 ON e.user_id = s2.user_id " +
        "WHERE t = 'purchase' AND us > t2_us AND us <= t2_us + 86400000000 GROUP BY 1) " +
        "SELECT s1.user_id, t1_us, t2_us, t3_us, " +
        "CAST(1 + (CASE WHEN t2_us IS NOT NULL THEN 1 ELSE 0 END) + " +
        "(CASE WHEN t3_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS stage_reached " +
        "FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id " +
        "LEFT JOIN s3 ON s1.user_id = s3.user_id"),
    "q_jaccard_pairs" ->
      (s"WITH $sqlToksCte, $sqlShCte, $sqlCountsCte, $sqlInterCte " +
        "SELECT id_a, id_b, n_common, " +
        "CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) AS jacc " +
        "FROM inter JOIN counts ca ON ca.doc_id = id_a " +
        "JOIN counts cb ON cb.doc_id = id_b " +
        "WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.5"),
    // dispatch never changes the answer — the auto query's oracle IS the
    // exact-join closure
    "q_jaccard_auto" ->
      (s"WITH $sqlToksCte, $sqlShCte, $sqlCountsCte, $sqlInterCte " +
        "SELECT id_a, id_b, n_common, " +
        "CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) AS jacc " +
        "FROM inter JOIN counts ca ON ca.doc_id = id_a " +
        "JOIN counts cb ON cb.doc_id = id_b " +
        "WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.5"),
    "q_curation_pipeline" ->
      (s"WITH $sqlFpsCte, " +
        "surv AS (SELECT doc_id FROM (SELECT doc_id, " +
        "row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM fps) WHERE rn = 1), " +
        s"s AS ($sqlTextStats), $sqlLangCte " +
        "SELECT s.doc_id, lang.lang_pred, s.quality " +
        "FROM surv JOIN s ON surv.doc_id = s.doc_id " +
        "JOIN lang ON surv.doc_id = lang.doc_id " +
        "WHERE s.quality >= 0.5 AND lang.lang_pred = 'en'"),
    // UNIQUE-doc_id ASSUMPTION: the three doc_id equi-joins below (s ×
    // sv × lang) are one-row-per-doc only because the fixture's doc_id
    // is unique — on a sharded-union corpus with duplicated ids they
    // would fan out (2 dups → 8 joined rows) and diverge from the Spark
    // side, whose survivor flag was hardened to row_number for exactly
    // that case (Profiler.curationFunnel). The oracle keeps the join
    // form because it reuses the shared stats/lang CTEs verbatim (one
    // source of truth); a dup-id fixture would need the flags computed
    // in one CTE pass like the Spark side.
    "q_curation_funnel" ->
      (s"WITH $sqlFpsCte, " +
        "sv AS (SELECT doc_id, " +
        "(row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1) AS surv FROM fps), " +
        s"s AS ($sqlTextStats), $sqlLangCte, " +
        "f AS (SELECT s.n_tokens AS nt, sv.surv AS k1, " +
        "(sv.surv AND lang.lang_pred = 'en') AS k2, " +
        "(sv.surv AND lang.lang_pred = 'en' AND s.quality >= 0.5) AS k3, " +
        "(sv.surv AND lang.lang_pred = 'en' AND s.quality >= 0.5 " +
        "AND s.n_tokens >= 5) AS k4 " +
        "FROM s JOIN sv ON s.doc_id = sv.doc_id " +
        "JOIN lang ON s.doc_id = lang.doc_id), " +
        "a AS (SELECT count(*) AS d0, " +
        "CAST(coalesce(sum(nt), 0) AS BIGINT) AS t0, " +
        "CAST(coalesce(sum(CASE WHEN k1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d1, " +
        "CAST(coalesce(sum(CASE WHEN k1 THEN nt ELSE 0 END), 0) AS BIGINT) AS t1, " +
        "CAST(coalesce(sum(CASE WHEN k2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d2, " +
        "CAST(coalesce(sum(CASE WHEN k2 THEN nt ELSE 0 END), 0) AS BIGINT) AS t2, " +
        "CAST(coalesce(sum(CASE WHEN k3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d3, " +
        "CAST(coalesce(sum(CASE WHEN k3 THEN nt ELSE 0 END), 0) AS BIGINT) AS t3, " +
        "CAST(coalesce(sum(CASE WHEN k4 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d4, " +
        "CAST(coalesce(sum(CASE WHEN k4 THEN nt ELSE 0 END), 0) AS BIGINT) AS t4 FROM f) " +
        "SELECT 0 AS stage_ord, 'raw' AS stage, d0 AS n_docs, t0 AS n_tokens FROM a " +
        "UNION ALL SELECT 1, 'exact_dedup', d1, t1 FROM a " +
        "UNION ALL SELECT 2, 'lang_en', d2, t2 FROM a " +
        "UNION ALL SELECT 3, 'quality', d3, t3 FROM a " +
        "UNION ALL SELECT 4, 'min_tokens', d4, t4 FROM a"),
    "q_vocab_top" ->
      ("WITH t AS (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "c AS (SELECT token, count(*) AS n FROM t GROUP BY token) " +
        "SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rank " +
        "FROM c ORDER BY n DESC, token LIMIT 500"),
    "q_data_card" ->
      ("WITH raw AS (SELECT lang, source, " +
        "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp, " +
        s"$sqlTokenCount AS n_tokens, " +
        "length(text) AS n_chars, " +
        "length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct, " +
        s"${sqlStopHits(TextOps.stopwords("en"))} AS n_stop_en " +
        "FROM documents), " +
        s"q AS (SELECT lang, source, fp, n_tokens, $sqlQualityExpr AS q FROM raw) " +
        "SELECT lang, source, count(*) AS n_docs, " +
        "count(DISTINCT fp) AS n_distinct_fp, " +
        "CAST(sum(n_tokens) AS BIGINT) AS n_tokens, " +
        "CAST(sum(CAST(round(q * 1000000) AS BIGINT)) AS BIGINT) AS quality_micro_sum " +
        "FROM q GROUP BY 1, 2"),
    "q_dedup_sources" ->
      ("SELECT source, count(*) AS n_rows, " +
        "count(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) AS n_distinct, " +
        "CAST(count(*) - count(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) AS DOUBLE) " +
        "/ count(*) AS dup_rate " +
        "FROM documents GROUP BY source"),
    "q_gopher_rules" ->
      ("WITH b AS (SELECT doc_id, " +
        s"CAST($sqlTokenCount AS BIGINT) AS n_words, " +
        "length(regexp_replace(text, '\\s', '', 'g')) AS n_ns, " +
        "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE " +
        "len(list_filter(string_split_regex(trim(text), '\\s+'), " +
        "x -> regexp_matches(x, '[A-Za-z]'))) END AS n_alpha, " +
        s"${sqlStopHits(TextOps.stopwords("en"))} AS n_stop " +
        "FROM documents) " +
        "SELECT doc_id, n_words, " +
        "CASE WHEN n_words > 0 THEN CAST(n_ns AS DOUBLE) / n_words END AS mean_word_len, " +
        "(n_words >= 50 AND n_words <= 100000) AS r_word_count, " +
        "coalesce(CAST(n_ns AS DOUBLE) / n_words >= 3.0 " +
        "AND CAST(n_ns AS DOUBLE) / n_words <= 10.0, false) AS r_mean_len, " +
        "coalesce(CAST(n_alpha AS DOUBLE) / n_words >= 0.8, false) AS r_alpha_ratio, " +
        "(n_stop >= 2) AS r_stopwords, " +
        "((n_words >= 50 AND n_words <= 100000) " +
        "AND coalesce(CAST(n_ns AS DOUBLE) / n_words >= 3.0 " +
        "AND CAST(n_ns AS DOUBLE) / n_words <= 10.0, false) " +
        "AND coalesce(CAST(n_alpha AS DOUBLE) / n_words >= 0.8, false) " +
        "AND n_stop >= 2) AS keep " +
        "FROM b"),
    "q_safety_filter" ->
      ("WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "b AS (SELECT doc_id, count(*) AS n FROM t " +
        "WHERE token IN ('spam', 'dup', 'slow') GROUP BY doc_id) " +
        "SELECT d.doc_id, CAST(coalesce(b.n, 0) AS BIGINT) AS n_blocked, " +
        "coalesce(b.n, 0) = 0 AS keep " +
        "FROM documents d LEFT JOIN b ON d.doc_id = b.doc_id"),
    "q_embed_dim_stats" ->
      ("WITH x AS (SELECT CAST(i AS BIGINT) - 1 AS pos, " +
        "CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x " +
        "FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)) " +
        "SELECT pos, count(*) AS n, " +
        "CAST(sum(CAST(round(x * 1000000) AS BIGINT)) AS BIGINT) AS sum_scaled, " +
        "CAST(sum(CAST(round(x * 1000) AS BIGINT) * CAST(round(x * 1000) AS BIGINT)) AS BIGINT) AS sumsq_scaled, " +
        "min(CAST(round(x * 1000000) AS BIGINT)) AS min_scaled, " +
        "max(CAST(round(x * 1000000) AS BIGINT)) AS max_scaled " +
        "FROM x GROUP BY 1"),
    "q_rarity_score" ->
      ("WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "dt AS (SELECT doc_id, token, count(*) AS k FROM t GROUP BY 1, 2), " +
        "c AS (SELECT token, sum(k) AS corpus_n FROM dt GROUP BY token) " +
        "SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens, " +
        "CAST(sum(k * corpus_n) AS BIGINT) AS freq_weight, " +
        "CAST(min(corpus_n) AS BIGINT) AS rarest_freq " +
        "FROM dt JOIN c USING (token) GROUP BY doc_id"),
    "q_quality_model" ->
      ("WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        s"tb AS (SELECT doc_id, ${sqlHash60("token", 0)} % ${QualityModel.NumBuckets} AS bucket, " +
        "count(*) AS k FROM t GROUP BY 1, 2), " +
        s"w AS (SELECT i AS bucket, (${sqlHash60("'w:' || i", 0)} % ${2 * QualityModel.WeightMicro + 1}) " +
        s"- ${QualityModel.WeightMicro} AS w_micro FROM range(0, ${QualityModel.NumBuckets}) r(i)), " +
        "s AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens, " +
        "CAST(sum(k * w_micro) AS BIGINT) AS score_micro " +
        "FROM tb JOIN w USING (bucket) GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(s.n_tokens, 0) AS n_tokens, " +
        "coalesce(s.score_micro, 0) AS score_micro, " +
        "coalesce(s.score_micro, 0) >= 0 AS keep " +
        "FROM documents d LEFT JOIN s USING (doc_id)"),
    "q_jaccard_incremental" ->
      ("WITH toksS AS (SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS t " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "shS AS (SELECT DISTINCT doc_id, source, " +
        "array_to_string(t[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS s " +
        "FROM toksS, unnest(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3), " +
        "shb AS (SELECT doc_id, s FROM shS WHERE source = 'src0'), " +
        "shc AS (SELECT doc_id, s FROM shS WHERE source <> 'src0'), " +
        "cb AS (SELECT doc_id, count(*) AS n FROM shb GROUP BY doc_id), " +
        "cc AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id, " +
        "count(*) AS n_common FROM shb a JOIN shc b ON a.s = b.s GROUP BY 1, 2) " +
        "SELECT batch_id, corpus_id, n_common, " +
        "CAST(n_common AS DOUBLE) / (cb.n + cc.n - n_common) AS jacc " +
        "FROM inter JOIN cb ON cb.doc_id = batch_id " +
        "JOIN cc ON cc.doc_id = corpus_id " +
        "WHERE CAST(n_common AS DOUBLE) / (cb.n + cc.n - n_common) >= 0.3"),
    // Persisted-index incremental replay: the RECOMPUTE form of the
    // same LSH-candidates + exact-verify math, batch (src0) x corpus
    // sides split by a documents join — hash equality against the
    // Spark side proves the parquet write/read of postings + verify
    // sets is lossless and the frozen-index join complete.
    "q_near_dedup_incremental" -> sqlNearDedupIncrementalOracle,
    // The bucketed-table serve computes the identical result; same
    // recompute oracle — equality proves the bucketed roundtrip too.
    "q_near_dedup_incr_bucketed" -> sqlNearDedupIncrementalOracle,
    // Appended-index serve: the standing side after append is exactly
    // source <> 'src0', so the monolithic oracle proves the append
    // lossless.
    "q_near_dedup_incr_appended" -> sqlNearDedupIncrementalOracle,
    "q_minhash_sig" ->
      (s"WITH $sqlToksCte, $sqlShCte, $sqlAbCte " +
        s"SELECT doc_id AS id, $sqlSigSelect FROM ab GROUP BY doc_id"),
    "q_minhash_pairs" ->
      (s"WITH $sqlToksCte, $sqlShCte, $sqlCountsCte, $sqlInterCte, $sqlAbCte, " +
        s"sig AS (SELECT doc_id AS id, $sqlSigSelect FROM ab GROUP BY doc_id), " +
        s"cands AS (SELECT a.id AS cid_a, b.id AS cid_b FROM sig a JOIN sig b " +
        s"ON a.id < b.id AND ($sqlBandCond)) " +
        "SELECT c.cid_a AS id_a, c.cid_b AS id_b, n_common, " +
        "CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) AS jacc " +
        "FROM cands c JOIN inter i ON i.id_a = c.cid_a AND i.id_b = c.cid_b " +
        "JOIN counts ca ON ca.doc_id = c.cid_a JOIN counts cb ON cb.doc_id = c.cid_b " +
        "WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.5"),
    "q_text_knn" ->
      (s"WITH $sqlToksCte, $sqlShCte, $sqlCountsCte, $sqlInterCte, " +
        "p AS (SELECT i.id_a, i.id_b, " +
        "CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) AS jacc " +
        "FROM inter i JOIN counts ca ON ca.doc_id = i.id_a " +
        "JOIN counts cb ON cb.doc_id = i.id_b " +
        "WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.3), " +
        "sym AS (SELECT id_a AS id, id_b AS nbr, jacc FROM p " +
        "UNION ALL SELECT id_b AS id, id_a AS nbr, jacc FROM p) " +
        "SELECT id, nbr, jacc, rk FROM (SELECT id, nbr, jacc, " +
        "row_number() OVER (PARTITION BY id ORDER BY jacc DESC, nbr) AS rk " +
        "FROM sym) WHERE rk <= 3"),
    "q_lsh_recall" ->
      (s"WITH $sqlToksCte, $sqlShCte, $sqlCountsCte, $sqlInterCte, $sqlAbCte, " +
        s"sig AS (SELECT doc_id AS id, $sqlSigSelect FROM ab GROUP BY doc_id), " +
        s"cands AS (SELECT a.id AS cid_a, b.id AS cid_b FROM sig a JOIN sig b " +
        s"ON a.id < b.id AND ($sqlBandCond)), " +
        "truth AS (SELECT i.id_a, i.id_b FROM inter i " +
        "JOIN counts ca ON ca.doc_id = i.id_a JOIN counts cb ON cb.doc_id = i.id_b " +
        "WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.5) " +
        "SELECT count(*) AS n_true, " +
        "CAST(coalesce(sum(CASE WHEN c.cid_a IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_caught, " +
        "CASE WHEN count(*) > 0 THEN " +
        "CAST(coalesce(sum(CASE WHEN c.cid_a IS NOT NULL THEN 1 END), 0) AS DOUBLE) / count(*) " +
        "END AS recall " +
        "FROM truth t LEFT JOIN cands c ON c.cid_a = t.id_a AND c.cid_b = t.id_b"),
    "q_lsh_tune" -> LshTune.bandingErrorSql(16, 0.5),
    "q_near_dedup" ->
      (s"WITH RECURSIVE $sqlNearDedupCtes " +
        "SELECT doc_id, component, doc_id = component AS is_canonical FROM comp"),
    // Verified pair edges re-attached to sources, unordered-pair folded.
    "q_dup_matrix" ->
      (s"WITH $sqlNearDedupPairCtes " +
        "SELECT least(da.source, db.source) AS source_a, " +
        "greatest(da.source, db.source) AS source_b, count(*) AS n_pairs " +
        "FROM e JOIN documents da ON da.doc_id = e.u " +
        "JOIN documents db ON db.doc_id = e.v GROUP BY 1, 2"),
    // All three tier verdicts in one statement: the text near-dup closure
    // (comp, shared CTEs), the q_embed_dedup closure with e-prefixed
    // names (two recursive closures coexist in one WITH RECURSIVE), and
    // the per-fingerprint min-id window. concat_ws skips the NULL CASE
    // arms in DuckDB exactly as in Spark.
    "q_dedup_report" ->
      (s"WITH RECURSIVE $sqlNearDedupCtes, " +
        s"ebk AS (SELECT vec_id, embedding, ${sqlBucket("embedding")} AS bucket FROM embeddings), " +
        "ee2 AS (SELECT id_a AS u, id_b AS v FROM " +
        "(SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        s"${sqlDot("a.embedding", "b.embedding")} / " +
        s"(sqrt(${sqlDot("a.embedding", "a.embedding")}) * " +
        s"sqrt(${sqlDot("b.embedding", "b.embedding")})) AS sim " +
        "FROM ebk a JOIN ebk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) " +
        "WHERE sim >= 0.3), " +
        "esym AS (SELECT u, v FROM ee2 UNION SELECT v, u FROM ee2), " +
        "ereach(u, v) AS (SELECT u, v FROM esym " +
        "UNION SELECT r.u, s.v FROM ereach r JOIN esym s ON r.v = s.u), " +
        "ecomp AS (SELECT m.vec_id, least(m.vec_id, coalesce(min(r.v), m.vec_id)) AS component " +
        "FROM embeddings m LEFT JOIN ereach r ON r.u = m.vec_id GROUP BY m.vec_id), " +
        "ex AS (SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY " +
        "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) AS exact_keep " +
        "FROM documents), " +
        "vb AS (SELECT ex.doc_id, ex.exact_keep, " +
        "c.doc_id = c.component AS near_keep, " +
        "coalesce(e.vec_id = e.component, TRUE) AS sem_keep " +
        "FROM ex JOIN comp c ON c.doc_id = ex.doc_id " +
        "LEFT JOIN ecomp e ON e.vec_id = ex.doc_id) " +
        "SELECT doc_id, exact_keep, near_keep, sem_keep, " +
        "exact_keep AND near_keep AND sem_keep AS kept, " +
        "concat_ws(',', CASE WHEN NOT exact_keep THEN 'exact' END, " +
        "CASE WHEN NOT near_keep THEN 'near' END, " +
        "CASE WHEN NOT sem_keep THEN 'semantic' END) AS dropped_by FROM vb"),
    "q_hybrid_dedup" ->
      (s"WITH RECURSIVE $sqlHybridCompCtes " +
        "SELECT doc_id, component, doc_id = component AS is_canonical FROM comp"),
    "q_hybrid_dedup_best" ->
      (s"WITH RECURSIVE $sqlHybridCompCtes, $sqlBestSurvivorTail"),
    "q_dedup_cluster_sizes" ->
      (s"WITH RECURSIVE $sqlNearDedupCtes, " +
        "cs AS (SELECT component, count(*) AS cluster_size FROM comp " +
        "GROUP BY component) " +
        "SELECT cluster_size, count(*) AS n_clusters FROM cs " +
        "GROUP BY cluster_size"),
    "q_near_dedup_best" ->
      (s"WITH RECURSIVE $sqlNearDedupCtes, $sqlBestSurvivorTail"),
    "q_simhash" ->
      (s"WITH $sqlTokCte, $sqlSimHashSums " +
        s"SELECT doc_id AS id, CAST($sqlSimHashValue AS BIGINT) AS simhash FROM sums"),
    "q_simhash_pairs" ->
      (s"WITH $sqlTokCte, $sqlSimHashSums, " +
        s"s2 AS (SELECT doc_id AS id, CAST($sqlSimHashValue AS BIGINT) AS simhash FROM sums) " +
        "SELECT a.id AS id_a, b.id AS id_b, " +
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming " +
        "FROM s2 a JOIN s2 b ON a.id < b.id " +
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"),
    // First BYTE of the UTF-8 payload (mirrors Multimodal.metadata /
    // decodeStub), not ascii() of the first character.
    "q_media_meta" ->
      ("SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
        "sha256(text) AS sha256, " +
        "CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / 256.0) AS BIGINT) AS n_chunks, " +
        "CAST(16 * (1 + ('0x' || substr(hex(encode(text)), 1, 2))::BIGINT % 32) AS BIGINT) AS fake_width, " +
        "CAST(16 * (1 + octet_length(encode(text)) % 32) AS BIGINT) AS fake_height " +
        "FROM documents"),
    // Real-decode oracle: recomputes width/height/channels and the pixel
    // mean from the PNG GENERATING formula (Multimodal.makePng: w=1+id%13,
    // h=1+id%7, 3 identical bands of (id + 31x + 17y) % 256) — the Spark
    // side must actually parse the PNG to reproduce them. Mean parity:
    // Spark divides (3*sum)/(3*w*h), the SQL sum/(w*h) — the same exact
    // rational of sub-2^53 integers, hence the identical IEEE double.
    "q_media_decode" ->
      ("WITH g AS (SELECT doc_id, 1 + doc_id % 13 AS w, 1 + doc_id % 7 AS h FROM documents), " +
        "px AS (SELECT doc_id, w, h, (doc_id + 31 * x.i + 17 * y.i) % 256 AS v " +
        "FROM g, generate_series(0, 12) x(i), generate_series(0, 6) y(i) " +
        "WHERE x.i < w AND y.i < h) " +
        "SELECT doc_id, CAST(any_value(w) AS INTEGER) AS width, " +
        "CAST(any_value(h) AS INTEGER) AS height, " +
        "CAST(3 AS INTEGER) AS channels, " +
        "CAST(sum(v) AS DOUBLE) / (any_value(w) * any_value(h)) AS mean_byte " +
        "FROM px GROUP BY doc_id"),
    // Resize mirrored on the HEX string: cell c covers 0-based bytes
    // [c*n/64, (c+1)*n/64) = 1-based hex pairs [c*n//64 + 1, (c+1)*n//64].
    "q_media_resize" ->
      ("WITH b AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n FROM documents), " +
        "cell AS (SELECT doc_id, hx, n, unnest(range(0, 64)) AS c FROM b), " +
        "pos AS (SELECT doc_id, c, hx, unnest(generate_series(CAST(c*n//64 AS INT) + 1, CAST((c+1)*n//64 AS INT))) AS i FROM cell), " +
        "s AS (SELECT doc_id, sum((c+1) * ('0x' || substr(hx, 2*i-1, 2))::BIGINT) AS ck FROM pos GROUP BY doc_id) " +
        "SELECT b.doc_id, CAST(8 AS INTEGER) AS out_w, CAST(8 AS INTEGER) AS out_h, " +
        "CAST(n AS BIGINT) AS n_bytes, CAST(coalesce(ck, 0) AS BIGINT) AS resize_checksum " +
        "FROM b LEFT JOIN s USING (doc_id)"),
    // Frame features mirrored on the HEX string (DuckDB has no BLOB
    // substring): frame fi covers hex chars [fi*512+1, fi*512+512].
    "q_media_frames" ->
      ("WITH b AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n FROM documents), " +
        "c AS (SELECT doc_id, hx, CAST(ceil(n / 256.0) AS INT) AS nc FROM b), " +
        "f AS (SELECT doc_id, hx, unnest(range(0, nc, 2)) AS fi FROM c WHERE nc > 0), " +
        "fr AS (SELECT doc_id, fi, substr(hx, fi*512 + 1, 512) AS fhx FROM f), " +
        "s AS (SELECT doc_id, fi, sum(('0x' || substr(fhx, 2*i - 1, 2))::BIGINT) AS sb " +
        "FROM (SELECT doc_id, fi, fhx, unnest(generate_series(1, CAST(length(fhx)/2 AS INT))) AS i FROM fr) " +
        "GROUP BY doc_id, fi) " +
        "SELECT fr.doc_id, CAST(fr.fi AS BIGINT) AS frame_idx, " +
        "CAST(fr.fi*256 AS BIGINT) AS byte_offset, " +
        "CAST(length(fhx)/2 AS BIGINT) AS n_bytes, " +
        "('0x' || substr(fhx, 1, 2))::BIGINT AS first_byte, " +
        "CAST(sb AS BIGINT) AS sum_bytes " +
        "FROM fr JOIN s ON fr.doc_id = s.doc_id AND fr.fi = s.fi"),
    // Same hex-chunk framing as q_media_frames; join key = the exact
    // frame hex (equality-equivalent to Spark's md5-of-bytes key).
    "q_frame_dedup" ->
      ("WITH ch AS (SELECT DISTINCT doc_id, " +
        "substr(hex(encode(text)), CAST(u.fi * 512 + 1 AS BIGINT), 512) AS h " +
        "FROM documents, LATERAL (SELECT unnest(range(0, " +
        "CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT), 2)) AS fi) u " +
        "WHERE octet_length(encode(text)) > 0), " +
        "rare AS (SELECT h FROM ch GROUP BY h HAVING count(*) <= 50), " +
        "kept AS (SELECT ch.doc_id, ch.h FROM ch JOIN rare USING (h)) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared " +
        "FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2"),
    // dHash replay from the PNG generator's closed-form pixels (lossless
    // codec => decoded sample == formula): bit gy*10+gx compares the
    // nearest-neighbor samples at x=(gx*w)//11 vs x=((gx+1)*w)//11 on row
    // y=(gy*h)//6. All-pairs Hamming <= 4 is EXACTLY the banded+verified
    // Spark result by the pigeonhole guarantee (4 < 6 chunks).
    "q_image_neardup" ->
      ("WITH d AS (SELECT doc_id, 1 + doc_id % 13 AS w, 1 + doc_id % 7 AS h FROM documents), " +
        "bits AS (SELECT doc_id, " +
        "CASE WHEN ((doc_id + 31*(((gx+1)*w)//11) + 17*((gy*h)//6)) % 256) > " +
        "((doc_id + 31*((gx*w)//11) + 17*((gy*h)//6)) % 256) " +
        "THEN (1::BIGINT << CAST(gy*10 + gx AS INT)) ELSE 0::BIGINT END AS v " +
        "FROM d, range(10) t1(gx), range(6) t2(gy)), " +
        "h AS (SELECT doc_id AS id, CAST(sum(v) AS BIGINT) AS simhash FROM bits GROUP BY doc_id) " +
        "SELECT a.id AS id_a, b.id AS id_b, " +
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming " +
        "FROM h a JOIN h b ON a.id < b.id " +
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 4"),
    "q_events_window" ->
      ("SELECT epoch_us(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))) AS window_start_us, " +
        "event_type, count(*) AS n_events, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents, " +
        "count(DISTINCT user_id) AS n_users " +
        "FROM events GROUP BY 1, 2"),
    "q_events_json" ->
      ("SELECT event_type, count(*) AS n_events, " +
        "CAST(sum(k) AS BIGINT) AS sum_k, count(k) AS n_k FROM " +
        "(SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events) " +
        "GROUP BY event_type"),
    "q_scd2" ->
      ("WITH e AS (SELECT user_id, event_id, event_type, " +
        "epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events) " +
        "SELECT user_id, event_id, event_type AS state, us AS valid_from_us, " +
        "lead(us, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS valid_to_us " +
        "FROM e"),
    "q_pivot_events" ->
      ("SELECT user_id % 10 AS cohort, " +
        "count(*) FILTER (event_type = 'view') AS view, " +
        "count(*) FILTER (event_type = 'click') AS click, " +
        "count(*) FILTER (event_type = 'purchase') AS purchase, " +
        "count(*) FILTER (event_type = 'signup') AS signup, " +
        "count(*) FILTER (event_type = 'error') AS error " +
        "FROM events GROUP BY 1"),
    "q_histogram" ->
      ("SELECT CAST((n_chars // 50) * 50 AS BIGINT) AS bin_lo, " +
        "count(*) AS n_docs, min(n_chars) AS min_chars, max(n_chars) AS max_chars " +
        "FROM documents GROUP BY 1"),
    "q_sessions" ->
      ("WITH o AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events), " +
        "m AS (SELECT user_id, event_id, us, " +
        "CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL " +
        "OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000 " +
        "THEN 1 ELSE 0 END AS new_s FROM o), " +
        "s AS (SELECT user_id, us, CAST(sum(new_s) OVER " +
        "(PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM m) " +
        "SELECT user_id, session_id, count(*) AS n_events, " +
        "min(us) AS session_start_us, max(us) AS session_end_us " +
        "FROM s GROUP BY 1, 2"),
    "q_salted_distinct" ->
      ("SELECT event_type, count(DISTINCT user_id) AS n_distinct " +
        "FROM events GROUP BY event_type"),
    "q_first_events" ->
      ("SELECT user_id, row_number() OVER " +
        "(PARTITION BY user_id ORDER BY event_id) - 1 AS rk, event_id " +
        "FROM events QUALIFY rk <= 2"),
    "q_cum_shipments" ->
      ("WITH d AS (SELECT CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_date, " +
        "CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS day_qty " +
        "FROM lineitem GROUP BY 1) " +
        "SELECT ship_date, day_qty, " +
        "CAST(sum(day_qty) OVER (ORDER BY ship_date " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_qty " +
        "FROM d"),
    "q_semi_join" ->
      ("SELECT c_custkey, c_name, c_nationkey FROM customer " +
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderpriority = '1-URGENT' AND o_orderstatus = 'O')"),
    "q_anti_join" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus FROM orders " +
        "WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)"),
    "q_star_join" ->
      ("SELECT n_name, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents, " +
        "count(DISTINCT o_custkey) AS n_customers " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE o_orderstatus = 'F' GROUP BY n_name"),
    // Equality proves the bucketed write/read roundtrip lossless and the
    // co-located join complete.
    "q_bucketed_join" ->
      ("SELECT c_mktsegment, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment"),
    "q_rollup" ->
      ("SELECT coalesce(o_orderstatus, 'ALL') AS status, " +
        "coalesce(o_orderpriority, 'ALL') AS priority, " +
        "count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents " +
        "FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"),
    "q_cube" ->
      ("SELECT coalesce(o_orderstatus, 'ALL') AS status, " +
        "coalesce(o_orderpriority, 'ALL') AS priority, " +
        "count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents " +
        "FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"),
    "q_filter_pushdown" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "WHERE o_totalprice > 100000.0 AND o_orderstatus = 'F'"),
    "q_etl_orders" ->
      ("WITH surv AS (SELECT *, row_number() OVER " +
        "(PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey) AS rn FROM orders), " +
        "ded AS (SELECT o_orderkey, o_custkey, o_totalprice FROM surv WHERE rn = 1) " +
        "SELECT o_orderkey, o_custkey, o_totalprice, " +
        "CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS id FROM ded"),
    // The Derby table holds exactly two copies of the aggregate by
    // construction (truncate-overwrite then append), so the read-back
    // re-aggregate equals this pure expression over orders.
    "q_jdbc_roundtrip" ->
      ("WITH agg AS (SELECT o_orderstatus, count(*) AS n, " +
        "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents " +
        "FROM orders GROUP BY 1) " +
        "SELECT o_orderstatus, CAST(2 AS BIGINT) AS n_copies, " +
        "CAST(2 * n AS BIGINT) AS n_total, CAST(2 * cents AS BIGINT) AS cents_total " +
        "FROM agg"),
    // Aggregate over the parquet table directly: equality proves the CSV
    // write/read roundtrip in the Spark query was lossless.
    "q_csv_roundtrip" ->
      ("SELECT c_mktsegment, count(*) AS n_rows, " +
        "CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_acctbal_cents, " +
        "min(c_name) AS min_name, count(DISTINCT c_custkey) AS n_custkeys, " +
        "(SELECT count(*) FROM customer) AS n_allstring, " +
        "(SELECT count(*) FROM customer) AS n_format, " +
        "(SELECT count(*) FROM customer) AS n_glob " +
        "FROM customer GROUP BY c_mktsegment"),
    // Aggregate over the parquet table directly: equality proves the JSON
    // write/read roundtrip in the Spark query was lossless.
    "q_json_roundtrip" ->
      ("SELECT lang, count(*) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars, min(doc_id) AS min_doc, " +
        "count(DISTINCT text) AS n_texts, " +
        "(SELECT count(*) FROM documents) AS n_inferred " +
        "FROM documents GROUP BY lang"),
    "q_embed_dup_pairs" ->
      (s"WITH bk AS (SELECT vec_id, embedding, ${sqlBucket("embedding")} AS bucket FROM embeddings) " +
        "SELECT * FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        s"${sqlDot("a.embedding", "b.embedding")} / " +
        s"(sqrt(${sqlDot("a.embedding", "a.embedding")}) * " +
        s"sqrt(${sqlDot("b.embedding", "b.embedding")})) AS sim " +
        "FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) " +
        "WHERE sim >= 0.3"),
    "q_embed_dedup" ->
      (s"WITH RECURSIVE bk AS (SELECT vec_id, embedding, ${sqlBucket("embedding")} AS bucket FROM embeddings), " +
        "e AS (SELECT id_a AS u, id_b AS v FROM " +
        "(SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        s"${sqlDot("a.embedding", "b.embedding")} / " +
        s"(sqrt(${sqlDot("a.embedding", "a.embedding")}) * " +
        s"sqrt(${sqlDot("b.embedding", "b.embedding")})) AS sim " +
        "FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) " +
        "WHERE sim >= 0.3), " +
        "sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e), " +
        "reach(u, v) AS (SELECT u, v FROM sym " +
        "UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u), " +
        "comp AS (SELECT m.vec_id, least(m.vec_id, coalesce(min(r.v), m.vec_id)) AS component " +
        "FROM embeddings m LEFT JOIN reach r ON r.u = m.vec_id GROUP BY m.vec_id) " +
        "SELECT vec_id, component, vec_id = component AS is_canonical FROM comp"),
    // Mirrors Ann.semanticDedup against the frozen IvfFixture centroids:
    // cell argmax (score DESC, cid tie-break), within-cell dominance
    // (earlier in (cent_sim ASC, vec_id) order AND cosine >= 0.3) ->
    // dropped; fold-order dot products keep cent_sim bit-identical.
    "q_semantic_dedup" ->
      (s"WITH $sqlCentsCte, " +
        "cor AS (SELECT vec_id, embedding, " +
        s"sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings), " +
        "asn AS (SELECT vec_id, cell, cent_sim, embedding, nrm FROM " +
        "(SELECT c.vec_id, ct.cid AS cell, " +
        s"${sqlDot("c.embedding", "ct.cv")} / c.nrm AS cent_sim, " +
        "c.embedding, c.nrm, row_number() OVER (PARTITION BY c.vec_id " +
        s"ORDER BY ${sqlDot("c.embedding", "ct.cv")} / c.nrm DESC, ct.cid) AS rn " +
        "FROM cor c, cents ct) WHERE rn = 1), " +
        "dom AS (SELECT DISTINCT b.vec_id FROM asn a JOIN asn b ON a.cell = b.cell " +
        "AND (a.cent_sim < b.cent_sim OR (a.cent_sim = b.cent_sim AND a.vec_id < b.vec_id)) " +
        s"WHERE ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.3) " +
        "SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell, a.cent_sim, " +
        "d.vec_id IS NULL AS is_kept " +
        "FROM asn a LEFT JOIN dom d ON d.vec_id = a.vec_id"),
    "q_embed_dup_stacked" ->
      ("WITH tb AS (" +
        (0 until 3).map(t =>
          s"SELECT vec_id, $t AS tbl, ${sqlBucketFor("embedding", t)} AS bucket FROM embeddings")
          .mkString(" UNION ALL ") + "), " +
        "cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b " +
        "FROM tb a JOIN tb b ON a.tbl = b.tbl AND a.bucket = b.bucket " +
        "AND a.vec_id < b.vec_id) " +
        "SELECT * FROM (SELECT c.id_a, c.id_b, " +
        s"${sqlDot("ea.embedding", "eb.embedding")} / " +
        s"(sqrt(${sqlDot("ea.embedding", "ea.embedding")}) * " +
        s"sqrt(${sqlDot("eb.embedding", "eb.embedding")})) AS sim " +
        "FROM cand c JOIN embeddings ea ON ea.vec_id = c.id_a " +
        "JOIN embeddings eb ON eb.vec_id = c.id_b) WHERE sim >= 0.3"),
    "q_ann_recall" ->
      ("WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0), " +
        "truth AS (SELECT id_a, id_b FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        s"${sqlDot("a.embedding", "b.embedding")} / " +
        s"(sqrt(${sqlDot("a.embedding", "a.embedding")}) * " +
        s"sqrt(${sqlDot("b.embedding", "b.embedding")})) AS sim " +
        "FROM s a JOIN s b ON a.vec_id < b.vec_id) WHERE sim >= 0.3), " +
        "tb AS (" +
        (0 until 3).map(t =>
          s"SELECT vec_id, $t AS tbl, ${sqlBucketFor("embedding", t)} AS bucket FROM s")
          .mkString(" UNION ALL ") + "), " +
        "cand AS (SELECT DISTINCT a.vec_id AS cid_a, b.vec_id AS cid_b " +
        "FROM tb a JOIN tb b ON a.tbl = b.tbl AND a.bucket = b.bucket " +
        "AND a.vec_id < b.vec_id) " +
        "SELECT count(*) AS n_true, " +
        "CAST(coalesce(sum(CASE WHEN c.cid_a IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_caught, " +
        "CASE WHEN count(*) > 0 THEN " +
        "CAST(coalesce(sum(CASE WHEN c.cid_a IS NOT NULL THEN 1 END), 0) AS DOUBLE) / count(*) " +
        "END AS recall " +
        "FROM truth t LEFT JOIN cand c ON c.cid_a = t.id_a AND c.cid_b = t.id_b"),
    "q_semantic_contam" ->
      ("WITH tb AS (" +
        (0 until 3).map(t =>
          s"SELECT vec_id, $t AS tbl, ${sqlBucketFor("embedding", t)} AS bucket FROM embeddings")
          .mkString(" UNION ALL ") + "), " +
        "cand AS (SELECT DISTINCT a.vec_id, b.vec_id AS eval_id " +
        "FROM tb a JOIN tb b ON a.tbl = b.tbl AND a.bucket = b.bucket " +
        "WHERE a.vec_id % 20 <> 0 AND b.vec_id % 20 = 0), " +
        "hits AS (SELECT * FROM (SELECT c.vec_id, c.eval_id, " +
        s"${sqlDot("et.embedding", "ee.embedding")} / " +
        s"(sqrt(${sqlDot("et.embedding", "et.embedding")}) * " +
        s"sqrt(${sqlDot("ee.embedding", "ee.embedding")})) AS sim " +
        "FROM cand c JOIN embeddings et ON et.vec_id = c.vec_id " +
        "JOIN embeddings ee ON ee.vec_id = c.eval_id) WHERE sim >= 0.3), " +
        "rk AS (SELECT vec_id, eval_id, sim, row_number() OVER " +
        "(PARTITION BY vec_id ORDER BY sim DESC, eval_id) AS rk FROM hits), " +
        "agg AS (SELECT vec_id, count(*) AS n_hits, max(sim) AS max_sim, " +
        "max(CASE WHEN rk = 1 THEN eval_id END) AS top_eval_id " +
        "FROM rk GROUP BY vec_id) " +
        "SELECT t.vec_id, coalesce(a.n_hits, 0) AS n_hits, a.max_sim, " +
        "a.top_eval_id, coalesce(a.n_hits, 0) > 0 AS contaminated " +
        "FROM (SELECT vec_id FROM embeddings WHERE vec_id % 20 <> 0) t " +
        "LEFT JOIN agg a ON t.vec_id = a.vec_id"),
    "q_ann_cosine" ->
      ("WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0), " +
        "scored AS (SELECT q.qid, e.vec_id, " +
        s"${sqlDot("q.qe", "e.embedding")} / " +
        s"(sqrt(${sqlDot("q.qe", "q.qe")}) * sqrt(${sqlDot("e.embedding", "e.embedding")})) AS sim " +
        "FROM q, embeddings e) " +
        "SELECT qid AS query_id, rank, vec_id, sim FROM " +
        "(SELECT qid, vec_id, sim, CAST(row_number() OVER " +
        "(PARTITION BY qid ORDER BY sim DESC, vec_id) AS BIGINT) AS rank FROM scored) " +
        "WHERE rank <= 5"),
    // Mirrors Ann.hammingSearch stage for stage (sqlHamCtes); stage 1 is
    // exact integer Hamming over packed sign bits.
    "q_hamming_search" ->
      (s"WITH ${sqlHamCtes(50)} " +
        "SELECT query_id, rank, vec_id, sim FROM " +
        "(SELECT query_id, vec_id, sim, CAST(row_number() OVER " +
        "(PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) " +
        "AS rank FROM hamrer) WHERE rank <= 5"),
    // Indexed == fused is spec-pinned (the stored sigs ARE the fused
    // expression's output), so the fused oracle is exact.
    "q_hamming_search_indexed" ->
      (s"WITH ${sqlHamCtes(50)} " +
        "SELECT query_id, rank, vec_id, sim FROM " +
        "(SELECT query_id, vec_id, sim, CAST(row_number() OVER " +
        "(PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) " +
        "AS rank FROM hamrer) WHERE rank <= 5"),
    // Recall audit: sign-bit top-5 vs the exact cosine top-5
    // (sqlRecallVsExactCosine — the shared recall tail).
    "q_hamming_recall" ->
      (s"WITH ${sqlHamCtes(50)}, " +
        "hamtop AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, " +
        "vec_id) AS rn FROM hamrer) WHERE rn <= 5), " +
        sqlRecallVsExactCosine("hamtop")),
    // Mirrors Ann.sq8Search stage for stage (sqlSq8Ctes); stage 1 is
    // exact integer arithmetic, stage 2 the q_ann_cosine fold.
    "q_sq8_search" ->
      (s"WITH ${sqlSq8Ctes(20)} " +
        "SELECT query_id, rank, vec_id, sim FROM " +
        "(SELECT query_id, vec_id, sim, CAST(row_number() OVER " +
        "(PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) " +
        "AS rank FROM sq8rer) WHERE rank <= 5"),
    // Indexed == fused is spec-pinned (the codes ARE sq8QuantCol's
    // output under the same scale), so the fused oracle is exact.
    "q_sq8_search_indexed" ->
      (s"WITH ${sqlSq8Ctes(20)} " +
        "SELECT query_id, rank, vec_id, sim FROM " +
        "(SELECT query_id, vec_id, sim, CAST(row_number() OVER " +
        "(PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) " +
        "AS rank FROM sq8rer) WHERE rank <= 5"),
    // IVF-SQ8: full stage-for-stage replay (sqlIvfSq8Ctes) — the
    // q_ann_ivf routing chain composed with the q_sq8_search
    // quantization chain; pruning is layout, not semantics, so the
    // probed join IS the oracle's probed join.
    "q_ivfsq8_search" ->
      (s"WITH ${sqlIvfSq8Ctes(20, 8)} " +
        "SELECT query_id, rank, vec_id, sim FROM " +
        "(SELECT query_id, vec_id, sim, CAST(row_number() OVER " +
        "(PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) " +
        "AS rank FROM i8rer) WHERE rank <= 5"),
    // Recall audit: probed IVF-SQ8 top-5 vs the exact cosine top-5.
    "q_ivfsq8_recall" ->
      (s"WITH ${sqlIvfSq8Ctes(20, 8)}, " +
        "i8top AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, " +
        "vec_id) AS rn FROM i8rer) WHERE rn <= 5), " +
        sqlRecallVsExactCosine("i8top")),
    // Cross-tier dispatch: the 0.95 floor excludes the sign tier's
    // published 0.90, so the route is the standing SQ8 serve — the
    // indexed==fused pin makes q_sq8_search's fused oracle exact here.
    "q_ann_auto" ->
      (s"WITH ${sqlSq8Ctes(20)} " +
        "SELECT query_id, rank, vec_id, sim FROM " +
        "(SELECT query_id, vec_id, sim, CAST(row_number() OVER " +
        "(PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) " +
        "AS rank FROM sq8rer) WHERE rank <= 5"),
    // Day-2 lifecycle: append+compact change nothing stage 1 observes,
    // so the oracle is the fused form with the quantization scale pinned
    // to the PUBLISH subset (vec_id % 8 <> 0) — the frozen-grid append
    // contract made visible in SQL.
    "q_sq8_day2" ->
      (s"WITH ${sqlSq8Ctes(20, "WHERE vec_id % 8 <> 0")} " +
        "SELECT query_id, rank, vec_id, sim FROM " +
        "(SELECT query_id, vec_id, sim, CAST(row_number() OVER " +
        "(PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) " +
        "AS rank FROM sq8rer) WHERE rank <= 5"),
    // Day-2 lifecycle: append+compact change nothing stage 1 observes
    // (same codes, same cells, fewer files), so the oracle is the fused
    // IVF-SQ8 replay with the quantization scale pinned to the PUBLISH
    // subset — the frozen-grid append contract in SQL, the q_sq8_day2
    // convention on the cell-partitioned tier.
    "q_ivfsq8_day2" ->
      (s"WITH ${sqlIvfSq8Ctes(20, 8, "WHERE vec_id % 8 <> 0")} " +
        "SELECT query_id, rank, vec_id, sim FROM " +
        "(SELECT query_id, vec_id, sim, CAST(row_number() OVER " +
        "(PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) " +
        "AS rank FROM i8rer) WHERE rank <= 5"),
    // Dispatch pruned-tier arm: the 0.80 floor clears both standing
    // tiers, so priced bytes decide — the probed nProbe/nCells share
    // undercuts the flat scan and the route is the probed IVF-SQ8 serve
    // at its published (nProbe=8, C=20): q_ivfsq8_search's replay.
    "q_ann_auto_ivfsq8" ->
      (s"WITH ${sqlIvfSq8Ctes(20, 8)} " +
        "SELECT query_id, rank, vec_id, sim FROM " +
        "(SELECT query_id, vec_id, sim, CAST(row_number() OVER " +
        "(PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) " +
        "AS rank FROM i8rer) WHERE rank <= 5"),
    // Dispatch drift-exclusion arm: the IVF-SQ8 index grew 8x past its
    // publish (> the 2x bar), so the dispatcher must exclude it and
    // serve the flat SQ8 index — q_sq8_search's fused oracle (the flat
    // publish froze its scale on the FULL corpus).
    "q_ann_auto_drift" ->
      (s"WITH ${sqlSq8Ctes(20)} " +
        "SELECT query_id, rank, vec_id, sim FROM " +
        "(SELECT query_id, vec_id, sim, CAST(row_number() OVER " +
        "(PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) " +
        "AS rank FROM sq8rer) WHERE rank <= 5"),
    // Day-2 lifecycle: signatures are scale-free and compaction rewrites
    // the same rows, so the oracle is exactly the fused sign serve.
    "q_hamming_day2" ->
      (s"WITH ${sqlHamCtes(50)} " +
        "SELECT query_id, rank, vec_id, sim FROM " +
        "(SELECT query_id, vec_id, sim, CAST(row_number() OVER " +
        "(PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) " +
        "AS rank FROM hamrer) WHERE rank <= 5"),
    // Recall audit: SQ8 top-5 vs the exact cosine top-5 on the same
    // query tier — counts + one exact division.
    "q_sq8_recall" ->
      (s"WITH ${sqlSq8Ctes(20)}, " +
        "sq8top AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, " +
        "vec_id) AS rn FROM sq8rer) WHERE rn <= 5), " +
        sqlRecallVsExactCosine("sq8top")),
    // Mirrors Ann.lshTopK end-to-end: per-vector plane-sign bucket
    // (sqlBucket — the same +/-1 plane literals), 37 multi-probe XOR
    // masks, bucket equi-join, sequential-fold cosine, dedup, top-5 rank.
    "q_ann_lsh" ->
      (s"WITH bk AS (SELECT vec_id, embedding, ${sqlBucket("embedding")} AS bucket FROM embeddings), " +
        "qv AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM bk WHERE vec_id % 50 = 0), " +
        s"pb AS (SELECT query_id, qe, xor(CAST(bucket AS BIGINT), mk.m) AS bucket " +
        s"FROM qv, (SELECT CAST(unnest([$sqlLshMasks]) AS BIGINT) AS m) mk), " +
        "sc AS (SELECT DISTINCT p.query_id, c.vec_id, " +
        s"${sqlDot("p.qe", "c.embedding")} / " +
        s"(sqrt(${sqlDot("p.qe", "p.qe")}) * sqrt(${sqlDot("c.embedding", "c.embedding")})) AS sim " +
        "FROM pb p JOIN bk c ON p.bucket = CAST(c.bucket AS BIGINT)) " +
        "SELECT query_id, rank, vec_id, sim FROM " +
        "(SELECT query_id, vec_id, sim, CAST(row_number() OVER " +
        "(PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rank FROM sc) " +
        "WHERE rank <= 5"),
    // Mirrors Ann.ivfSearch against the frozen IvfFixture centroids:
    // per-vector cell argmax (score DESC, cid tie-break — Spark's
    // greatest-over-structs), 8-probe cell ranking per query, exact
    // cosine re-rank within probed cells.
    "q_ann_ivf" ->
      (s"WITH $sqlCentsCte, " +
        "cor AS (SELECT vec_id, embedding, " +
        s"sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings), " +
        "asn AS (SELECT vec_id, cell FROM " +
        "(SELECT c.vec_id, ct.cid AS cell, row_number() OVER (PARTITION BY c.vec_id " +
        s"ORDER BY ${sqlDot("c.embedding", "ct.cv")} / c.nrm DESC, ct.cid) AS rn " +
        "FROM cor c, cents ct) WHERE rn = 1), " +
        "qp AS (SELECT query_id, qe, qn, cell FROM " +
        "(SELECT c.vec_id AS query_id, c.embedding AS qe, c.nrm AS qn, ct.cid AS cell, " +
        "row_number() OVER (PARTITION BY c.vec_id " +
        s"ORDER BY ${sqlDot("c.embedding", "ct.cv")} / c.nrm DESC, ct.cid) AS rn " +
        "FROM cor c, cents ct WHERE c.vec_id % 50 = 0) WHERE rn <= 8), " +
        "sc AS (SELECT q.query_id, c.vec_id, " +
        s"${sqlDot("q.qe", "c.embedding")} / (q.qn * c.nrm) AS sim " +
        "FROM qp q JOIN (SELECT cc.vec_id, cc.embedding, cc.nrm, a.cell " +
        "FROM cor cc JOIN asn a ON a.vec_id = cc.vec_id) c ON q.cell = c.cell) " +
        "SELECT query_id, rank, vec_id, sim FROM " +
        "(SELECT query_id, vec_id, sim, CAST(row_number() OVER " +
        "(PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rank FROM sc) " +
        "WHERE rank <= 5"),
    // Recursive-CTE difflib replay (sqlDifflibChain): link on the integer
    // form of ratio*100 >= 80, then the same least-key/sorted-member-set
    // aggregation as Linker.groupCollect.
    "q_link_ro" -> sqlLinkRoOracle,
    // The SQL-surface twin computes the identical result; same oracle.
    "q_link_ro_sql" -> sqlLinkRoOracle,
    // Blocked mode is exact (prefix-filter soundness argued in
    // Linker.similarityPairsBlocked's Scaladoc) — same all-pairs oracle.
    "q_link_ro_blocked" -> sqlLinkRoOracle,
    // auto picks a branch; both branches are result-identical, so the
    // same replay oracle proves whichever plan ran.
    "q_link_ro_auto" -> sqlLinkRoOracle,
    // Full greedy-fold replay (sqlGreedyFoldOracle) — fixture-independent,
    // replacing the r2–r7 one-cluster derivation.
    "q_cluster_greedy" -> sqlGreedyFoldOracle(
      "SELECT s_suppkey AS ord, s_name AS name, " +
        "CAST(s_nationkey AS VARCHAR) AS alt FROM supplier"),
    // Same replay over the constructed 3-group frame (see the query
    // comment): the group-tag prefix is built with the same chr/repeat
    // arithmetic on both sides.
    "q_cluster_greedy_multi" -> sqlGreedyFoldOracle(
      "SELECT s_suppkey AS ord, " +
        "repeat(chr(CAST(65 + s_suppkey % 3 AS INT)), 8) || s_name AS name, " +
        "CAST(s_nationkey AS VARCHAR) AS alt FROM supplier WHERE s_suppkey % 4 = 1"),
    "q_substring_spans" ->
      (s"WITH $sqlSpanCtes " +
        "SELECT id_a, id_b, start_a, start_b, len_tokens FROM sp"),
    "q_substring_dedup" ->
      (s"WITH $sqlSpanCtes, " +
        "rem AS (SELECT DISTINCT id_b AS doc_id, CAST(u.p AS BIGINT) AS pos " +
        "FROM sp, unnest(range(start_b, start_b + len_tokens)) u(p)), " +
        "otoks AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pos, t[CAST(u.i AS INT)] AS tok " +
        "FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t " +
        "FROM documents WHERE length(trim(text)) > 0) ot, " +
        "unnest(range(1, len(t) + 1)) u(i)), " +
        "kept AS (SELECT o.doc_id, o.pos, o.tok FROM otoks o " +
        "WHERE NOT EXISTS (SELECT 1 FROM rem r WHERE r.doc_id = o.doc_id AND r.pos = o.pos)), " +
        "reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_dedup " +
        "FROM kept GROUP BY doc_id), " +
        "nrem AS (SELECT doc_id, count(*) AS n_removed FROM rem GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(reb.text_dedup, '') AS text_dedup, " +
        "coalesce(nrem.n_removed, 0) AS n_removed FROM documents d " +
        "LEFT JOIN reb ON reb.doc_id = d.doc_id " +
        "LEFT JOIN nrem ON nrem.doc_id = d.doc_id"),
    "q_redact_eval" ->
      ("WITH ltoks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "pg AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pos, " +
        s"${sqlHash60("array_to_string(t[CAST(u.i AS INT):CAST(u.i + 2 AS INT)], ' ')", 0)} AS gh " +
        "FROM ltoks, unnest(range(1, len(t) - 1)) u(i) WHERE len(t) >= 3), " +
        "sp AS (SELECT tid, min(pa) AS start_t, count(*) + 2 AS len_tokens FROM " +
        "(SELECT tid, eid, pa - pb AS diag, pa, pb, " +
        "pa - row_number() OVER (PARTITION BY tid, eid, pa - pb ORDER BY pa) AS island " +
        "FROM (SELECT a.doc_id AS tid, b.doc_id AS eid, a.pos AS pa, b.pos AS pb " +
        "FROM pg a JOIN pg b ON a.gh = b.gh " +
        "WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1)) " +
        "GROUP BY tid, eid, diag, island HAVING count(*) + 2 >= 8), " +
        "rem AS (SELECT DISTINCT tid AS doc_id, CAST(u.p AS BIGINT) AS pos " +
        "FROM sp, unnest(range(start_t, start_t + len_tokens)) u(p)), " +
        "otoks AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pos, t[CAST(u.i AS INT)] AS tok " +
        "FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t " +
        "FROM documents WHERE doc_id % 2 = 0 AND length(trim(text)) > 0) ot, " +
        "unnest(range(1, len(t) + 1)) u(i)), " +
        "kept AS (SELECT o.doc_id, o.pos, o.tok FROM otoks o " +
        "WHERE NOT EXISTS (SELECT 1 FROM rem r WHERE r.doc_id = o.doc_id AND r.pos = o.pos)), " +
        "reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_redacted " +
        "FROM kept GROUP BY doc_id), " +
        "nrem AS (SELECT doc_id, count(*) AS n_removed FROM rem GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(reb.text_redacted, '') AS text_redacted, " +
        "coalesce(nrem.n_removed, 0) AS n_removed " +
        "FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 0) d " +
        "LEFT JOIN reb ON reb.doc_id = d.doc_id " +
        "LEFT JOIN nrem ON nrem.doc_id = d.doc_id"),
    "q_boilerplate_prevalence" ->
      (s"WITH ${sqlSegCtes(3)} " +
        "SELECT segment, count(DISTINCT doc_id) AS n_docs, " +
        "count(*) AS n_occurrences FROM seg WHERE seg_tokens > 0 " +
        "GROUP BY segment HAVING count(DISTINCT doc_id) >= 5"),
    "q_boilerplate_remove" ->
      (s"WITH ${sqlSegCtes(3)}, " +
        "flag AS (SELECT segment FROM seg WHERE seg_tokens > 0 " +
        "GROUP BY segment HAVING count(DISTINCT doc_id) >= 5), " +
        "kept AS (SELECT s.doc_id, s.seg_idx, s.segment FROM seg s " +
        "WHERE NOT EXISTS (SELECT 1 FROM flag f WHERE f.segment = s.segment)), " +
        sqlSegRebuildTail),
    "q_intradoc_dedup" ->
      (s"WITH ${sqlSegCtes(2)}, " +
        "kept AS (SELECT doc_id, seg_idx, segment FROM " +
        "(SELECT doc_id, seg_idx, segment, row_number() OVER " +
        "(PARTITION BY doc_id, segment ORDER BY seg_idx) AS rn FROM seg) " +
        "WHERE rn = 1), " +
        sqlSegRebuildTail),
    "q_oov_stats" ->
      ("WITH t AS (SELECT doc_id, " +
        "unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "v AS (SELECT token FROM (SELECT token, count(*) AS n FROM t " +
        "GROUP BY token ORDER BY n DESC, token LIMIT 20)), " +
        "per AS (SELECT doc_id, count(*) AS n_tokens, " +
        "count(*) FILTER (WHERE token NOT IN (SELECT token FROM v)) AS n_oov " +
        "FROM t GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(p.n_tokens, 0) AS n_tokens, " +
        "coalesce(p.n_oov, 0) AS n_oov, " +
        "CASE WHEN coalesce(p.n_tokens, 0) = 0 THEN 0 " +
        "ELSE (p.n_oov * 1000) // p.n_tokens END AS oov_permille " +
        "FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id"),
    "q_token_budget" ->
      (s"WITH s AS ($sqlTextStats), " +
        "j AS (SELECT d.source, s.doc_id, s.quality, s.n_tokens FROM s " +
        "JOIN documents d ON s.doc_id = d.doc_id), " +
        "c AS (SELECT source, doc_id, quality, n_tokens, " +
        "CAST(sum(n_tokens) OVER (PARTITION BY source " +
        "ORDER BY quality DESC, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
        "AS cum_tokens FROM j) " +
        "SELECT doc_id, quality, n_tokens, source, cum_tokens FROM c " +
        "WHERE cum_tokens <= 800"),
    "q_dup_ngrams" ->
      ("WITH toks AS (SELECT doc_id, " +
        "string_split_regex(trim(lower(text)), '\\s+') AS t " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "g AS (SELECT doc_id, " +
        "array_to_string(t[CAST(i AS INT):CAST(i+2 AS INT)], ' ') AS gram " +
        "FROM toks, unnest(range(1, len(t)-1)) u(i) WHERE len(t) >= 3), " +
        "c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2), " +
        "per AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams, " +
        "count(*) AS n_distinct, " +
        "CAST(coalesce(sum(c) FILTER (WHERE c > 1), 0) AS BIGINT) AS n_dup " +
        "FROM c GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(p.n_grams, 0) AS n_grams, " +
        "coalesce(p.n_distinct, 0) AS n_distinct, " +
        "coalesce(p.n_dup, 0) AS n_dup, " +
        "CASE WHEN coalesce(p.n_grams, 0) = 0 THEN 0 " +
        "ELSE (p.n_dup * 1000) // p.n_grams END AS dup_permille " +
        "FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id"),
    "q_corpus_profile" ->
      ("WITH base AS (SELECT lang, " +
        "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp, " +
        s"CAST(coalesce($sqlTokenCount, 0) AS BIGINT) AS nt FROM documents), " +
        "tot AS (SELECT lang, count(*) AS n_docs, count(DISTINCT fp) AS n_distinct_fp " +
        "FROM base GROUP BY lang), " +
        "cts AS (SELECT lang, nt, count(*) AS c FROM base GROUP BY lang, nt), " +
        "cum AS (SELECT lang, nt, sum(c) OVER (PARTITION BY lang ORDER BY nt) AS cum, " +
        "sum(c) OVER (PARTITION BY lang) AS total FROM cts), " +
        "pct AS (SELECT lang, min(CASE WHEN cum * 2 >= total THEN nt END) AS p50_tokens, " +
        "min(CASE WHEN cum * 20 >= total * 19 THEN nt END) AS p95_tokens " +
        "FROM cum GROUP BY lang) " +
        "SELECT t.lang, t.n_docs, t.n_distinct_fp, p.p50_tokens, p.p95_tokens " +
        "FROM tot t JOIN pct p ON t.lang = p.lang"),
    // The audit emits exact n_docs plus per-sketch within-bound booleans;
    // the oracle asserts the exact count and that every flag is TRUE, so
    // an out-of-bound sketch is a hash mismatch (see corpusStatsAudit).
    "q_corpus_stats" ->
      ("SELECT lang, count(*) AS n_docs, TRUE AS hll_ok, " +
        "TRUE AS p50_ok, TRUE AS p95_ok FROM documents GROUP BY lang"),
    "q_sketch_distinct" ->
      ("WITH base AS (SELECT lang, " +
        "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp " +
        "FROM documents) " +
        "SELECT lang AS stratum, count(*) AS n_docs, " +
        "count(DISTINCT fp) AS n_distinct, TRUE AS hll_ok FROM base GROUP BY 1 " +
        "UNION ALL SELECT '__all__', count(*), count(DISTINCT fp), TRUE FROM base"),
    "q_containment_pairs" ->
      (s"WITH $sqlToksCte, $sqlShCte, $sqlCountsCte, $sqlInterCte " +
        "SELECT id_a, id_b, n_common, " +
        "CAST(n_common AS DOUBLE) / ca.n AS cont_a_in_b, " +
        "CAST(n_common AS DOUBLE) / cb.n AS cont_b_in_a " +
        "FROM inter JOIN counts ca ON ca.doc_id = id_a " +
        "JOIN counts cb ON cb.doc_id = id_b " +
        "WHERE greatest(CAST(n_common AS DOUBLE) / ca.n, " +
        "CAST(n_common AS DOUBLE) / cb.n) >= 0.8"),
    "q_upsert" ->
      ("WITH cur AS (SELECT o_orderkey, o_custkey, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents FROM orders), " +
        "u AS (SELECT o_orderkey, o_custkey, price_cents * 2 AS price_cents " +
        "FROM cur WHERE o_orderkey % 10 = 0) " +
        "SELECT o_orderkey, o_custkey, price_cents FROM u " +
        "UNION ALL SELECT c.o_orderkey, c.o_custkey, c.price_cents FROM cur c " +
        "WHERE NOT EXISTS (SELECT 1 FROM u WHERE u.o_orderkey = c.o_orderkey)"),
    "q_cdc_apply" ->
      ("WITH cur AS (SELECT o_orderkey, o_custkey, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents FROM orders), " +
        "up AS (SELECT o_orderkey, o_custkey, price_cents * 2 AS price_cents " +
        "FROM cur WHERE o_orderkey % 10 = 0 AND o_orderkey % 7 <> 0), " +
        "ck AS (SELECT o_orderkey FROM cur " +
        "WHERE o_orderkey % 7 = 0 OR o_orderkey % 10 = 0) " +
        "SELECT o_orderkey, o_custkey, price_cents FROM up " +
        "UNION ALL SELECT c.o_orderkey, c.o_custkey, c.price_cents FROM cur c " +
        "WHERE NOT EXISTS (SELECT 1 FROM ck WHERE ck.o_orderkey = c.o_orderkey)"),
    "q_salted_join" ->
      ("SELECT o.o_orderpriority, count(*) AS n_items, " +
        "CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) " +
        "AS sum_price_cents " +
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "GROUP BY 1"),
    "q_quality_deciles" ->
      ("SELECT doc_id, source, CAST(ntile(10) OVER " +
        "(PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS decile " +
        "FROM documents"),
    "q_snapshot_diff" ->
      ("WITH prev AS (SELECT o_orderkey, o_custkey, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents FROM orders), " +
        "cur AS (SELECT o_orderkey, o_custkey, " +
        "CASE WHEN o_orderkey % 10 = 0 THEN price_cents * 2 ELSE price_cents END " +
        "AS price_cents FROM prev WHERE o_orderkey % 7 <> 0 " +
        "UNION ALL SELECT o_orderkey + 10000000, o_custkey, price_cents " +
        "FROM prev WHERE o_orderkey % 13 = 0), " +
        "d AS (SELECT COALESCE(p.o_orderkey, c.o_orderkey) AS o_orderkey, " +
        "CASE WHEN p.o_orderkey IS NULL THEN 'added' " +
        "WHEN c.o_orderkey IS NULL THEN 'removed' " +
        "WHEN p.o_custkey IS DISTINCT FROM c.o_custkey " +
        "OR p.price_cents IS DISTINCT FROM c.price_cents THEN 'changed' " +
        "ELSE 'unchanged' END AS change " +
        "FROM prev p FULL JOIN cur c ON p.o_orderkey = c.o_orderkey) " +
        "SELECT o_orderkey, change FROM d WHERE change <> 'unchanged'"),
    "q_schema_evolution" ->
      ("WITH base AS (SELECT o_orderkey, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, " +
        "o_orderpriority FROM orders), " +
        "m AS (SELECT price_cents, NULL AS o_orderpriority FROM base " +
        "WHERE o_orderkey % 2 = 0 " +
        "UNION ALL SELECT price_cents, o_orderpriority FROM base " +
        "WHERE o_orderkey % 2 <> 0) " +
        "SELECT COALESCE(o_orderpriority, '<v1>') AS priority, " +
        "count(*) AS n_rows, CAST(sum(price_cents) AS BIGINT) AS sum_cents " +
        "FROM m GROUP BY 1"),
    "q_null_skew_join" ->
      ("WITH l AS (SELECT o_orderkey, " +
        "CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_custkey END AS custkey, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents FROM orders) " +
        "SELECT COALESCE(c.c_mktsegment, '<no-key>') AS segment, " +
        "count(*) AS n_rows, CAST(sum(l.price_cents) AS BIGINT) AS sum_cents " +
        "FROM l LEFT JOIN customer c ON l.custkey = c.c_custkey GROUP BY 1"),
    "q_text_normalize" ->
      ("SELECT doc_id, length(text) AS len_raw, " +
        "length(nfc_normalize(text)) AS len_nfc, " +
        "md5(nfc_normalize(text)) AS fp_nfc FROM documents"),
    "q_label_centroid" ->
      ("WITH x AS (SELECT label, CAST(i AS BIGINT) - 1 AS pos, " +
        "embedding[CAST(i AS INT)] AS x " +
        "FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)) " +
        "SELECT label, pos, " +
        "CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) " +
        "AS sum_scaled, count(*) AS n FROM x GROUP BY 1, 2"),
    "q_profile_orders" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      cols.map(c =>
        s"SELECT '$c' AS col_name, count(*) AS n_rows, " +
          s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, " +
          s"count(DISTINCT $c) AS n_distinct FROM orders")
        .mkString(" UNION ALL ")
    },
    "q_bigram_stats" ->
      ("WITH toks AS (SELECT string_split_regex(trim(text), '\\s+') AS t " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "bg AS (SELECT array_to_string(t[CAST(i AS INT):CAST(i + 1 AS INT)], ' ') AS bigram " +
        "FROM toks, unnest(range(1, len(t))) AS u(i) WHERE len(t) >= 2), " +
        "bgc AS (SELECT bigram, count(*) AS n_xy FROM bg GROUP BY 1 " +
        "ORDER BY n_xy DESC, bigram LIMIT 100), " +
        "un AS (SELECT unnest(t) AS tok FROM toks), " +
        "unc AS (SELECT tok, count(*) AS n FROM un GROUP BY 1) " +
        "SELECT bigram, n_xy, ux.n AS n_x, uy.n AS n_y FROM bgc " +
        "JOIN unc ux ON ux.tok = string_split(bigram, ' ')[1] " +
        "JOIN unc uy ON uy.tok = string_split(bigram, ' ')[2]"),
    "q_jaccard_prefix" ->
      (s"WITH $sqlToksCte, $sqlShCte, $sqlCountsCte, $sqlInterCte " +
        "SELECT id_a, id_b, n_common, " +
        "CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) AS jacc " +
        "FROM inter JOIN counts ca ON ca.doc_id = id_a " +
        "JOIN counts cb ON cb.doc_id = id_b " +
        "WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.5"),
    "q_rolling_revenue" ->
      ("WITH o AS (SELECT o_orderkey, o_custkey, " +
        "epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS day, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
        "SELECT o_orderkey, o_custkey, day, " +
        "CAST(sum(cents) OVER w AS BIGINT) AS revenue_7d, " +
        "count(*) OVER w AS n_orders_7d FROM o " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY day " +
        "RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)"),
    "q_dict_match" -> sqlDictMatchOracle,
    // Served from the standing variant index — result-identical by the
    // publish/serve roundtrip argument
    // (EditDistanceJoin.pairsAgainstIndexBucketed Scaladoc); equality against the SAME naive replay proves it.
    "q_dict_match_indexed" -> sqlDictMatchOracle,
    // write(%7!=0) + append(%7==0) reconstructs the FULL dictionary, so
    // the monolithic replay is the exact oracle — equality proves the
    // incremental publish lossless through the whole serve path.
    "q_dict_match_appended" -> sqlDictMatchOracle,
    "q_dict_best" ->
      ("WITH dirty AS (SELECT p_partkey AS dirty_id, " +
        "substring(p_name, 1, CAST((p_partkey // 5) % length(p_name) AS INT)) || " +
        "substring(p_name, CAST((p_partkey // 5) % length(p_name) AS INT) + 2) " +
        "AS dirty_name FROM part WHERE p_partkey % 5 = 0), " +
        "m AS (SELECT d.dirty_id AS left_id, d.dirty_name AS left_key, " +
        "p.p_partkey AS right_id, p.p_name AS right_key, " +
        "levenshtein(d.dirty_name, p.p_name) AS dist " +
        "FROM dirty d JOIN part p ON levenshtein(d.dirty_name, p.p_name) <= 1) " +
        "SELECT left_id, left_key, right_id, right_key, " +
        "CAST(dist AS BIGINT) AS dist FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY left_id ORDER BY dist, right_id) AS rn " +
        "FROM m) WHERE rn = 1"),
    "q_rag_topk" -> {
      val stubEmb = (1 to 8)
        .map(i => s"CAST(${sqlHash60("chunk", i)} AS DOUBLE) / 1152921504606846976.0")
        .mkString("[", ", ", "]")
      def dot8(a: String, b: String) =
        s"list_reduce(list_transform(range(1, 9), i -> " +
          s"$a[CAST(i AS INT)] * $b[CAST(i AS INT)]), (acc, x) -> acc + x)"
      ("WITH idx AS (SELECT doc_id, text, " +
        "unnest(generate_series(0, CAST(greatest((length(text)-1)//300, 0) AS BIGINT))) AS i " +
        "FROM documents), " +
        "ch AS (SELECT doc_id*1000 + i AS cid, " +
        "substring(text, CAST(i*300+1 AS INT), 400) AS chunk FROM idx), " +
        s"emb AS (SELECT cid, $stubEmb AS e FROM ch), " +
        "q AS (SELECT cid AS qid, e AS qe FROM emb WHERE cid % 97 = 0), " +
        "scored AS (SELECT q.qid, emb.cid, " +
        s"${dot8("q.qe", "emb.e")} / " +
        s"(sqrt(${dot8("q.qe", "q.qe")}) * sqrt(${dot8("emb.e", "emb.e")})) AS sim " +
        "FROM q, emb) " +
        "SELECT qid AS query_id, rank, cid AS vec_id, sim FROM " +
        "(SELECT qid, cid, sim, CAST(row_number() OVER " +
        "(PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rank FROM scored) " +
        "WHERE rank <= 3")
    },
    "q_knn_eval" ->
      ("WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0), " +
        "scored AS (SELECT q.qid, e.vec_id, " +
        s"${sqlDot("q.qe", "e.embedding")} / " +
        s"(sqrt(${sqlDot("q.qe", "q.qe")}) * sqrt(${sqlDot("e.embedding", "e.embedding")})) AS sim " +
        "FROM q, embeddings e), " +
        "ranked AS (SELECT qid, vec_id, row_number() OVER " +
        "(PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM scored), " +
        "nbr AS (SELECT qid, vec_id, row_number() OVER " +
        "(PARTITION BY qid ORDER BY rank) AS nrank " +
        "FROM ranked WHERE rank <= 6 AND vec_id <> qid), " +
        "votes AS (SELECT n.qid, e.label AS nbr_label, count(*) AS nv " +
        "FROM nbr n JOIN embeddings e ON n.vec_id = e.vec_id " +
        "WHERE n.nrank <= 5 GROUP BY 1, 2), " +
        "pred AS (SELECT qid, nbr_label AS pred_label FROM " +
        "(SELECT qid, nbr_label, row_number() OVER " +
        "(PARTITION BY qid ORDER BY nv DESC, nbr_label) AS r FROM votes) WHERE r = 1) " +
        "SELECT t.label AS true_label, count(*) AS n_queries, " +
        "CAST(sum(CASE WHEN p.pred_label = t.label THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_correct " +
        "FROM pred p JOIN embeddings t ON p.qid = t.vec_id GROUP BY 1"),
    "q_heavy_hitters" ->
      ("WITH t AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token " +
        "FROM documents WHERE length(trim(text)) > 0) " +
        "SELECT token, count(*) AS n FROM t GROUP BY token " +
        "HAVING count(*) > (SELECT count(*) FROM t) / 31.0"),
    "q_percent_rank" ->
      ("SELECT doc_id, source, percent_rank() OVER " +
        "(PARTITION BY source ORDER BY n_chars, doc_id) AS pr FROM documents"),
    "q_zorder" ->
      (s"WITH z AS (SELECT l_partkey % 16 AS bucket, " +
        s"(${sqlBitSpread("l_partkey", 0)} | ${sqlBitSpread("l_suppkey", 1)}) AS z " +
        "FROM lineitem) " +
        "SELECT bucket, count(*) AS n_rows, min(z) AS min_z, max(z) AS max_z, " +
        "CAST(sum(z) AS BIGINT) AS sum_z FROM z GROUP BY 1"),
    "q_hilbert" ->
      (s"WITH $sqlHilbertCtes " +
        "SELECT bucket, count(*) AS n_rows, min(d) AS min_h, " +
        "max(d) AS max_h, CAST(sum(d) AS BIGINT) AS sum_h " +
        "FROM hh16 GROUP BY 1"),
    // Lower median via the row_number spelling.
    "q_exact_median" ->
      ("WITH t AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders), " +
        "r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn, " +
        "count(*) OVER () AS n FROM t) " +
        "SELECT CAST(n AS BIGINT) AS n_rows, CAST((n + 1) // 2 AS BIGINT) AS k, " +
        "v AS median FROM r WHERE rn = (n + 1) // 2"),
    // The trained model itself, hash-checked weight by weight.
    "q_train_centroid" ->
      (s"WITH $sqlCentroidCtes SELECT bucket, c1, c0 FROM cents"),
    // Nearest-centroid decision in integers: per-doc presence sum vs the
    // squared-norm constant; (1000·n_correct) // n_docs == Spark's div.
    "q_centroid_eval" ->
      (s"WITH $sqlCentroidCtes, " +
        "cc AS (SELECT CAST(sum(c1 * c1 - c0 * c0) AS BIGINT) AS cc FROM cents), " +
        s"lh AS (SELECT p.id, CAST(sum(2 * ${QualityModel.WeightMicro} * (c.c1 - c.c0)) AS BIGINT) AS lhs " +
        "FROM pres p JOIN cents c USING (bucket) GROUP BY p.id), " +
        "pr AS (SELECT l.y, CASE WHEN coalesce(h.lhs, 0) >= (SELECT cc FROM cc) " +
        "THEN 1 ELSE 0 END AS pred FROM lab l LEFT JOIN lh h USING (id)) " +
        "SELECT count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN y = pred THEN 1 ELSE 0 END) AS BIGINT) AS n_correct, " +
        "CAST((1000 * sum(CASE WHEN y = pred THEN 1 ELSE 0 END)) // count(*) AS BIGINT) " +
        "AS acc_permille FROM pr"),
    // Jump-hash loop replayed per (doc, n) as a recursive CTE: HUGEINT
    // state for the 64-bit wraparound LCG (k*C+1 mod 2^64), one
    // correctly-rounded double division per step (both operands exactly
    // representable), floor of a positive product = Java's (long) cast.
    // Terminal rows are exactly those with j >= n.
    "q_shard_jump" ->
      ("WITH RECURSIVE ks AS (SELECT doc_id, " +
        s"${sqlHash60("CAST(doc_id AS VARCHAR)", 0)} AS k, n.n " +
        "FROM documents, (SELECT unnest([8, 9]) AS n) n), " +
        "st AS (" +
        "SELECT doc_id, n, CAST(k AS HUGEINT) AS key, " +
        "CAST(-1 AS BIGINT) AS b, CAST(0 AS BIGINT) AS j FROM ks " +
        "UNION ALL " +
        "SELECT doc_id, n, nk, nb, " +
        "CAST(floor((nb + 1) * (2147483648.0 / " +
        "CAST(nk // 8589934592 + 1 AS DOUBLE))) AS BIGINT) " +
        "FROM (SELECT doc_id, n, " +
        "(key * 2862933555777941757 + 1) % 18446744073709551616 AS nk, " +
        "j AS nb FROM st WHERE j < n)) " +
        "SELECT doc_id, " +
        "max(CASE WHEN n = 8 THEN b END) AS shard8, " +
        "max(CASE WHEN n = 9 THEN b END) AS shard9, " +
        "max(CASE WHEN n = 8 THEN b END) <> max(CASE WHEN n = 9 THEN b END) AS moved " +
        "FROM st WHERE j >= n GROUP BY doc_id"),
    // Add-one bigram LM replay: same smoothed division frozen at e12,
    // integer sums per doc (order-independent both engines).
    "q_lm_score" ->
      (s"WITH $sqlLmToksCte, $sqlLmBgCte, " +
        "cxy AS (SELECT bigram, count(*) AS c_xy FROM bgl GROUP BY 1), " +
        "cx AS (SELECT ctx, count(*) AS c_x FROM bgl GROUP BY 1), " +
        "vv AS (SELECT count(DISTINCT tok) AS v FROM " +
        "(SELECT unnest(t) AS tok FROM toksl)), " +
        s"p AS (SELECT s.doc_id, ${sqlLmP("c.c_xy", "x.c_x", "vv.v")} AS p_e12 " +
        "FROM bgl s LEFT JOIN cxy c ON s.bigram = c.bigram " +
        "LEFT JOIN cx x ON s.ctx = x.ctx CROSS JOIN vv WHERE vv.v > 0) " +
        "SELECT doc_id, count(*) AS n_bigrams, " +
        "CAST(sum(p_e12) AS BIGINT) AS sum_p_e12, " +
        "CAST(sum(p_e12) // count(*) AS BIGINT) AS avg_p_e12 " +
        "FROM p GROUP BY doc_id"),
    // Two models (lang = 'en' in-domain vs rest), both scoring EVERY doc;
    // vocab/counts restricted per model, scores joined per doc.
    "q_lm_contrast" ->
      (s"WITH $sqlLmToksCte, $sqlLmBgCte, " +
        sqlLmModelCtes("i", "lang = 'en'") + ", " +
        sqlLmModelCtes("o", "NOT (lang = 'en')") + " " +
        "SELECT si.doc_id, si.n_bigrams, si.avg_e12 AS avg_in_e12, " +
        "so.avg_e12 AS avg_out_e12, si.avg_e12 - so.avg_e12 AS delta_e12 " +
        "FROM si JOIN so ON si.doc_id = so.doc_id"),
    // BM25 with rational idf and exactly-representable k1 = 1.25,
    // b = 0.75 — identical expression tree, per-term e12 fixed point.
    "q_bm25" ->
      (s"WITH $sqlLmToksCte, " +
        "dll AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toksl " +
        "WHERE len(t) > 0), " +
        "st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dll), " +
        "tfq AS (SELECT doc_id, term, count(*) AS tf FROM " +
        "(SELECT doc_id, unnest(t) AS term FROM toksl) " +
        "WHERE term IN ('spark', 'vector', 'dup') GROUP BY 1, 2), " +
        "dfq AS (SELECT term, count(*) AS dfreq FROM tfq GROUP BY 1), " +
        "sc AS (SELECT tfq.doc_id, dll.dl, " +
        "CAST(round(1000000000000.0 * (" +
        "((CAST(st.n_docs - dfq.dfreq AS DOUBLE) + 0.5) / (CAST(dfq.dfreq AS DOUBLE) + 0.5)) * " +
        "((CAST(tfq.tf AS DOUBLE) * 2.25) / (CAST(tfq.tf AS DOUBLE) + 1.25 * " +
        "(0.25 + 0.75 * (CAST(dll.dl AS DOUBLE) / " +
        "(CAST(st.sum_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))))))) AS BIGINT) AS s_e12 " +
        "FROM tfq JOIN dfq ON tfq.term = dfq.term " +
        "JOIN dll ON tfq.doc_id = dll.doc_id CROSS JOIN st) " +
        "SELECT doc_id, max(dl) AS dl, count(*) AS n_terms, " +
        "CAST(sum(s_e12) AS BIGINT) AS score_e12 FROM sc GROUP BY doc_id " +
        "ORDER BY score_e12 DESC, doc_id LIMIT 10"),
    // CDC replay: positioned tokens -> boundary flags -> running chunk
    // ids -> ordered chunk rebuild + md5.
    "q_cdc_chunks" ->
      (s"WITH $sqlToksCte, $sqlCdcChunkCtes " +
        "SELECT doc_id, chunk_idx, n_tokens, chunk_hash FROM ch"),
    "q_cdc_dedup" ->
      (s"WITH $sqlToksCte, $sqlCdcChunkCtes " +
        "SELECT chunk_hash, max(n_tokens) AS n_tokens, " +
        "count(*) AS n_copies, count(DISTINCT doc_id) AS n_docs, " +
        "CAST((count(*) - 1) * max(n_tokens) AS BIGINT) AS dup_tokens, " +
        "count(*) > 1 AS is_dup FROM ch GROUP BY 1"),
    // IVFPQ replay against the frozen centroid + codebook literals:
    // coarse-cell argmax, residual per-(vector, subspace) argmin,
    // pivoted to (cell, code columns).
    "q_pq_encode" ->
      (s"WITH $sqlCentsCte, $sqlPqCbCte, $sqlPqAsnCte " +
        "SELECT vec_id, CAST(max(cell) AS BIGINT) AS cell, " +
        (0 until PqFixture.model.m).map(j =>
          s"CAST(max(CASE WHEN j = $j THEN cid END) AS BIGINT) AS c$j")
          .mkString(", ") +
        " FROM asnp GROUP BY vec_id"),
    // IVFPQ ADC: per-(query, cell) residual LUT at e12, integer sums
    // over the per-subspace code lookups joined on (cell, subspace,
    // code), (distance ASC, vec_id) top-5.
    "q_pq_search" ->
      (s"WITH $sqlCentsCte, $sqlPqCbCte, $sqlPqAsnCte, ${sqlPqLutCtes(None)} " +
        "SELECT query_id, rank, vec_id, ad2_e12 FROM " +
        "(SELECT query_id, vec_id, CAST(ad2 AS BIGINT) AS ad2_e12, " +
        "CAST(row_number() OVER (PARTITION BY query_id " +
        "ORDER BY ad2 ASC, vec_id) AS BIGINT) AS rank FROM sc) " +
        "WHERE rank <= 5"),
    // The standing-index serve is result-identical by construction (the
    // persisted codes ARE pqCodesLong's output) — oracle IDENTICAL to
    // q_pq_search's.
    "q_pq_search_indexed" ->
      (s"WITH $sqlCentsCte, $sqlPqCbCte, $sqlPqAsnCte, ${sqlPqLutCtes(None)} " +
        "SELECT query_id, rank, vec_id, ad2_e12 FROM " +
        "(SELECT query_id, vec_id, CAST(ad2 AS BIGINT) AS ad2_e12, " +
        "CAST(row_number() OVER (PARTITION BY query_id " +
        "ORDER BY ad2 ASC, vec_id) AS BIGINT) AS rank FROM sc) " +
        "WHERE rank <= 5"),
    // write(7/8) + append(1/8) reconstructs the monolithic code table
    // row-for-row (per-vector rows, same frozen codebooks), so the
    // fused form's oracle is exact.
    "q_pq_search_appended" ->
      (s"WITH $sqlCentsCte, $sqlPqCbCte, $sqlPqAsnCte, ${sqlPqLutCtes(None)} " +
        "SELECT query_id, rank, vec_id, ad2_e12 FROM " +
        "(SELECT query_id, vec_id, CAST(ad2 AS BIGINT) AS ad2_e12, " +
        "CAST(row_number() OVER (PARTITION BY query_id " +
        "ORDER BY ad2 ASC, vec_id) AS BIGINT) AS rank FROM sc) " +
        "WHERE rank <= 5"),
    // IVFPQ ADC with the PRODUCTION probe bound: each query builds LUTs
    // only for its nProbe=4 best coarse cells (q_ann_ivf's probe
    // ranking), so unprobed cells' vectors never enter the distance sum
    // — the sublinear serving form next to q_pq_search's exhaustive
    // scan.
    "q_pq_probe" ->
      (s"WITH $sqlCentsCte, $sqlPqCbCte, $sqlPqAsnCte, ${sqlPqLutCtes(Some(8))} " +
        "SELECT query_id, rank, vec_id, ad2_e12 FROM " +
        "(SELECT query_id, vec_id, CAST(ad2 AS BIGINT) AS ad2_e12, " +
        "CAST(row_number() OVER (PARTITION BY query_id " +
        "ORDER BY ad2 ASC, vec_id) AS BIGINT) AS rank FROM sc) " +
        "WHERE rank <= 5"),
    // Cell-partitioned code layout, probe-bounded serve: the static
    // partition filter changes WHICH FILES are read, never which rows
    // survive the ADC join — so the closure is q_pq_probe's own.
    "q_pq_probe_pruned" ->
      (s"WITH $sqlCentsCte, $sqlPqCbCte, $sqlPqAsnCte, ${sqlPqLutCtes(Some(8))} " +
        "SELECT query_id, rank, vec_id, ad2_e12 FROM " +
        "(SELECT query_id, vec_id, CAST(ad2 AS BIGINT) AS ad2_e12, " +
        "CAST(row_number() OVER (PARTITION BY query_id " +
        "ORDER BY ad2 ASC, vec_id) AS BIGINT) AS rank FROM sc) " +
        "WHERE rank <= 5"),
    // Cell-tier lifecycle (publish → append → compact → probed serve):
    // the append reconstructs the monolithic code table row-for-row and
    // the compaction rewrites files without touching rows, so the
    // closure is q_pq_probe's own — equality proves the whole verb
    // chain is serve-invisible.
    "q_pq_cell_day2" ->
      (s"WITH $sqlCentsCte, $sqlPqCbCte, $sqlPqAsnCte, ${sqlPqLutCtes(Some(8))} " +
        "SELECT query_id, rank, vec_id, ad2_e12 FROM " +
        "(SELECT query_id, vec_id, CAST(ad2 AS BIGINT) AS ad2_e12, " +
        "CAST(row_number() OVER (PARTITION BY query_id " +
        "ORDER BY ad2 ASC, vec_id) AS BIGINT) AS rank FROM sc) " +
        "WHERE rank <= 5"),
    // pqSearchAuto with the exhaustive bound forced under the fixture
    // corpus: the dispatch must land on the indexed nProbe=8 point, so
    // the closure is q_pq_probe's own — equality proves the auto chose
    // (and correctly served) the probed branch.
    "q_pq_search_auto" ->
      (s"WITH $sqlCentsCte, $sqlPqCbCte, $sqlPqAsnCte, ${sqlPqLutCtes(Some(8))} " +
        "SELECT query_id, rank, vec_id, ad2_e12 FROM " +
        "(SELECT query_id, vec_id, CAST(ad2 AS BIGINT) AS ad2_e12, " +
        "CAST(row_number() OVER (PARTITION BY query_id " +
        "ORDER BY ad2 ASC, vec_id) AS BIGINT) AS rank FROM sc) " +
        "WHERE rank <= 5"),
    // Batch BM25: same scorer as q_bm25, query terms from a VALUES
    // table, per-query window top-5.
    "q_bm25_batch" ->
      (s"WITH $sqlLmToksCte, " +
        "qt AS (SELECT DISTINCT query_id, unnest(string_split_regex(trim(lower(qtext)), '\\s+')) AS term " +
        "FROM (VALUES (1, 'spark vector dup'), (2, 'merge order hash')) q(query_id, qtext)), " +
        "dll AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toksl " +
        "WHERE len(t) > 0), " +
        "st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dll), " +
        "tfq AS (SELECT doc_id, term, count(*) AS tf FROM " +
        "(SELECT doc_id, unnest(t) AS term FROM toksl) " +
        "WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2), " +
        "dfq AS (SELECT term, count(*) AS dfreq FROM tfq GROUP BY 1), " +
        "sc AS (SELECT qt.query_id, tfq.doc_id, dll.dl, " +
        "CAST(round(1000000000000.0 * (" +
        "((CAST(st.n_docs - dfq.dfreq AS DOUBLE) + 0.5) / (CAST(dfq.dfreq AS DOUBLE) + 0.5)) * " +
        "((CAST(tfq.tf AS DOUBLE) * 2.25) / (CAST(tfq.tf AS DOUBLE) + 1.25 * " +
        "(0.25 + 0.75 * (CAST(dll.dl AS DOUBLE) / " +
        "(CAST(st.sum_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))))))) AS BIGINT) AS s_e12 " +
        "FROM tfq JOIN dfq ON tfq.term = dfq.term " +
        "JOIN dll ON tfq.doc_id = dll.doc_id " +
        "JOIN qt ON qt.term = tfq.term CROSS JOIN st), " +
        "ag AS (SELECT query_id, doc_id, max(dl) AS dl, count(*) AS n_terms, " +
        "CAST(sum(s_e12) AS BIGINT) AS score_e12 FROM sc GROUP BY 1, 2) " +
        "SELECT CAST(query_id AS BIGINT) AS query_id, rank, doc_id, dl, n_terms, score_e12 FROM " +
        "(SELECT query_id, doc_id, dl, n_terms, score_e12, " +
        "CAST(row_number() OVER (PARTITION BY query_id " +
        "ORDER BY score_e12 DESC, doc_id) AS BIGINT) AS rank FROM ag) " +
        "WHERE rank <= 5"),
    // Hard negatives: stacked-bucket candidates for the query sample,
    // exact cosine, [0.05, 0.3) band, (sim DESC, vec_id) top-5.
    "q_hard_negatives" ->
      ("WITH tb AS (" +
        (0 until 3).map(t =>
          s"SELECT vec_id, $t AS tbl, ${sqlBucketFor("embedding", t)} AS bucket FROM embeddings")
          .mkString(" UNION ALL ") + "), " +
        "cand AS (SELECT DISTINCT q.vec_id AS query_id, b.vec_id AS vec_id " +
        "FROM tb q JOIN tb b ON q.tbl = b.tbl AND q.bucket = b.bucket " +
        "AND q.vec_id <> b.vec_id WHERE q.vec_id % 50 = 0), " +
        "f AS (SELECT * FROM (SELECT c.query_id, c.vec_id, " +
        s"${sqlDot("eq.embedding", "eb.embedding")} / " +
        s"(sqrt(${sqlDot("eq.embedding", "eq.embedding")}) * " +
        s"sqrt(${sqlDot("eb.embedding", "eb.embedding")})) AS sim " +
        "FROM cand c JOIN embeddings eq ON eq.vec_id = c.query_id " +
        "JOIN embeddings eb ON eb.vec_id = c.vec_id) " +
        "WHERE sim >= 0.05 AND sim < 0.3) " +
        "SELECT query_id, rank, vec_id, sim FROM " +
        "(SELECT query_id, vec_id, sim, CAST(row_number() OVER " +
        "(PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rank " +
        "FROM f) WHERE rank <= 5"),
    // IVFPQ recall audit: exact L2 top-5 (query-bounded scan)
    // left-joined with the residual-ADC top-5, reduced to one counts
    // row.
    "q_pq_recall" ->
      (s"WITH $sqlCentsCte, $sqlPqCbCte, $sqlPqAsnCte, ${sqlPqLutCtes(None)}, " +
        "ap AS (SELECT query_id, vec_id FROM " +
        "(SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY ad2 ASC, vec_id) AS rn FROM sc) WHERE rn <= 5), " +
        "ex AS (SELECT query_id, vec_id FROM " +
        "(SELECT q.vec_id AS query_id, c.vec_id, row_number() OVER " +
        s"(PARTITION BY q.vec_id ORDER BY ${sqlL2("q.embedding", "c.embedding")} ASC, " +
        "c.vec_id) AS rn FROM embeddings q, embeddings c " +
        "WHERE q.vec_id % 50 = 0) WHERE rn <= 5) " +
        "SELECT count(*) AS n_true, " +
        "CAST(coalesce(sum(hit), 0) AS BIGINT) AS n_caught, " +
        "CASE WHEN count(*) > 0 THEN CAST(coalesce(sum(hit), 0) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE) END AS recall FROM " +
        "(SELECT e.query_id, e.vec_id, CASE WHEN a.vec_id IS NOT NULL THEN 1 END AS hit " +
        "FROM ex e LEFT JOIN ap a ON a.query_id = e.query_id AND a.vec_id = e.vec_id)"),
    // BPE replay: 6 unrolled merge rounds over the distinct-word table,
    // positional left-to-right merge semantics (see sqlBpeCtes).
    "q_bpe_train" ->
      (s"WITH $sqlLmToksCte, ${sqlBpeCtes(6)} ${sqlBpeMergeSelect(6)}"),
    "q_bpe_encode" ->
      (s"WITH $sqlLmToksCte, ${sqlBpeCtes(6)}, " +
        "occ AS (SELECT doc_id, unnest(t) AS word FROM toksl) " +
        "SELECT occ.doc_id, count(*) AS n_words, " +
        "CAST(sum(len(w6.s)) AS BIGINT) AS n_subwords " +
        "FROM occ JOIN w6 ON occ.word = w6.word GROUP BY 1"),
    // SNM replay: row_number over the total (key, id) order, pairs within
    // 10 positions, banded levenshtein verify.
    "q_link_snm" ->
      ("WITH base AS (SELECT c_custkey AS id, c_name AS key FROM customer " +
        "WHERE c_name IS NOT NULL), " +
        "p AS (SELECT id, key, row_number() OVER (ORDER BY key, id) AS pos " +
        "FROM base) " +
        "SELECT a.id AS id_a, a.key AS key_a, b.id AS id_b, b.key AS key_b, " +
        "CAST(levenshtein(a.key, b.key) AS BIGINT) AS dist, " +
        "b.pos - a.pos AS gap " +
        "FROM p a JOIN p b ON b.pos > a.pos AND b.pos <= a.pos + 10 " +
        "WHERE levenshtein(a.key, b.key) <= 2"),
    // SNM recall replay: naive lev truth left-joined with the
    // normalized window pairs, one counts row.
    "q_link_snm_recall" ->
      ("WITH base AS (SELECT c_custkey AS id, c_name AS key FROM customer " +
        "WHERE c_custkey % 3 = 0 AND c_name IS NOT NULL), " +
        "p AS (SELECT id, key, row_number() OVER (ORDER BY key, id) AS pos " +
        "FROM base), " +
        "snm AS (SELECT DISTINCT least(a.id, b.id) AS id_a, " +
        "greatest(a.id, b.id) AS id_b " +
        "FROM p a JOIN p b ON b.pos > a.pos AND b.pos <= a.pos + 10 " +
        "WHERE levenshtein(a.key, b.key) <= 2), " +
        "truth AS (SELECT a.id AS id_a, b.id AS id_b FROM base a JOIN base b " +
        "ON a.id < b.id AND levenshtein(a.key, b.key) <= 2) " +
        "SELECT count(*) AS n_true, " +
        "CAST(coalesce(sum(hit), 0) AS BIGINT) AS n_caught, " +
        "CASE WHEN count(*) > 0 THEN CAST(coalesce(sum(hit), 0) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE) END AS recall FROM " +
        "(SELECT t.id_a, t.id_b, CASE WHEN s.id_a IS NOT NULL THEN 1 END AS hit " +
        "FROM truth t LEFT JOIN snm s ON s.id_a = t.id_a AND s.id_b = t.id_b)"),
    // Multi-pass SNM replay: one sorted-window pass per key expression
    // (forward / reversed / sorted-chars), normalized pair sets, the
    // union row, all left-joined against the exact lev truth.
    "q_link_snm_multi_recall" -> sqlSnmMultiRecallOracle,
    "q_link_snm_tc_recall" -> sqlSnmTcRecallOracle,
    // DSIR replay: hashed-bigram buckets, add-one smoothed target/raw
    // ratio at e6, exact integer sums per doc.
    "q_dsir_weights" ->
      (s"WITH $sqlLmToksCte, $sqlLmBgCte, " +
        s"fr AS (SELECT doc_id, ${sqlHash60("bigram", 0)} % 256 AS bucket FROM bgl), " +
        s"ft AS (SELECT doc_id, ${sqlHash60("bigram", 0)} % 256 AS bucket FROM bgl " +
        "WHERE lang = 'en'), " +
        "tc AS (SELECT bucket, count(*) AS t_b FROM ft GROUP BY 1), " +
        "rc AS (SELECT bucket, count(*) AS r_b FROM fr GROUP BY 1), " +
        "tots AS (SELECT (SELECT count(*) FROM ft) AS t_tot, " +
        "(SELECT count(*) FROM fr) AS r_tot), " +
        "sc AS (SELECT fr.doc_id, CAST(round(1000000.0 * (" +
        "(CAST(coalesce(tc.t_b, 0) + 1 AS DOUBLE) / CAST(t_tot + 256 AS DOUBLE)) / " +
        "(CAST(rc.r_b + 1 AS DOUBLE) / CAST(r_tot + 256 AS DOUBLE)))) AS BIGINT) AS r_e6 " +
        "FROM fr LEFT JOIN tc ON fr.bucket = tc.bucket " +
        "JOIN rc ON fr.bucket = rc.bucket CROSS JOIN tots WHERE t_tot > 0) " +
        "SELECT doc_id, count(*) AS n_feats, CAST(sum(r_e6) AS BIGINT) AS sum_r_e6, " +
        "CAST(sum(r_e6) // count(*) AS BIGINT) AS avg_r_e6 FROM sc GROUP BY 1"),
  )

  /** Incremental exact-dedup recompute oracle (shared by the direct and
    * bucketed-index forms): batch (src0) fingerprints anti-joined
    * against the standing corpus's, recomputed from the documents table.
    */
  private lazy val sqlDedupIncrementalOracle: String =
    "WITH fps AS (SELECT doc_id, source, " +
      "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp FROM documents) " +
      "SELECT doc_id, fp FROM fps n WHERE n.source = 'src0' " +
      "AND NOT EXISTS (SELECT 1 FROM fps c WHERE c.source <> 'src0' AND c.fp = n.fp)"

  /** Incremental near-dedup recompute oracle (shared by the parquet and
    * bucketed index forms): batch (src0) x standing-corpus LSH band
    * candidates + exact Jaccard verify, all recomputed from the
    * documents table.
    */
  private lazy val sqlNearDedupIncrementalOracle: String =
    s"WITH $sqlToksCte, $sqlShCte, $sqlCountsCte, $sqlAbCte, " +
      s"sig AS (SELECT doc_id AS id, $sqlSigSelect FROM ab GROUP BY doc_id), " +
      "cands AS (SELECT DISTINCT a.id AS batch_id, b.id AS corpus_id " +
      "FROM (SELECT s.* FROM sig s JOIN documents d ON d.doc_id = s.id " +
      "WHERE d.source = 'src0') a " +
      "JOIN (SELECT s.* FROM sig s JOIN documents d ON d.doc_id = s.id " +
      s"WHERE d.source <> 'src0') b ON ($sqlBandCond)), " +
      "interx AS (SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id, " +
      "count(*) AS n_common FROM sh a " +
      "JOIN documents da ON da.doc_id = a.doc_id AND da.source = 'src0' " +
      "JOIN sh b ON a.s = b.s " +
      "JOIN documents db ON db.doc_id = b.doc_id AND db.source <> 'src0' " +
      "GROUP BY 1, 2) " +
      "SELECT c.batch_id, c.corpus_id, i.n_common, " +
      "CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) AS jacc " +
      "FROM cands c JOIN interx i ON i.batch_id = c.batch_id " +
      "AND i.corpus_id = c.corpus_id " +
      "JOIN counts ca ON ca.doc_id = c.batch_id " +
      "JOIN counts cb ON cb.doc_id = c.corpus_id " +
      "WHERE CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) >= 0.5"

  /** Multi-pass SNM recall oracle (mirrors
    * Linker.sortedNeighborhoodMultiRecall on the q_link_snm_recall
    * fixture): per pass, a row_number sort on the pass's key expression,
    * the w=10 successor window, banded-lev<=2 verify on the REAL name,
    * least/greatest pair normalization; the union row is the SQL UNION
    * of the three pass pair sets; every labeled truth pair left-joins
    * the caught set. The sorted-chars signature is
    * array_to_string(list_sort(string_split(key, '')), '') — verified
    * char-for-char against Spark's concat_ws(sort_array(split)) on the
    * ASCII fixture names.
    */
  private lazy val sqlSnmMultiRecallOracle: String = {
    val passes = Seq(
      "forward" -> "key",
      "reversed" -> "reverse(key)",
      "sorted_chars" -> "array_to_string(list_sort(string_split(key, '')), '')")
    val passCtes = passes.map { case (nm, ex) =>
      s"p_$nm AS (SELECT id, key, row_number() OVER (ORDER BY $ex, id) AS pos " +
        "FROM base), " +
        s"c_$nm AS (SELECT DISTINCT least(a.id, b.id) AS id_a, " +
        "greatest(a.id, b.id) AS id_b " +
        s"FROM p_$nm a JOIN p_$nm b ON b.pos > a.pos AND b.pos <= a.pos + 10 " +
        "WHERE levenshtein(a.key, b.key) <= 2)"
    }.mkString(", ")
    val caughtUnion = passes.map { case (nm, _) =>
      s"SELECT id_a, id_b, '$nm' AS pass FROM c_$nm"
    }.mkString(" UNION ALL ") +
      " UNION ALL SELECT id_a, id_b, 'union' AS pass FROM (" +
      passes.map { case (nm, _) => s"SELECT id_a, id_b FROM c_$nm" }
        .mkString(" UNION ") + ")"
    val labels = (passes.map(_._1) :+ "union")
      .map(n => s"'$n'").mkString(", ")
    "WITH base AS (SELECT c_custkey AS id, c_name AS key FROM customer " +
      "WHERE c_custkey % 3 = 0 AND c_name IS NOT NULL), " +
      s"$passCtes, " +
      s"caught AS ($caughtUnion), " +
      "truth AS (SELECT a.id AS id_a, b.id AS id_b FROM base a JOIN base b " +
      "ON a.id < b.id AND levenshtein(a.key, b.key) <= 2), " +
      s"lab AS (SELECT unnest([$labels]) AS pass) " +
      "SELECT pass, count(*) AS n_true, " +
      "CAST(coalesce(sum(hit), 0) AS BIGINT) AS n_caught, " +
      "CASE WHEN count(*) > 0 THEN CAST(coalesce(sum(hit), 0) AS DOUBLE) / " +
      "CAST(count(*) AS DOUBLE) END AS recall FROM " +
      "(SELECT t.id_a, t.id_b, t.pass, " +
      "CASE WHEN c.id_a IS NOT NULL THEN 1 END AS hit " +
      "FROM (SELECT tr.id_a, tr.id_b, l.pass FROM truth tr, lab l) t " +
      "LEFT JOIN caught c ON c.id_a = t.id_a AND c.id_b = t.id_b " +
      "AND c.pass = t.pass) GROUP BY pass"
  }

  /** SNM transitive-closure audit oracle (mirrors
    * Linker.sortedNeighborhoodTcRecall on the q_link_snm_recall fixture):
    * the three pass CTEs of [[sqlSnmMultiRecallOracle]], their UNION as
    * the pair set, then components via a recursive reachability CTE over
    * the undirected union edges (component label = least reachable id —
    * the same min-id labeling ConnectedComponents.run converges to, so
    * the in-component pair sets agree regardless of label choice). The
    * expensive members (union, truth, comp) are AS MATERIALIZED — DuckDB
    * default-inlines every CTE reference, and truth alone is n²/2
    * levenshtein calls referenced once per audit variant.
    */
  private lazy val sqlSnmTcRecallOracle: String = {
    val passes = Seq(
      "forward" -> "key",
      "reversed" -> "reverse(key)",
      "sorted_chars" -> "array_to_string(list_sort(string_split(key, '')), '')")
    // The pass CTEs MUST be AS MATERIALIZED: default-inlined into the
    // UNION's branches, DuckDB 1.0.0 returns the union with duplicate
    // rows surviving (measured 10250 instead of the inclusion-exclusion-
    // correct 9081 on the sf0.01 fixture) — same CTE-inlining hazard as
    // the q_bpe_train oracle.
    val passCtes = passes.map { case (nm, ex) =>
      s"p_$nm AS MATERIALIZED (SELECT id, key, " +
        s"row_number() OVER (ORDER BY $ex, id) AS pos FROM base), " +
        s"c_$nm AS MATERIALIZED (SELECT DISTINCT least(a.id, b.id) AS id_a, " +
        "greatest(a.id, b.id) AS id_b " +
        s"FROM p_$nm a JOIN p_$nm b ON b.pos > a.pos AND b.pos <= a.pos + 10 " +
        "WHERE levenshtein(a.key, b.key) <= 2)"
    }.mkString(", ")
    // DISTINCT-over-UNION-ALL, never bare UNION: inside a WITH RECURSIVE
    // list DuckDB 1.0.0 leaves duplicate rows in a non-recursive member's
    // UNION (u read 10250 rows / 9081 distinct), so spell the dedup out.
    val unionSql = "SELECT DISTINCT id_a, id_b FROM (" + passes.map {
      case (nm, _) => s"SELECT id_a, id_b FROM c_$nm"
    }.mkString(" UNION ALL ") + ")"
    "WITH RECURSIVE base AS (SELECT c_custkey AS id, c_name AS key " +
      "FROM customer WHERE c_custkey % 3 = 0 AND c_name IS NOT NULL), " +
      s"$passCtes, " +
      s"u AS MATERIALIZED ($unionSql), " +
      "truth AS MATERIALIZED (SELECT a.id AS id_a, b.id AS id_b " +
      "FROM base a JOIN base b " +
      "ON a.id < b.id AND levenshtein(a.key, b.key) <= 2), " +
      "e2 AS MATERIALIZED (SELECT DISTINCT src, dst FROM " +
      "(SELECT id_a AS src, id_b AS dst FROM u " +
      "UNION ALL SELECT id_b, id_a FROM u)), " +
      "reach(src, dst) AS (SELECT src, dst FROM e2 " +
      "UNION SELECT r.src, e.dst FROM reach r JOIN e2 e ON e.src = r.dst " +
      "WHERE e.dst <> r.src), " +
      "comp AS MATERIALIZED (SELECT src AS id, least(src, min(dst)) AS comp " +
      "FROM reach GROUP BY src), " +
      "tc AS MATERIALIZED (SELECT a.id AS id_a, b.id AS id_b " +
      "FROM comp a JOIN comp b ON a.comp = b.comp AND a.id < b.id) " +
      "SELECT variant, n_true, n_pairs, n_caught, " +
      "CASE WHEN n_true > 0 THEN CAST(n_caught AS DOUBLE) / " +
      "CAST(n_true AS DOUBLE) END AS recall, " +
      "CASE WHEN n_pairs > 0 THEN CAST(n_caught AS DOUBLE) / " +
      "CAST(n_pairs AS DOUBLE) END AS precision FROM (" +
      "SELECT 'union' AS variant, " +
      "(SELECT count(*) FROM truth) AS n_true, " +
      "(SELECT count(*) FROM u) AS n_pairs, " +
      "(SELECT count(*) FROM truth t JOIN u c ON c.id_a = t.id_a " +
      "AND c.id_b = t.id_b) AS n_caught " +
      "UNION ALL SELECT 'tc', (SELECT count(*) FROM truth), " +
      "(SELECT count(*) FROM tc), " +
      "(SELECT count(*) FROM truth t JOIN tc c ON c.id_a = t.id_a " +
      "AND c.id_b = t.id_b))"
  }

  /** Nearest-centroid training CTEs (mirrors QualityModel.trainCentroid
    * over documents with label "mentions 'customer'"): distinct presence
    * postings, per-bucket class sums, fixed-point centroids — yields
    * `cents(bucket, c1, c0)` over all TrainBuckets buckets, plus
    * `pres(id, bucket)` and `lab(id, y)` for the eval tail. All-integer
    * (// on nonnegative operands == Spark's div).
    */
  private def sqlCentroidCtes: String = {
    val nb = QualityModel.TrainBuckets
    val m = QualityModel.WeightMicro
    "t AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token " +
      "FROM documents WHERE length(trim(text)) > 0), " +
      s"pres AS (SELECT DISTINCT doc_id AS id, ${sqlHash60("token", 0)} % $nb AS bucket FROM t), " +
      "lab AS (SELECT doc_id AS id, CASE WHEN list_contains(" +
      "string_split_regex(trim(lower(text)), '\\s+'), 'customer') " +
      "THEN 1 ELSE 0 END AS y FROM documents), " +
      "ns AS (SELECT CAST(sum(y) AS BIGINT) AS n1, " +
      "CAST(count(*) - sum(y) AS BIGINT) AS n0 FROM lab), " +
      "sums AS (SELECT bucket, CAST(sum(y) AS BIGINT) AS s1, " +
      "CAST(sum(1 - y) AS BIGINT) AS s0 " +
      "FROM pres JOIN lab USING (id) GROUP BY bucket), " +
      s"cents AS (SELECT r.i AS bucket, " +
      s"CAST((coalesce(s.s1, 0) * $m) // ns.n1 AS BIGINT) AS c1, " +
      s"CAST((coalesce(s.s0, 0) * $m) // ns.n0 AS BIGINT) AS c0 " +
      s"FROM range(0, $nb) r(i) LEFT JOIN sums s ON s.bucket = r.i, ns)"
  }

  /** Morton spread of the low 32 bits of a BIGINT column into even
    * (shift=0) or odd (shift=1) bit positions, as plain SQL bit
    * arithmetic — mirrors [[graft.functions.ZOrder]] bit-for-bit. Bits
    * whose target position would exceed 63 can only be set by inputs
    * >= 2^32, which the Spark side masks off; the mirror skips them (a
    * `1 << 63` would overflow DuckDB's signed BIGINT check).
    */
  /** Hilbert xy2d replay (mirrors functions.HilbertOrder): 16 unrolled
    * quadrant levels over per-row (x, y, d) state — level i uses
    * s = 2^(16-i), adds s²·xor(3·rx, ry), and rotates/reflects the frame
    * exactly as the codegen loop does.
    */
  private lazy val sqlHilbertCtes: String = {
    val init = "hh0 AS (SELECT l_partkey % 16 AS bucket, " +
      "l_partkey & 65535 AS x, l_suppkey & 65535 AS y, " +
      "CAST(0 AS BIGINT) AS d FROM lineitem)"
    val stages = (1 to 16).map { i =>
      val s = 1L << (16 - i)
      s"hh$i AS (SELECT bucket, " +
        s"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - y ELSE y END) ELSE x END AS x, " +
        s"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - x ELSE x END) ELSE y END AS y, " +
        s"d + ${s * s} * xor(3 * rx, ry) AS d " +
        s"FROM (SELECT bucket, x, y, d, " +
        s"CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx, " +
        s"CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry FROM hh${i - 1}))"
    }
    (init +: stages).mkString(", ")
  }

  private def sqlBitSpread(colName: String, shift: Int): String =
    (0 until 32).filter(i => 2 * i + shift <= 62)
      .map(i => s"(((($colName >> $i) & 1)) << ${2 * i + shift})")
      .mkString("(", " | ", ")")

  /** Full per-doc text-stats SQL (mirrors TextOps.stats); shared by
    * q_text_stats and the q_top_quality top-k. MUST be lazy: it
    * interpolates vals declared further down the object body, which are
    * still null during eager init (caught by check_oracle as a
    * `null AS n_tokens` oracle).
    */
  /** Quality formula over (n_tokens, n_chars, n_punct, n_stop_en) —
    * mirrors TextOps.qualityScore; shared by q_text_stats and q_data_card.
    */
  private val sqlQualityExpr: String =
    "round((CASE WHEN n_tokens >= 10 AND n_tokens <= 5000 THEN 1.0 ELSE 0.5 END) * 0.4 " +
      " + (1.0 - (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END)) * 0.3 " +
      " + least((CASE WHEN n_tokens > 0 THEN CAST(n_stop_en AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) * 5.0, 1.0) * 0.3, 6)"

  /** Per-doc stopword-hit scores for the four stopword languages plus
    * their max — the shared inner table of every lang-pred oracle
    * (mirrors TextOps.languageScores). One source: q_text_lang,
    * q_curation_pipeline and q_curation_funnel all interpolate this, so
    * a change to the scoring can't drift the oracles apart.
    */
  private lazy val sqlLangScores: String =
    "SELECT doc_id, s_de, s_en, s_es, s_fr, " +
      "greatest(s_de, s_en, s_es, s_fr) AS m FROM (SELECT doc_id, " +
      s"${sqlStopHits(TextOps.stopwords("de"))} AS s_de, " +
      s"${sqlStopHits(TextOps.stopwords("en"))} AS s_en, " +
      s"${sqlStopHits(TextOps.stopwords("es"))} AS s_es, " +
      s"${sqlStopHits(TextOps.stopwords("fr"))} AS s_fr " +
      "FROM documents)"

  /** Alphabetical-first argmax tie-break (mirrors languageScores' fold). */
  private lazy val sqlLangPredCase: String =
    "CASE WHEN s_de = m AND m > 0 THEN 'de' WHEN s_en = m AND m > 0 THEN 'en' " +
      "WHEN s_es = m AND m > 0 THEN 'es' WHEN s_fr = m AND m > 0 THEN 'fr' " +
      "ELSE 'xx' END AS lang_pred"

  /** `lang(doc_id, lang_pred)` CTE over the documents table. */
  private lazy val sqlLangCte: String =
    s"lang AS (SELECT doc_id, $sqlLangPredCase FROM ($sqlLangScores))"

  /** `fps(doc_id, fp)` CTE: the content fingerprint (mirrors
    * TextOps.fingerprint — md5 over whitespace-normalized lowercase).
    */
  private lazy val sqlFpsCte: String =
    "fps AS (SELECT doc_id, " +
      "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp " +
      "FROM documents)"

  private lazy val sqlTextStats: String =
    s"SELECT doc_id, n_tokens, n_chars, n_subwords_est, n_punct, n_stop_en, " +
      s"$sqlQualityExpr AS quality " +
      "FROM (SELECT doc_id, " +
      s"$sqlTokenCount AS n_tokens, " +
      "length(text) AS n_chars, " +
      "CAST(ceil(length(regexp_replace(text, '\\s+', '', 'g')) / 4.0) AS BIGINT) AS n_subwords_est, " +
      "length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct, " +
      s"${sqlStopHits(TextOps.stopwords("en"))} AS n_stop_en " +
      "FROM documents)"

  /** Sequential-fold double dot product (mirrors Ann.dot: left fold in
    * element order; 0.0 + x1 is bit-exact x1, so list_reduce's first-element
    * seeding matches Spark's zero-seeded aggregate).
    */
  private def sqlDot(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, ${Ann.Dim + 1}), i -> " +
      s"$a[CAST(i AS INT)]::DOUBLE * $b[CAST(i AS INT)]::DOUBLE), (acc, x) -> acc + x)"

  /** One-row recall audit over (query_id, vec_id) sets — the shape every
    * quantized tier's recall row shares (round-16 review: it was
    * copy-pasted per tier; any fix to the formulation now lands once).
    */
  private def recallRow(exact: DataFrame, approx: DataFrame): DataFrame = {
    val caught = exact.join(approx, Seq("query_id", "vec_id"), "left_semi")
    exact.agg(count(lit(1)).as("n_true")).crossJoin(
        caught.agg(count(lit(1)).as("n_caught")))
      .select(col("n_true"), col("n_caught"),
        (col("n_caught").cast("double") / col("n_true")).as("recall"))
  }

  /** SQL twin of [[recallRow]] against the exact-cosine top-5 truth on
    * the %50 query tier: CTE chain (rexq/rexsc/rextop) + the final
    * recall SELECT joining `approxTop` — append after the tier's own
    * CTEs and its approx-top-5 CTE.
    */
  private def sqlRecallVsExactCosine(approxTop: String): String =
    "rexq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings " +
      "WHERE vec_id % 50 = 0), " +
    s"rexsc AS (SELECT qid, e.vec_id, ${sqlDot("rexq.qe", "e.embedding")} / " +
      s"(sqrt(${sqlDot("rexq.qe", "rexq.qe")}) * " +
      s"sqrt(${sqlDot("e.embedding", "e.embedding")})) AS sim " +
      "FROM rexq, embeddings e), " +
    "rextop AS (SELECT qid AS query_id, vec_id FROM (SELECT qid, vec_id, " +
      "row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) " +
      "AS rn FROM rexsc) WHERE rn <= 5) " +
    "SELECT n_true, n_caught, n_caught::DOUBLE / n_true AS recall FROM " +
    "(SELECT (SELECT COUNT(*) FROM rextop) AS n_true, " +
    s"(SELECT COUNT(*) FROM rextop t JOIN $approxTop a ON " +
    "t.query_id = a.query_id AND t.vec_id = a.vec_id) AS n_caught)"

  /** Shared CTEs of the sign-bit oracle — mirrors [[Ann.hammingSearch]]:
    * 64 dimension signs packed into 32-bit lanes (bit i−1 from range's
    * 1-based i = Spark transform's 0-based index), EXACT integer Hamming
    * via bit_count(xor), top-`candidates` by (hd ASC, vec_id), exact
    * cosine rerank via [[sqlDot]].
    */
  private def sqlHamCtes(candidates: Int): String = {
    // two 32-bit halves, like the Spark side (signHalf's rationale: a
    // single packed long's bit 63 overflows checked BIGINT shifts)
    def half(off: Int): String =
      s"list_reduce(list_transform(range($off, ${off + 32}), i -> " +
        "CASE WHEN embedding[CAST(i AS INT)] >= 0 THEN " +
        s"(1::BIGINT << (i - $off)) ELSE 0::BIGINT END), (a, b) -> a + b)"
    s"hamc AS (SELECT vec_id, ${half(1)} AS sig_lo, ${half(33)} AS sig_hi " +
      "FROM embeddings), " +
    "hamq AS (SELECT vec_id AS query_id, sig_lo AS qsig_lo, " +
      "sig_hi AS qsig_hi FROM hamc WHERE vec_id % 50 = 0), " +
    "hamsc AS (SELECT query_id, hamc.vec_id, " +
      "bit_count(xor(qsig_lo, sig_lo)) + bit_count(xor(qsig_hi, sig_hi)) " +
      "AS hd FROM hamq, hamc), " +
    "hamcand AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY hd ASC, vec_id) " +
      s"AS rn FROM hamsc) WHERE rn <= $candidates), " +
    "hamfq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings " +
      "WHERE vec_id % 50 = 0), " +
    s"hamrer AS (SELECT c.query_id, c.vec_id, " +
      s"${sqlDot("q.qe", "e.embedding")} / (sqrt(${sqlDot("q.qe", "q.qe")}) " +
      s"* sqrt(${sqlDot("e.embedding", "e.embedding")})) AS sim " +
      "FROM hamcand c JOIN embeddings e ON c.vec_id = e.vec_id " +
      "JOIN hamfq q ON q.query_id = c.query_id)"
  }

  /** Shared CTEs of the SQ8 oracle — mirrors [[Ann.sq8Search]] stage for
    * stage: corpus-max-abs scale (a MAX, no accumulation, so both engines
    * compute the identical double) → HALF_UP int8 quantization (BIGINT
    * lists carry the same integers as the tinyint codes) → EXACT integer
    * dot → top-`candidates` by (iscore DESC, vec_id) → exact cosine
    * rerank via the same sequential-fold [[sqlDot]] as q_ann_cosine.
    * `scaleWhere` restricts the corpus the scale derives from — the
    * day-2 row freezes it on the PUBLISH-time subset while codes cover
    * the appended corpus too (the frozen-grid append contract).
    */
  /** The SQ8 quantization CTE chain (`{p}s` scale → `{p}c` int8 codes →
    * `{p}q` query codes) under a name prefix — ONE home for the HALF_UP
    * clamp formulation, shared by the flat and cell-partitioned oracles
    * (round-17 review: the ivf-sq8 oracle had copy-pasted it, the exact
    * per-tier duplication the round-16 recall-CTE factoring abolished).
    * The scale rides in as a joined column: DuckDB forbids subqueries
    * inside lambda bodies.
    */
  private def sqlSq8QuantCtes(p: String, scaleWhere: String = ""): String =
    s"${p}s AS (SELECT max(list_max(list_transform(embedding, " +
      s"x -> abs(x::DOUBLE)))) AS s FROM embeddings $scaleWhere), " +
    s"${p}c AS (SELECT vec_id, list_transform(embedding, x -> " +
      "CAST(GREATEST(-127.0, LEAST(127.0, ROUND(x::DOUBLE * 127.0 / " +
      s"${p}s.s))) AS BIGINT)) AS qv FROM embeddings, ${p}s), " +
    s"${p}q AS (SELECT vec_id AS query_id, qv AS qqv FROM ${p}c " +
      "WHERE vec_id % 50 = 0)"

  private def sqlSq8Ctes(candidates: Int, scaleWhere: String = ""): String =
    sqlSq8QuantCtes("sq8", scaleWhere) + ", " +
    s"sq8sc AS (SELECT query_id, sq8c.vec_id, " +
      s"list_reduce(list_transform(range(1, ${Ann.Dim + 1}), i -> " +
      "qqv[CAST(i AS INT)] * qv[CAST(i AS INT)]), (acc, x) -> acc + x) " +
      "AS iscore FROM sq8q, sq8c), " +
    "sq8cand AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY iscore DESC, " +
      s"vec_id) AS rn FROM sq8sc) WHERE rn <= $candidates), " +
    "sq8fq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings " +
      "WHERE vec_id % 50 = 0), " +
    s"sq8rer AS (SELECT c.query_id, c.vec_id, " +
      s"${sqlDot("q.qe", "e.embedding")} / (sqrt(${sqlDot("q.qe", "q.qe")}) " +
      s"* sqrt(${sqlDot("e.embedding", "e.embedding")})) AS sim " +
      "FROM sq8cand c JOIN embeddings e ON c.vec_id = e.vec_id " +
      "JOIN sq8fq q ON q.query_id = c.query_id)"

  /** Shared CTEs of the IVF-SQ8 oracle — mirrors [[Ann.sq8SearchByCell]]
    * stage for stage: the q_ann_ivf cell assignment (argmax of the
    * sequential-fold cosine against the centroid literals — corpus rn=1,
    * queries rn<=nProbe), the q_sq8_search quantization chain (corpus-max
    * scale, HALF_UP int8), EXACT integer dot restricted to each query's
    * probed cells (a vector lives in exactly one cell, so the probed
    * join yields each (query, vec) at most once), top-`candidates` by
    * (iscore DESC, vec_id), exact cosine rerank. `scaleWhere` pins the
    * quantization scale to a publish SUBSET (the day-2 lifecycle rows'
    * frozen-grid append contract made visible in SQL — append rows
    * quantize under the publish scale, saturating at ±127).
    */
  private def sqlIvfSq8Ctes(candidates: Int, nProbe: Int,
                            scaleWhere: String = ""): String =
    s"$sqlCentsCte, " +
    "i8cor AS (SELECT vec_id, embedding, " +
      s"sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings), " +
    "i8asn AS (SELECT vec_id, cell FROM " +
      "(SELECT c.vec_id, ct.cid AS cell, row_number() OVER (PARTITION BY c.vec_id " +
      s"ORDER BY ${sqlDot("c.embedding", "ct.cv")} / c.nrm DESC, ct.cid) AS rn " +
      "FROM i8cor c, cents ct) WHERE rn = 1), " +
    "i8qp AS (SELECT query_id, cell FROM " +
      "(SELECT c.vec_id AS query_id, ct.cid AS cell, " +
      "row_number() OVER (PARTITION BY c.vec_id " +
      s"ORDER BY ${sqlDot("c.embedding", "ct.cv")} / c.nrm DESC, ct.cid) AS rn " +
      s"FROM i8cor c, cents ct WHERE c.vec_id % 50 = 0) WHERE rn <= $nProbe), " +
    sqlSq8QuantCtes("i8", scaleWhere) + ", " +
    "i8sc AS (SELECT p.query_id, a.vec_id, " +
      s"list_reduce(list_transform(range(1, ${Ann.Dim + 1}), i -> " +
      "qq.qqv[CAST(i AS INT)] * cc.qv[CAST(i AS INT)]), (acc, x) -> acc + x) " +
      "AS iscore FROM i8qp p JOIN i8asn a ON p.cell = a.cell " +
      "JOIN i8c cc ON cc.vec_id = a.vec_id " +
      "JOIN i8q qq ON qq.query_id = p.query_id), " +
    "i8cand AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY iscore DESC, " +
      s"vec_id) AS rn FROM i8sc) WHERE rn <= $candidates), " +
    "i8fq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings " +
      "WHERE vec_id % 50 = 0), " +
    "i8rer AS (SELECT c.query_id, c.vec_id, " +
      s"${sqlDot("q.qe", "e.embedding")} / (sqrt(${sqlDot("q.qe", "q.qe")}) " +
      s"* sqrt(${sqlDot("e.embedding", "e.embedding")})) AS sim " +
      "FROM i8cand c JOIN embeddings e ON c.vec_id = e.vec_id " +
      "JOIN i8fq q ON q.query_id = c.query_id)"

  /** Hyperplane bucket id (mirrors Ann.bucketId): bit p = sign of the
    * sequential-fold projection onto the ±1 plane literal — exact FP parity
    * with the Spark side, so bucket ids match bit-for-bit.
    */
  private def sqlBucket(v: String): String = sqlBucketFor(v, 0)

  /** Bucket id under seed-variant plane table `t` (mirrors
    * Ann.bucketIdFor) — table 0 is the original sqlBucket expression.
    */
  private def sqlBucketFor(v: String, t: Int): String =
    Ann.planesFor(t).zipWithIndex.map { case (pl, p) =>
      val lst = pl.map(x => if (x > 0) "1.0" else "-1.0")
        .mkString("list_value(", ",", ")")
      s"(CASE WHEN ${sqlDot(v, lst)} >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  // ---- DuckDB oracle fragments shared by the near-dup queries. The hash is
  // md5-based on both sides (graft.functions.md5hash60) so sketches compare
  // bit-for-bit.

  /** Aligned non-overlapping k-token segments (mirrors
    * Boilerplate.segments: trim+\s+ split, empty doc -> one "" segment).
    */
  private def sqlSegCtes(k: Int): String =
    "tk AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 " +
      "THEN CAST([] AS VARCHAR[]) " +
      "ELSE string_split_regex(trim(text), '\\s+') END AS t FROM documents), " +
      "idx AS (SELECT doc_id, t, unnest(generate_series(0, " +
      s"CAST(greatest((len(t)-1)//$k, 0) AS BIGINT))) AS i FROM tk), " +
      "seg AS (SELECT doc_id, i AS seg_idx, " +
      s"array_to_string(t[CAST(i*$k+1 AS INT):CAST(i*$k+$k AS INT)], ' ') AS segment, " +
      s"CAST(len(t[CAST(i*$k+1 AS INT):CAST(i*$k+$k AS INT)]) AS BIGINT) AS seg_tokens " +
      "FROM idx)"

  /** Shared reassembly/accounting tail over a `kept` CTE of
    * (doc_id, seg_idx, segment) — mirrors Boilerplate.reassemble + totals.
    */
  private val sqlSegRebuildTail =
    "agg AS (SELECT doc_id, string_agg(segment, ' ' ORDER BY seg_idx) AS clean_text, " +
      "count(*) AS n_kept FROM kept GROUP BY doc_id), " +
      "tot AS (SELECT doc_id, count(*) AS n_segments FROM seg GROUP BY doc_id) " +
      "SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text, t.n_segments, " +
      "t.n_segments - coalesce(a.n_kept, 0) AS n_dropped " +
      "FROM tot t LEFT JOIN agg a ON t.doc_id = a.doc_id"

  private val sqlToksCte =
    "toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t " +
      "FROM documents WHERE length(trim(text)) > 0)"

  /** Lowercased whitespace tokens + lang (mirrors
    * LanguageModel/Retrieval's tokens(lower(text))).
    */
  private val sqlLmToksCte =
    "toksl AS (SELECT doc_id, lang, " +
      "string_split_regex(trim(lower(text)), '\\s+') AS t " +
      "FROM documents WHERE length(trim(text)) > 0)"

  /** Adjacent-token bigrams with multiplicity and their context token
    * (mirrors LanguageModel.bigramRows).
    */
  private val sqlLmBgCte =
    "bgl AS (SELECT doc_id, lang, " +
      "array_to_string(t[CAST(i AS INT):CAST(i + 1 AS INT)], ' ') AS bigram, " +
      "t[CAST(i AS INT)] AS ctx " +
      "FROM toksl, unnest(range(1, len(t))) AS u(i) WHERE len(t) >= 2)"

  /** The add-one smoothed transition probability at e12 fixed point
    * (mirrors LanguageModel.scoreAgainst's p_e12 expression tree
    * op-for-op).
    */
  private def sqlLmP(cxy: String, cx: String, v: String): String =
    s"CAST(round(1000000000000.0 * (CAST(coalesce($cxy, 0) + 1 AS DOUBLE) / " +
      s"CAST(coalesce($cx, 0) + $v AS DOUBLE))) AS BIGINT)"

  /** One bigram model (counts + vocab restricted to `pred` docs) scoring
    * ALL bgl rows → per-doc CTE `s$sfx(doc_id, n_bigrams, avg_e12)` —
    * the contrast query instantiates this twice.
    */
  private def sqlLmModelCtes(sfx: String, pred: String): String =
    s"cxy$sfx AS (SELECT bigram, count(*) AS c_xy FROM bgl WHERE $pred GROUP BY 1), " +
      s"cx$sfx AS (SELECT ctx, count(*) AS c_x FROM bgl WHERE $pred GROUP BY 1), " +
      s"vv$sfx AS (SELECT count(DISTINCT tok) AS v FROM " +
      s"(SELECT unnest(t) AS tok FROM toksl WHERE $pred)), " +
      s"p$sfx AS (SELECT s.doc_id, " +
      s"${sqlLmP(s"c.c_xy", s"x.c_x", s"vv$sfx.v")} AS p_e12 " +
      s"FROM bgl s LEFT JOIN cxy$sfx c ON s.bigram = c.bigram " +
      s"LEFT JOIN cx$sfx x ON s.ctx = x.ctx CROSS JOIN vv$sfx WHERE vv$sfx.v > 0), " +
      s"s$sfx AS (SELECT doc_id, count(*) AS n_bigrams, " +
      s"CAST(sum(p_e12) // count(*) AS BIGINT) AS avg_e12 FROM p$sfx GROUP BY doc_id)"

  /** BPE training replay over `toksl` (lowercased tokens): k unrolled
    * merge rounds. Round i reads w{i-1}(word, f, s) and emits
    * b{i}(x, y, c) — the argmax pair — and w{i} with that pair merged
    * left-to-right non-overlapping, expressed POSITIONALLY: match starts
    * h{i}, grouped into consecutive runs, odd-within-run active (a{i}),
    * then a per-position rebuild. Equivalent to the engine's fold
    * (Bpe.scala Scaladoc: a merged symbol is strictly longer than its
    * left part, so it can never immediately re-merge — both forms are
    * the textbook scan; BpeSpec pins it).
    */
  private def sqlBpeCtes(k: Int): String = {
    // MATERIALIZED on every multiply-referenced round CTE: DuckDB
    // default-inlines CTEs per reference, and w{i} is read three times
    // by round i+1 — un-materialized, the 6-round chain re-expands
    // 3^6-fold and the oracle never returns.
    val w0 = "wf AS (SELECT word, count(*) AS f FROM " +
      "(SELECT unnest(t) AS word FROM toksl) GROUP BY 1), " +
      "w0 AS MATERIALIZED (SELECT word, f, " +
      "list_transform(range(1, length(word) + 1), " +
      "i -> substr(word, CAST(i AS INT), 1)) AS s FROM wf)"
    val iters = (1 to k).map { i =>
      val p = i - 1
      s"pc$i AS (SELECT s[CAST(j AS INT)] AS x, s[CAST(j + 1 AS INT)] AS y, " +
        s"sum(f) AS c FROM w$p, unnest(range(1, len(s))) AS u(j) GROUP BY 1, 2), " +
        s"b$i AS MATERIALIZED (SELECT x, y, c FROM pc$i ORDER BY c DESC, x, y LIMIT 1), " +
        s"h$i AS (SELECT w.word, u.j FROM w$p w, " +
        s"unnest(range(1, len(w.s))) AS u(j), b$i b " +
        s"WHERE w.s[CAST(u.j AS INT)] = b.x AND w.s[CAST(u.j + 1 AS INT)] = b.y), " +
        s"a$i AS MATERIALIZED (SELECT word, j, " +
        s"(row_number() OVER (PARTITION BY word, grp ORDER BY j)) % 2 = 1 AS act " +
        s"FROM (SELECT word, j, j - row_number() OVER " +
        s"(PARTITION BY word ORDER BY j) AS grp FROM h$i)), " +
        s"e$i AS (SELECT q.word, q.f, q.j, " +
        s"CASE WHEN coalesce(a1.act, FALSE) THEN " +
        s"q.s[CAST(q.j AS INT)] || q.s[CAST(q.j + 1 AS INT)] " +
        s"WHEN coalesce(a0.act, FALSE) THEN NULL " +
        s"ELSE q.s[CAST(q.j AS INT)] END AS tok " +
        s"FROM (SELECT w.word, w.f, w.s, u.j FROM w$p w, " +
        s"unnest(range(1, len(w.s) + 1)) AS u(j)) q " +
        s"LEFT JOIN a$i a1 ON a1.word = q.word AND a1.j = q.j " +
        s"LEFT JOIN a$i a0 ON a0.word = q.word AND a0.j = q.j - 1), " +
        s"w$i AS MATERIALIZED (SELECT word, f, list(tok ORDER BY j) AS s FROM e$i " +
        s"WHERE tok IS NOT NULL GROUP BY word, f)"
    }
    (w0 +: iters).mkString(", ")
  }

  /** The q_bpe_train final select over [[sqlBpeCtes]]'s b{i} rows. */
  private def sqlBpeMergeSelect(k: Int): String =
    // Sequential training (batchM = 1, what q_bpe_train runs): every
    // pass accepts exactly one merge, so pass_id == merge_rank.
    (1 to k).map(i => s"SELECT CAST($i AS BIGINT) AS merge_rank, x, y, " +
      s"CAST(c AS BIGINT) AS pair_count, CAST($i AS BIGINT) AS pass_id " +
      s"FROM b$i").mkString(" UNION ALL ")

  /** Content-defined chunk CTEs over `toks` → `ch(doc_id, chunk_idx,
    * n_tokens, chunk_hash)` (mirrors Chunker.contentDefinedChunks with
    * maskMod = 4: boundary = 60-bit md5 of the token ≡ 0 mod 4, chunk id
    * = running inclusive boundary count, hash over the space-rejoined
    * in-order tokens).
    */
  private lazy val sqlCdcChunkCtes =
    "tokp AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, " +
      "t[CAST(i AS INT)] AS tok FROM toks, unnest(range(1, len(t) + 1)) AS u(i)), " +
      s"flg AS (SELECT doc_id, pos, tok, CASE WHEN ${sqlHash60("tok", 0)} % 4 = 0 " +
      "THEN 1 ELSE 0 END AS b FROM tokp), " +
      "cid AS (SELECT doc_id, pos, tok, CAST(sum(b) OVER " +
      "(PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS chunk_idx FROM flg), " +
      "ch AS (SELECT doc_id, chunk_idx, count(*) AS n_tokens, " +
      "md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash " +
      "FROM cid GROUP BY 1, 2)"

  /** 3-gram shingles (mirrors NearDup.shingles with n=3). */
  private val sqlShCte =
    "sh AS (SELECT DISTINCT doc_id, " +
      "array_to_string(t[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS s " +
      "FROM toks, unnest(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3)"

  private val sqlCountsCte =
    "counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)"

  private val sqlInterCte =
    "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common " +
      "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)"

  /** Seeded 60-bit md5 hash (mirrors md5hash60). */
  private def sqlHash60(input: String, seed: Int): String = {
    val seeded = if (seed == 0) input else s"'$seed:' || $input"
    s"('0x' || substr(md5($seeded), 1, 15))::BIGINT"
  }

  /** One md5 digest per shingle, split into the two affine-family halves
    * (mirrors NearDup.minhashSignatures bit-for-bit: `a` = hex chars 1-15
    * as a 60-bit BIGINT, `b` = hex chars 16-29 as a 56-bit BIGINT).
    */
  private val sqlAbCte =
    "ab AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS a, " +
      "('0x' || substr(md5(s), 16, 14))::BIGINT AS b FROM sh)"

  private val sqlSigSelect: String =
    (0 until NearDup.NumHashes)
      .map(k => s"min((a + ${k + 1} * b) & ${NearDup.HashMask}) AS h$k")
      .mkString(", ")

  /** The full MinHash-LSH -> verified-pairs -> connected-components chain
    * ending in `comp(doc_id, component)` — shared by q_near_dedup and
    * q_near_dedup_best (must follow a WITH RECURSIVE).
    */
  /** Near-dedup pair CTEs through `e` (the text MinHash-verified edge
    * set) — shared by the single-signal closure below and the hybrid
    * query, which unions `e` with embedding-cosine edges first.
    */
  private lazy val sqlNearDedupPairCtes: String =
    s"$sqlToksCte, $sqlShCte, $sqlCountsCte, $sqlInterCte, $sqlAbCte, " +
      s"sig AS (SELECT doc_id AS id, $sqlSigSelect FROM ab GROUP BY doc_id), " +
      s"cands AS (SELECT a.id AS cid_a, b.id AS cid_b FROM sig a JOIN sig b " +
      s"ON a.id < b.id AND ($sqlBandCond)), " +
      "e AS (SELECT c.cid_a AS u, c.cid_b AS v FROM cands c " +
      "JOIN inter i ON i.id_a = c.cid_a AND i.id_b = c.cid_b " +
      "JOIN counts ca ON ca.doc_id = c.cid_a JOIN counts cb ON cb.doc_id = c.cid_b " +
      "WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.5)"

  /** Transitive-closure + per-doc component CTEs over an edge CTE named
    * `edges` (columns u, v) — the recursive half every CC-shaped oracle
    * shares.
    */
  private def sqlCcClosure(edges: String): String =
    s"sym AS (SELECT u, v FROM $edges UNION SELECT v, u FROM $edges), " +
      "reach(u, v) AS (SELECT u, v FROM sym " +
      "UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u), " +
      "comp AS (SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS component " +
      "FROM documents d LEFT JOIN reach r ON r.u = d.doc_id GROUP BY d.doc_id)"

  private lazy val sqlNearDedupCtes: String =
    s"$sqlNearDedupPairCtes, ${sqlCcClosure("e")}"

  /** Hybrid ensemble component CTEs (mirrors NearDup.dedupByHybrid):
    * text edges `e` unioned with doc-universe-filtered embedding cosine
    * edges, closed over the document universe into `comp`.
    */
  private lazy val sqlHybridCompCtes: String =
    s"$sqlNearDedupPairCtes, " +
      "etb AS (" +
      (0 until 3).map(t =>
        s"SELECT vec_id, $t AS tbl, ${sqlBucketFor("embedding", t)} AS bucket FROM embeddings")
        .mkString(" UNION ALL ") + "), " +
      "ecand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b " +
      "FROM etb a JOIN etb b ON a.tbl = b.tbl AND a.bucket = b.bucket " +
      "AND a.vec_id < b.vec_id), " +
      "ee AS (SELECT id_a AS u, id_b AS v FROM (SELECT c.id_a, c.id_b, " +
      s"${sqlDot("ea.embedding", "eb.embedding")} / " +
      s"(sqrt(${sqlDot("ea.embedding", "ea.embedding")}) * " +
      s"sqrt(${sqlDot("eb.embedding", "eb.embedding")})) AS sim " +
      "FROM ecand c JOIN embeddings ea ON ea.vec_id = c.id_a " +
      "JOIN embeddings eb ON eb.vec_id = c.id_b) WHERE sim >= 0.3 " +
      "AND id_a IN (SELECT doc_id FROM documents) " +
      "AND id_b IN (SELECT doc_id FROM documents)), " +
      "eh AS (SELECT u, v FROM e UNION SELECT u, v FROM ee), " +
      sqlCcClosure("eh")

  /** Best-by-score survivor tail over a `comp` CTE (doc_id, component) —
    * the quality LEFT join + NULLS LAST window shared by
    * q_near_dedup_best and q_hybrid_dedup_best (mirrors
    * NearDup.bestSurvivor; includes the final SELECT).
    */
  private lazy val sqlBestSurvivorTail: String =
    s"q AS ($sqlTextStats), " +
      "sc AS (SELECT c.doc_id, c.component, q.quality AS score FROM comp c " +
      "LEFT JOIN q ON q.doc_id = c.doc_id), " +
      "k AS (SELECT component, doc_id AS keeper_id FROM " +
      "(SELECT component, doc_id, row_number() OVER " +
      "(PARTITION BY component ORDER BY score DESC NULLS LAST, doc_id) AS rk FROM sc) " +
      "WHERE rk = 1) " +
      "SELECT sc.doc_id, sc.component, sc.score, k.keeper_id, " +
      "sc.doc_id = k.keeper_id AS is_keeper FROM sc " +
      "JOIN k ON sc.component = k.component"

  private val sqlBandCond: String =
    (0 until NearDup.Bands).map { b =>
      (b * NearDup.RowsPerBand until (b + 1) * NearDup.RowsPerBand)
        .map(k => s"a.h$k = b.h$k").mkString("(", " AND ", ")")
    }.mkString(" OR ")

  private val sqlTokCte =
    "tok AS (SELECT DISTINCT doc_id, t FROM (SELECT doc_id, " +
      "unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t " +
      "FROM documents WHERE length(trim(text)) > 0))"

  /** Winnowing fingerprints (mirrors Winnow.fingerprints bit-for-bit:
    * md5hash60 token hashes, left-fold rolling k-gram hash with the same
    * base/modulus, window-min selection). DuckDB's list_reduce seeds with
    * the FIRST element, so a 0 is prepended to match Spark's aggregate
    * init; slices are 1-based inclusive (th[i : i+k-1] == slice(th,i,k)).
    */
  /** One unrolled PageRank iteration for the q_dup_centrality oracle:
    * r'(v) = floor(0.15*SCALE/n) + sum over in-edges of
    * floor(0.85*r(u)/outdeg(u)), with 0.85x = (17x) div 20 and
    * SCALE = 1e12 — mirrors graft.operators.PageRank.ranks exactly.
    */
  private def prCte(prev: String, cur: String): String =
    s"$cur AS (SELECT e.dst AS id, min(d.outdeg) AS outdeg, " +
      s"CAST((150000000000 // min(nn.n)) + sum((17 * $prev.r) // (20 * $prev.outdeg)) AS BIGINT) AS r " +
      s"FROM edges e JOIN $prev ON $prev.id = e.src JOIN deg d ON d.id = e.dst CROSS JOIN nn " +
      "GROUP BY e.dst)"

  /** Weighted twin of [[prCte]]: contributions scale with edge weight,
    * degree is the weighted degree — mirrors PageRank.ranksWeighted.
    */
  private def prCteW(prev: String, cur: String): String =
    s"$cur AS (SELECT e.dst AS id, min(d.outdeg) AS outdeg, " +
      s"CAST((150000000000 // min(nn.n)) + sum((17 * $prev.r * e.w) // (20 * $prev.outdeg)) AS BIGINT) AS r " +
      s"FROM edges e JOIN $prev ON $prev.id = e.src JOIN deg d ON d.id = e.dst CROSS JOIN nn " +
      "GROUP BY e.dst)"

  /** Personalized twin of [[prCteW]]: restart mass only on seed nodes,
    * absent in-mass coalesced to 0 — mirrors PageRank.ranksPersonalized.
    */
  private def prCteP(prev: String, cur: String): String =
    s"$cur AS (SELECT d.id, d.outdeg, " +
      "CAST((CASE WHEN sd.id IS NOT NULL THEN 150000000000 // ns.ns ELSE 0 END) " +
      "+ coalesce(m.in_mass, 0) AS BIGINT) AS r " +
      "FROM deg d LEFT JOIN sd ON d.id = sd.id CROSS JOIN ns " +
      s"LEFT JOIN (SELECT e.dst AS id, sum((17 * $prev.r * e.w) // (20 * $prev.outdeg)) AS in_mass " +
      s"FROM edges e JOIN $prev ON $prev.id = e.src GROUP BY 1) m ON m.id = d.id)"

  private val sqlWinnowCte: String = {
    val (k, w, b, m) = (Winnow.GramTokens, Winnow.WindowGrams, Winnow.Base, Winnow.Mod)
    "wt AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t " +
      "FROM documents WHERE length(trim(text)) > 0), " +
      "wth AS (SELECT doc_id, list_transform(t, x -> " +
      s"('0x' || substr(md5(x), 1, 15))::BIGINT) AS th FROM wt WHERE len(t) >= $k), " +
      s"whs AS (SELECT doc_id, list_transform(generate_series(1, len(th) - ${k - 1}), " +
      s"i -> list_reduce(list_prepend(0::BIGINT, th[i:i+${k - 1}]), " +
      s"(acc, x) -> (acc * $b + x) % $m)) AS hs FROM wth), " +
      s"wfps AS (SELECT doc_id, CASE WHEN len(hs) >= $w " +
      s"THEN list_transform(generate_series(1, len(hs) - ${w - 1}), " +
      s"j -> list_min(hs[j:j+${w - 1}])) " +
      "ELSE [list_min(hs)] END AS fp FROM whs), " +
      "wfp AS (SELECT DISTINCT doc_id, unnest(fp) AS fp FROM wfps)"
  }

  private val sqlSimHashSums: String =
    "sums AS (SELECT doc_id, " +
      (0 until NearDup.SimHashBits).map(j =>
        s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j").mkString(", ") +
      s" FROM (SELECT doc_id, ${sqlHash60("t", 0)} AS h FROM tok) GROUP BY doc_id)"

  private val sqlSimHashValue: String =
    (0 until NearDup.SimHashBits)
      .map(j => s"CASE WHEN b$j >= 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")

  /** Recursive-CTE replay of CPython difflib's matching-block recursion
    * (SequenceMatcher.get_matching_blocks with isjunk=None and |b| < 200,
    * so autojunk and the junk-extension phases are no-ops — names are 18
    * chars). Appended after CTEs `nm(name)` (the distinct name set, used
    * only to bound `pos`) and `pr(na, nb, la, lb)` (the ordered pairs to
    * score); yields `ms(na, nb, la, lb, mtot)` with mtot = difflib's total
    * matched characters M, so ratio comparisons become exact integer
    * arithmetic: ratio*100 >= t  <=>  200*M >= t*(la+lb).
    *
    * Key identity making find_longest_match SQL-expressible: with no junk,
    * the DP's winner is the FIRST (end_i, end_j) in (i asc, j asc) scan
    * order attaining the maximal segment-bounded run length k — i.e.
    * ORDER BY k DESC, i, j LIMIT 1 (here: row_number = 1 per segment).
    * `runs` precomputes the segment-UNBOUNDED run length r ending at each
    * matching (i, j) once (materialized — the recursion re-reads it every
    * level); inside a segment k = least(r, i - alo + 1, j - blo + 1).
    * Each recursion level emits the winning block's size as an exhausted
    * (0,0,0,0) segment carrying m=k, plus the left/right sub-segments,
    * exactly difflib's queue step. Used by q_link_ro and q_cluster_greedy.
    */
  private val sqlDifflibChain: String =
    "pos AS (SELECT CAST(t.i AS BIGINT) AS i FROM generate_series(1, 512) t(i) " +
      "WHERE t.i <= (SELECT max(greatest(length(name), 1)) FROM nm)), " +
      "runs AS MATERIALIZED (" +
      "SELECT p.na, p.nb, pi.i AS i, pj.i AS j, max(pm.i) AS r " +
      "FROM pr p, pos pi, pos pj, pos pm " +
      "WHERE pi.i <= p.la AND pj.i <= p.lb AND pm.i <= least(pi.i, pj.i) " +
      "AND substr(p.na, CAST(pi.i - pm.i + 1 AS INT), CAST(pm.i AS INT)) " +
      "  = substr(p.nb, CAST(pj.i - pm.i + 1 AS INT), CAST(pm.i AS INT)) " +
      "GROUP BY p.na, p.nb, pi.i, pj.i), " +
      "seg AS (" +
      "SELECT na, nb, la, lb, CAST(1 AS BIGINT) AS alo, CAST(la + 1 AS BIGINT) AS ahi, " +
      "CAST(1 AS BIGINT) AS blo, CAST(lb + 1 AS BIGINT) AS bhi, CAST(0 AS BIGINT) AS m " +
      "FROM pr " +
      "UNION ALL " +
      "SELECT na, nb, la, lb, " +
      "CASE t.which WHEN 0 THEN 0 WHEN 1 THEN alo ELSE i + 1 END AS alo, " +
      "CASE t.which WHEN 0 THEN 0 WHEN 1 THEN i - k + 1 ELSE ahi END AS ahi, " +
      "CASE t.which WHEN 0 THEN 0 WHEN 1 THEN blo ELSE j + 1 END AS blo, " +
      "CASE t.which WHEN 0 THEN 0 WHEN 1 THEN j - k + 1 ELSE bhi END AS bhi, " +
      "CASE t.which WHEN 0 THEN k ELSE CAST(0 AS BIGINT) END AS m " +
      "FROM (" +
      "SELECT s.na, s.nb, s.la, s.lb, s.alo, s.ahi, s.blo, s.bhi, g.i, g.j, " +
      "least(g.r, g.i - s.alo + 1, g.j - s.blo + 1) AS k, " +
      "row_number() OVER (PARTITION BY s.na, s.nb, s.alo, s.blo " +
      "ORDER BY least(g.r, g.i - s.alo + 1, g.j - s.blo + 1) DESC, g.i, g.j) AS rn " +
      "FROM seg s JOIN runs g ON g.na = s.na AND g.nb = s.nb " +
      "AND g.i >= s.alo AND g.i < s.ahi AND g.j >= s.blo AND g.j < s.bhi " +
      "WHERE s.alo < s.ahi AND s.blo < s.bhi" +
      ") w, (VALUES (0), (1), (2)) t(which) " +
      "WHERE w.rn = 1 AND (t.which = 0 " +
      "OR (t.which = 1 AND w.alo < w.i - w.k + 1 AND w.blo < w.j - w.k + 1) " +
      "OR (t.which = 2 AND w.i + 1 < w.ahi AND w.j + 1 < w.bhi))), " +
      "ms AS (SELECT na, nb, la, lb, sum(m) AS mtot FROM seg GROUP BY na, nb, la, lb)"

  /** Shared difflib-replay oracle for the Ratcliff/Obershelp link — the
    * Column-API query (q_link_ro) and its SQL-surface twin
    * (q_link_ro_sql) compute the identical result.
    */
  /** Redaction replay (q_decontam_redact and its standing-index twin —
    * one oracle, two plans): positioned non-distinct train grams join
    * the eval-distinct gram set; covered = union of hit windows;
    * survivors re-join ordered by position (list ORDER BY + FILTER).
    */
  private lazy val sqlDecontamRedactOracle: String =
    "WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t " +
      "FROM documents WHERE length(trim(text)) > 0), " +
      "g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, " +
      "array_to_string(t[CAST(i AS INT):CAST(i + 12 AS INT)], ' ') AS s " +
      "FROM tk, unnest(range(1, len(t) - 11)) AS u(i) WHERE len(t) >= 13), " +
      "ev AS (SELECT DISTINCT s FROM g WHERE doc_id % 2 = 1), " +
      "hits AS (SELECT g.doc_id, g.pos FROM g JOIN ev ON g.s = ev.s " +
      "WHERE g.doc_id % 2 = 0), " +
      "cov AS (SELECT DISTINCT doc_id, pos + o AS pos FROM hits, " +
      "unnest(range(0, 13)) AS v(o)), " +
      "toks AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, " +
      "CAST(i AS BIGINT) AS pos, t[CAST(i AS INT)] AS tok " +
      "FROM tk, unnest(range(1, len(t) + 1)) AS u(i) WHERE doc_id % 2 = 0) " +
      "SELECT toks.doc_id AS train_id, " +
      "CAST(max(toks.n_tokens) AS BIGINT) AS n_tokens, " +
      "CAST(sum(CASE WHEN cov.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_redacted, " +
      "coalesce(array_to_string(list(toks.tok ORDER BY toks.pos) " +
      "FILTER (WHERE cov.pos IS NULL), ' '), '') AS redacted_text " +
      "FROM toks LEFT JOIN cov ON toks.doc_id = cov.doc_id AND toks.pos = cov.pos " +
      "GROUP BY 1"

  /** Naive replay of the dictionary match (q_dict_match and its
    * standing-index twin q_dict_match_indexed — one oracle, two plans).
    */
  private lazy val sqlDictMatchOracle: String =
    "WITH dirty AS (SELECT p_partkey AS dirty_id, " +
      "substring(p_name, 1, CAST((p_partkey // 5) % length(p_name) AS INT)) || " +
      "substring(p_name, CAST((p_partkey // 5) % length(p_name) AS INT) + 2) " +
      "AS dirty_name FROM part WHERE p_partkey % 5 = 0) " +
      "SELECT d.dirty_id AS left_id, d.dirty_name AS left_key, " +
      "p.p_partkey AS right_id, p.p_name AS right_key, " +
      "CAST(levenshtein(d.dirty_name, p.p_name) AS BIGINT) AS dist " +
      "FROM dirty d JOIN part p ON levenshtein(d.dirty_name, p.p_name) <= 1"

  private lazy val sqlLinkRoOracle: String =
    "WITH RECURSIVE nm AS (SELECT DISTINCT s_name AS name FROM supplier), " +
      "pr AS (SELECT a.name AS na, b.name AS nb, " +
      "length(a.name) AS la, length(b.name) AS lb " +
      "FROM nm a JOIN nm b ON a.name <> b.name), " +
      sqlDifflibChain + ", " +
      "link AS (SELECT na, nb FROM ms WHERE 200 * mtot >= 80 * (la + lb)) " +
      "SELECT least(na, nb) AS uniqId, " +
      "string_agg(DISTINCT na, ',' ORDER BY na) AS CollectedNames " +
      "FROM link GROUP BY least(na, nb)"

  /** Full DuckDB replay of GreedyCluster's sequential fold over a source
    * CTE `sup(ord, name, alt)` — fixture-independent, unlike the r2–r7
    * oracle that derived the answer under the one-cluster condition.
    *
    * Two stacked recursions:
    *  1. sqlDifflibChain over ALL distinct-name pairs -> exact integer
    *     similarity test 200*M > 80*(la+lb) (solutionTwo's strict `>`);
    *     identical names are appended as self-pairs (ratio 100).
    *  2. `fold` carries the insertion-ordered KEY LIST as a VARCHAR[] in a
    *     single state row per step: row i (total order = `ord`) appends
    *     its name iff no existing key is >80-similar
    *     (list_intersect against the row's precomputed similar-name list).
    * Key creation times fall out of the fold trace (`kc`: the step where
    * len(keys) grew); membership then replays multi-assign exactly — a row
    * joins every cluster whose key existed BEFORE it and is >80-similar,
    * plus the cluster it seeded. TreeSet semantics = string_agg(DISTINCT
    * .. ORDER BY). An empty source yields zero rows (fold base row only).
    */
  private def sqlGreedyFoldOracle(supCte: String): String =
    s"WITH RECURSIVE sup AS ($supCte), " +
      "nm AS (SELECT DISTINCT name FROM sup), " +
      "pr AS (SELECT a.name AS na, b.name AS nb, " +
      "length(a.name) AS la, length(b.name) AS lb " +
      "FROM nm a JOIN nm b ON a.name <> b.name), " +
      sqlDifflibChain + ", " +
      "simok AS (SELECT na, nb FROM ms WHERE 200 * mtot > 80 * (la + lb) " +
      "UNION ALL SELECT name, name FROM nm), " +
      "ro AS (SELECT CAST(row_number() OVER (ORDER BY ord) AS BIGINT) AS i, " +
      "name, alt FROM sup), " +
      "simlist AS (SELECT nb AS name, list(na) AS sims FROM simok GROUP BY nb), " +
      "ro2 AS (SELECT r.i, r.name, r.alt, coalesce(sl.sims, []) AS sims " +
      "FROM ro r LEFT JOIN simlist sl ON sl.name = r.name), " +
      "fold AS (" +
      "SELECT CAST(0 AS BIGINT) AS i, CAST([] AS VARCHAR[]) AS keys " +
      "UNION ALL " +
      "SELECT r.i, CASE WHEN len(list_intersect(f.keys, r.sims)) > 0 THEN f.keys " +
      "ELSE list_append(f.keys, r.name) END " +
      "FROM fold f JOIN ro2 r ON r.i = f.i + 1), " +
      "kc AS (SELECT f.i AS ki, f.keys[len(f.keys)] AS kname " +
      "FROM fold f JOIN fold fp ON fp.i = f.i - 1 " +
      "WHERE len(f.keys) > len(fp.keys)), " +
      "memb AS (" +
      "SELECT k.kname, r.name, r.alt FROM kc k JOIN ro r ON r.i = k.ki " +
      "UNION ALL " +
      "SELECT k.kname, r.name, r.alt FROM kc k JOIN ro r ON r.i > k.ki " +
      "JOIN simok s ON s.na = k.kname AND s.nb = r.name) " +
      "SELECT kname AS name, " +
      "string_agg(DISTINCT name, ',' ORDER BY name) AS names, " +
      "string_agg(DISTINCT alt, ',' ORDER BY alt) AS alts " +
      "FROM memb GROUP BY kname"

  /** The 37 multi-probe XOR masks of Ann.lshTopK (self + all Hamming<=2
    * bucket flips over LshBits planes), as a SQL list body.
    */
  private val sqlLshMasks: String = {
    val singles = (0 until Ann.LshBits).map(1L << _)
    val doubles = for {
      i <- 0 until Ann.LshBits; j <- i + 1 until Ann.LshBits
    } yield (1L << i) | (1L << j)
    (0L +: (singles ++ doubles)).mkString(", ")
  }

  /** The frozen PQ codebooks (PqFixture) as a VALUES CTE — same
    * CAST('<Double.toString>' AS DOUBLE) literal rule as [[sqlCentsCte]].
    */
  private lazy val sqlPqCbCte: String = {
    val rows = for {
      (cb, j) <- PqFixture.codebooks.zipWithIndex
      (cid, v) <- cb
    } yield s"($j, $cid, [${v.map(x => s"CAST('$x' AS DOUBLE)").mkString(", ")}])"
    s"pcb AS (SELECT t.j, t.cid, t.cv FROM (VALUES ${rows.mkString(", ")}) t(j, cid, cv))"
  }

  /** Squared L2 between embedding subspace `j` of `vec` and codeword
    * `cv` — elementwise diff then left-fold sum, mirroring
    * Ann.d2Lit/DotProduct op for op (the diff is recomputed in the
    * square's second factor; identical expression → identical rounded
    * value).
    */
  private def sqlPqD2(vec: String, j: String, cv: String): String = {
    val sd = PqFixture.model.subDim
    def el(i: String) =
      s"$vec[CAST($sd * $j + $i AS INT)]::DOUBLE - $cv[CAST($i AS INT)]"
    s"list_reduce(list_transform(range(1, $sd + 1), i -> " +
      s"(${el("i")}) * (${el("i")})), (acc, x) -> acc + x)"
  }

  /** Full-dimension squared L2 (mirrors pqRecallEval's zip_with diff +
    * DotProduct self-fold — diff recomputed per factor, identical
    * rounded value).
    */
  private def sqlL2(a: String, b: String): String = {
    def el(i: String) = s"$a[CAST($i AS INT)]::DOUBLE - $b[CAST($i AS INT)]::DOUBLE"
    s"list_reduce(list_transform(range(1, ${Ann.Dim + 1}), i -> " +
      s"(${el("i")}) * (${el("i")})), (acc, x) -> acc + x)"
  }

  /** IVFPQ assignment CTE chain (requires `cents` + `pcb` in scope):
    * `corq` (vec_id, embedding, nrm) → `asnc` coarse-cell argmax
    * carrying the winning centroid (score DESC, cid — Spark's
    * greatest-over-structs) → `resid` the elementwise residual
    * v − centroid (each element one rounded subtraction, mirroring
    * zip_with) → `asnp(vec_id, cell, j, cid)` per-subspace residual
    * code argmin, ties to the lower code id (Spark's
    * least-over-structs).
    */
  private lazy val sqlPqAsnCte: String =
    "corq AS (SELECT vec_id, embedding, " +
      s"sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings), " +
      "asnc AS (SELECT vec_id, cell, cv FROM " +
      "(SELECT c.vec_id, ct.cid AS cell, ct.cv, row_number() OVER " +
      "(PARTITION BY c.vec_id " +
      s"ORDER BY ${sqlDot("c.embedding", "ct.cv")} / c.nrm DESC, ct.cid) AS rn " +
      "FROM corq c, cents ct) WHERE rn = 1), " +
      "resid AS MATERIALIZED (SELECT c.vec_id, a.cell, " +
      s"list_transform(range(1, ${Ann.Dim + 1}), i -> " +
      "c.embedding[CAST(i AS INT)]::DOUBLE - a.cv[CAST(i AS INT)]) AS res " +
      "FROM corq c JOIN asnc a ON a.vec_id = c.vec_id), " +
      "asnp AS MATERIALIZED (SELECT vec_id, cell, j, cid FROM " +
      "(SELECT r.vec_id, r.cell, p.j, p.cid, row_number() OVER " +
      "(PARTITION BY r.vec_id, p.j " +
      s"ORDER BY ${sqlPqD2("r.res", "p.j", "p.cv")} ASC, p.cid) AS rn " +
      "FROM resid r, pcb p) WHERE rn = 1)"

  /** Per-(query, cell) residual LUT CTE `lut(query_id, cell, j, cid,
    * d)` at e12 fixed point — every query subtracts each probed cell's
    * centroid before building that cell's subspace distance table
    * (requires `corq`/`cents`/`pcb`). `probe = None` covers every cell
    * (the q_pq_search/recall exhaustive form); `Some(p)` keeps each
    * query's p best cells by the q_ann_ivf probe ranking (score DESC,
    * cid) — mirroring pqSearch's nProbe window.
    */
  private def sqlPqLutCtes(probe: Option[Int]): String = {
    val qres = probe match {
      case None =>
        "qres AS (SELECT c.vec_id AS query_id, ct.cid AS cell, " +
          s"list_transform(range(1, ${Ann.Dim + 1}), i -> " +
          "c.embedding[CAST(i AS INT)]::DOUBLE - ct.cv[CAST(i AS INT)]) AS res " +
          "FROM corq c, cents ct WHERE c.vec_id % 50 = 0)"
      case Some(p) =>
        "qres AS (SELECT query_id, cell, res FROM " +
          "(SELECT c.vec_id AS query_id, ct.cid AS cell, " +
          s"list_transform(range(1, ${Ann.Dim + 1}), i -> " +
          "c.embedding[CAST(i AS INT)]::DOUBLE - ct.cv[CAST(i AS INT)]) AS res, " +
          "row_number() OVER (PARTITION BY c.vec_id " +
          s"ORDER BY ${sqlDot("c.embedding", "ct.cv")} / c.nrm DESC, ct.cid) AS rn " +
          s"FROM corq c, cents ct WHERE c.vec_id % 50 = 0) WHERE rn <= $p)"
    }
    s"$qres, " +
      "lut AS (SELECT q.query_id, q.cell, p.j, p.cid, " +
      s"CAST(round(1000000000000.0 * ${sqlPqD2("q.res", "p.j", "p.cv")}) AS BIGINT) AS d " +
      "FROM qres q, pcb p), " +
      "sc AS (SELECT l.query_id, a.vec_id, sum(l.d) AS ad2 " +
      "FROM asnp a JOIN lut l ON l.cell = a.cell AND l.j = a.j " +
      "AND l.cid = a.cid GROUP BY 1, 2)"
  }

  /** The frozen IVF centroid set (IvfFixture) as a VALUES CTE. Each
    * component is emitted as CAST('<Double.toString>' AS DOUBLE): a BARE
    * decimal literal with 18+ fractional digits is typed DECIMAL(19,18)
    * by DuckDB and takes an extra scaled-integer rounding on the way to
    * DOUBLE (measured: 163/1024 fixture values land 1 ulp off), while the
    * string cast is a direct strtod of the shortest round-trip decimal —
    * bit-exact against the Spark literal.
    */
  private val sqlCentsCte: String = {
    val rows = IvfFixture.centroids.map { case (cid, v) =>
      s"($cid, [${v.map(x => s"CAST('$x' AS DOUBLE)").mkString(", ")}])"
    }.mkString(", ")
    s"cents AS (SELECT t.cid, t.cv FROM (VALUES $rows) t(cid, cv))"
  }

  /** Shared-span CTE chain mirroring SubstringDedup.sharedSpans with
    * k=3, minTokens=8 on documents: positioned lowercased 3-gram md5
    * hashes -> position-pair equi-join -> diagonal gaps-and-islands ->
    * maximal runs (g grams = g+2 tokens). Yields `sp(id_a, id_b, start_a,
    * start_b, len_tokens)`.
    */
  /** Boundary-respecting packing fold (mirrors Packing.packBoundaried's
    * per-shard greedy first-fit, capacity 512) as a recursive CTE over
    * per-shard row numbers: state (seq_after, fill_after) advances doc by
    * doc with the identical jump/overflow integer arithmetic. All BIGINT —
    * exact on both engines.
    */
  private lazy val sqlPackBoundariedCtes: String = {
    val jump =
      "(d.n_tokens > 0 AND f.fill_after > 0 AND f.fill_after + d.n_tokens > 512)"
    val so = s"(CASE WHEN $jump THEN 0 ELSE f.fill_after END)"
    val whole = s"(($so + d.n_tokens - 1) // 512)"
    "d AS (SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens, " +
      "row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn FROM " +
      s"(SELECT doc_id, source, $sqlTokenCount AS n_tokens FROM documents)), " +
      "f(doc_id, source, n_tokens, rn, seq_index, seq_offset, seq_after, fill_after) AS (" +
      "SELECT doc_id, source, n_tokens, rn, CAST(0 AS BIGINT), CAST(0 AS BIGINT), " +
      "CAST(CASE WHEN n_tokens > 0 THEN (n_tokens - 1) // 512 ELSE 0 END AS BIGINT), " +
      "CAST(CASE WHEN n_tokens > 0 THEN n_tokens - ((n_tokens - 1) // 512) * 512 ELSE 0 END AS BIGINT) " +
      "FROM d WHERE rn = 1 " +
      "UNION ALL " +
      "SELECT d.doc_id, d.source, d.n_tokens, d.rn, " +
      s"f.seq_after + CASE WHEN $jump THEN 1 ELSE 0 END, " +
      s"$so, " +
      s"f.seq_after + CASE WHEN $jump THEN 1 ELSE 0 END + " +
      s"CASE WHEN d.n_tokens > 0 THEN $whole ELSE 0 END, " +
      s"CASE WHEN d.n_tokens > 0 THEN $so + d.n_tokens - $whole * 512 ELSE $so END " +
      "FROM f JOIN d ON d.source = f.source AND d.rn = f.rn + 1)"
  }

  private lazy val sqlSpanCtes: String =
    "ltoks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t " +
      "FROM documents WHERE length(trim(text)) > 0), " +
      "pg AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pos, " +
      s"${sqlHash60("array_to_string(t[CAST(u.i AS INT):CAST(u.i + 2 AS INT)], ' ')", 0)} AS gh " +
      "FROM ltoks, unnest(range(1, len(t) - 1)) u(i) WHERE len(t) >= 3), " +
      "sp AS (SELECT id_a, id_b, min(pa) AS start_a, min(pb) AS start_b, " +
      "count(*) + 2 AS len_tokens FROM " +
      "(SELECT id_a, id_b, pa - pb AS diag, pa, pb, " +
      "pa - row_number() OVER (PARTITION BY id_a, id_b, pa - pb ORDER BY pa) AS island " +
      "FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, b.pos AS pb " +
      "FROM pg a JOIN pg b ON a.gh = b.gh AND a.doc_id < b.doc_id)) " +
      "GROUP BY id_a, id_b, diag, island HAVING count(*) + 2 >= 8)"

  /** DuckDB fragment mirroring TextOps.tokenCount on column `text`. */
  private val sqlTokenCount: String =
    "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END"

  /** DuckDB fragment mirroring TextOps.stopwordHits on column `text`. */
  private def sqlStopHits(words: Seq[String]): String =
    sqlStopHitsOn("text", words)

  /** [[sqlStopHits]] over an arbitrary column/expression (mirrors
    * TextOps.stopwordHits on that column).
    */
  private def sqlStopHitsOn(c: String, words: Seq[String]): String = {
    val inList = words.map(w => s"'$w'").mkString(", ")
    s"CASE WHEN length(trim(lower($c))) = 0 THEN 0 ELSE " +
      s"len(list_filter(string_split_regex(trim(lower($c)), '\\s+'), x -> x IN ($inList))) END"
  }
}
