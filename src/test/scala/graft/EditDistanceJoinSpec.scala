package graft

import graft.operators.{ConnectedComponents, EditDistanceJoin}
import graft.operators.EditDistanceJoin.{DeletionNeighborhood, Naive, deletionVariants}
import org.apache.spark.sql.functions.{expr, levenshtein}

class EditDistanceJoinSpec extends SparkSpec {
  import spark.implicits._

  test("deletion variants: counts and membership") {
    val v1 = deletionVariants("abc", 1)
    assert(v1.toSet == Set("abc", "bc", "ac", "ab"))
    val v2 = deletionVariants("abc", 2).toSet
    assert(v2 == Set("abc", "bc", "ac", "ab", "a", "b", "c"))
    assert(deletionVariants("", 2).toSet == Set(""))
    // duplicate chars collapse
    assert(deletionVariants("aa", 1).toSet == Set("aa", "a"))
  }

  test("codegen deletion_variant_hashes matches the Scala generator") {
    val inputs = Seq("abc", "", "aa", "Customer#000000042", "a😀b",
      null).toDF("s")
    val fromExpr = inputs
      .select(graft.functions.deletion_variant_hashes(expr("s"), 2).as("hs"))
      .as[Option[Seq[Long]]].collect().toSeq
    val expected = Seq("abc", "", "aa", "Customer#000000042", "a😀b")
      .map(s => Some(EditDistanceJoin.deletionVariantHashes(s, 2).toSeq)) :+ None
    assert(fromExpr == expected)
  }

  test("property: the running-hash generator equals its reference spelling") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Prop.forAll
    val genStr = for {
      n <- Gen.choose(0, 12)
      cs <- Gen.listOfN(n, Gen.oneOf("a", "b", "é", "😀"))
    } yield cs.mkString
    val prop = forAll(genStr, Gen.choose(0, 3)) { (s, k) =>
      val got = EditDistanceJoin.deletionVariantHashes(s, k)
      val want = deletionVariants(s, k).map(EditDistanceJoin.fnv1a64).distinct
      Prop(got.toSet == want.toSet && got.length == got.distinct.length)
        .label(s"s='$s' k=$k")
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(1000), prop)
    assert(res.passed, res.status.toString)
    assert(EditDistanceJoin.postingsOf(12, 3) == 1 + 12 + 66 + 220)
    assert(EditDistanceJoin.postingsOf(2, 3) == 4)
  }

  // The correctness heart of the SymSpell join, as a property: for ANY
  // string a and ANY b produced by <= k random edits of a, the two
  // <=k-deletion neighborhoods share a variant — so the equi-join on
  // variants can never miss a true pair (the exact levenshtein verify then
  // removes the collisions). Randomized over small alphabets to force
  // dense collisions, plus astral-plane characters to exercise the
  // code-point (not UTF-16 unit) deletion logic.
  test("property: <=k edits always leave a shared deletion variant") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Prop.forAll
    val alphabet = "ab😀"
    val genStr = for {
      n <- Gen.choose(0, 8)
      cs <- Gen.listOfN(n, Gen.oneOf(alphabet.toCharArray.map(_.toString) :+ "😀"))
    } yield cs.mkString
    def cps(s: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        out += new String(Character.toChars(cp)); i += Character.charCount(cp)
      }
      out.toArray
    }
    val genEdit = Gen.oneOf(0, 1, 2) // 0=del, 1=sub, 2=ins
    def applyEdit(s: String, kind: Int, pos: Int, ch: String): String = {
      val a = cps(s)
      kind match {
        case 0 if a.nonEmpty => (a.take(pos % a.length) ++ a.drop(pos % a.length + 1)).mkString
        case 1 if a.nonEmpty => a.updated(pos % a.length, ch).mkString
        case 2 => (a.take(pos % (a.length + 1)) ++ Array(ch) ++ a.drop(pos % (a.length + 1))).mkString
        case _ => s
      }
    }
    val k = 2
    val prop = forAll(genStr, Gen.listOfN(k, Gen.zip(genEdit, Gen.choose(0, 64),
        Gen.oneOf("a", "b", "😀")))) { (a, edits) =>
      val b = edits.foldLeft(a) { case (s, (kind, pos, ch)) => applyEdit(s, kind, pos, ch) }
      val shared = deletionVariants(a, k).toSet
        .intersect(deletionVariants(b, k).toSet)
      Prop(shared.nonEmpty).label(s"a='$a' b='$b'")
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  private lazy val tricky = Seq(
    (1L, "abcdef"), (2L, "abcdxf"), (3L, "bcdef"),   // sub / del
    (4L, "abcdefgh"), (5L, "xabcdefg"),              // shift (ins+del)
    (6L, ""), (7L, "a"), (8L, "ab"),
    (9L, "Müller GmbH"), (10L, "Muller GmbH"),       // unicode sub
    (11L, "x😀y"), (12L, "xy"),            // astral-plane deletion
    (13L, "x😁y")                          // astral-plane sub
  ).toDF("id", "key")

  test("deletion-neighborhood strategy equals naive theta join (hand cases)") {
    val naive = EditDistanceJoin.pairs(tricky, "id", "key", 2, Naive)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val fast = EditDistanceJoin.pairs(tricky, "id", "key", 2, DeletionNeighborhood)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(fast == naive)
    assert(naive.contains((1L, 1L)), "reflexive pair is included (solutionThree semantics)")
    assert(naive.contains((1L, 2L)) && naive.contains((1L, 3L)))
    assert(naive.contains((4L, 5L)), "insertion+deletion shift within k")
    // levenshtein counts code points: these are 1-edit pairs and the
    // deletion neighborhood must find them too (UTF-16-unit deletion
    // would miss the surrogate-pair cases)
    assert(naive.contains((11L, 12L)) && naive.contains((11L, 13L)))
  }

  test("deletion-neighborhood strategy equals naive on sf0.001 customer") {
    val c = Tables.customer(spark, sf0001)
    val naive = EditDistanceJoin.pairs(c, "c_custkey", "c_name", 2, Naive)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val fast = EditDistanceJoin.pairs(c, "c_custkey", "c_name", 2, DeletionNeighborhood)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(fast == naive && naive.size > c.count())
  }

  test("code-point deletions: astral-plane pairs found at k=1") {
    // lev("x😀y","xy") = 1 code point; a UTF-16-unit neighborhood needs 2
    // deletions for the surrogate pair and misses these at k=1
    val fast = EditDistanceJoin.pairs(tricky, "id", "key", 1, DeletionNeighborhood)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(fast.contains((11L, 12L)) && fast.contains((11L, 13L)))
    val naive = EditDistanceJoin.pairs(tricky, "id", "key", 1, Naive)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(fast == naive)
  }

  test("includeSelf=false drops reflexive pairs only") {
    val withSelf = EditDistanceJoin.pairs(tricky, "id", "key", 1)
    val without = EditDistanceJoin.pairs(tricky, "id", "key", 1, includeSelf = false)
    assert(withSelf.count() - without.count() == tricky.count())
  }

  test("linkedAggregate is deterministic and sorted") {
    val agg = EditDistanceJoin.linkedAggregate(tricky, "id", "key", 2)
    val row = agg.filter($"id" === 1L).collect().head
    assert(row.getAs[String]("linked_keys") == "abcdef,abcdefgh,abcdxf,bcdef,xabcdefg")
    assert(row.getAs[Long]("n_linked") == 5L)
  }

  // The duplicate-key skew guard (halfIdPairs Scaladoc): the variant join
  // runs over DISTINCT keys, id pairs are rebuilt by group expansion, and
  // intra-group (identical-key) pairs bypass the variant machinery
  // entirely. These fixtures flood one key — dedup's common case — and
  // pin that the guarded plan still produces EXACTLY the naive result.
  test("duplicate-key skew guard: parity with naive on a flooded fixture") {
    val rows = (1L to 40L).map(i => (i, "abcdef")) ++ Seq(
      (41L, "abcdxf"), (42L, "bcdef"), (43L, "zzzz"),
      (44L, "abcdef"),               // duplicate landing after other keys
      (45L, null.asInstanceOf[String])) ++ // null keys pair with nothing
      (46L to 50L).map(i => (i, "abcd"))
    val df = rows.toDF("id", "key")
    val naive = EditDistanceJoin.pairs(df, "id", "key", 2, Naive)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val fast = EditDistanceJoin.pairs(df, "id", "key", 2, DeletionNeighborhood)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(fast == naive)
    // the flood's intra-group pairs are all present (41 copies of
    // "abcdef" -> both directions + reflexive = 41*41 id pairs among them)
    val flood = ((1L to 40L) :+ 44L).toSet
    assert(fast.count { case (a, b) => flood(a) && flood(b) } == 41 * 41)
    // and the aggregate built on the same core agrees with the naive one
    val aggNaive = EditDistanceJoin.linkedAggregate(df, "id", "key", 2, Naive)
      .as[(Long, Long, String)].collect().toSet
    val aggFast = EditDistanceJoin.linkedAggregate(df, "id", "key", 2)
      .as[(Long, Long, String)].collect().toSet
    assert(aggFast == aggNaive)
  }

  test("duplicate-key skew guard: pairsAgainst parity on a flooded dirty side") {
    val dirty = ((1L to 30L).map(i => (i, "Mcrosoft")) ++ Seq(
      (31L, "Microsoft"), (32L, "Goggle"), (33L, "zzzzz"),
      (34L, null.asInstanceOf[String]))).toDF("did", "dname")
    val dict = Seq((10L, "Microsoft"), (11L, "Google"), (12L, "Apple"))
      .toDF("cid", "cname")
    val got = EditDistanceJoin.pairsAgainst(dirty, "did", "dname",
        dict, "cid", "cname", 1)
      .select("left_id", "right_id", "dist")
      .as[(Long, Long, Int)].collect().toSet
    val naive = dirty.as("d").join(dict.as("c"),
        levenshtein($"d.dname", $"c.cname") <= 1)
      .select($"d.did", $"c.cid", levenshtein($"d.dname", $"c.cname"))
      .as[(Long, Long, Int)].collect().toSet
    assert(got == naive)
    // every flooded copy matched, and the exact hit is dist 0
    assert(got.count(_._2 == 10L) == 31 && got.contains((31L, 10L, 0)))
  }

  test("bestAgainst picks min dist, breaks ties on min right_id, drops unmatched") {
    val dirty = Seq(
      (1L, "spark"),   // dist-1 ties: "sparks"(10) and "spank"(11) -> 10 wins
      (2L, "flink"),   // exact hit (dist 0) beats "blink" at 1
      (3L, "zzzzz")    // no match within 1 -> no row
    ).toDF("did", "dname")
    val dict = Seq(
      (11L, "spank"), (10L, "sparks"), (12L, "parquet"),
      (13L, "flink"), (14L, "blink")
    ).toDF("cid", "cname")
    val got = EditDistanceJoin.bestAgainst(dirty, "did", "dname",
        dict, "cid", "cname", 1)
      .select("left_id", "right_id", "dist")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 10L, 1), (2L, 13L, 0)))
    // one row per matched left id even when the dirty side is flooded
    val flooded = dirty.unionByName(
      (100L to 140L).map(i => (i, "spark")).toDF("did", "dname"))
    val best = EditDistanceJoin.bestAgainst(flooded, "did", "dname",
      dict, "cid", "cname", 1)
    assert(best.count() == 43 &&
      best.groupBy("left_id").count().filter($"count" > 1).isEmpty)
  }

  test("pairsAgainst equals the naive cross-table levenshtein join") {
    val dirty = Seq(
      (1L, "spark"),     // 1 del from "sparks", 1 sub from "spank": both match
      (2L, "paruqet"),   // transposition = 2 edits from "parquet": NO match at k=1
      (3L, "flink"),     // exact dictionary hit (dist 0) + "blink" at 1
      (4L, "zzzzz")      // matches nothing
    ).toDF("did", "dname")
    val dict = Seq(
      (10L, "sparks"), (11L, "spank"), (12L, "parquet"),
      (13L, "flink"), (14L, "blink")
    ).toDF("cid", "cname")
    val got = EditDistanceJoin.pairsAgainst(dirty, "did", "dname",
        dict, "cid", "cname", 1)
      .select("left_id", "right_id", "dist")
      .as[(Long, Long, Int)].collect().toSet
    val naive = dirty.as("d").join(dict.as("c"),
        levenshtein($"d.dname", $"c.cname") <= 1)
      .select($"d.did", $"c.cid", levenshtein($"d.dname", $"c.cname"))
      .as[(Long, Long, Int)].collect().toSet
    assert(got == naive)
    assert(got == Set((1L, 10L, 1), (1L, 11L, 1), (3L, 13L, 0), (3L, 14L, 1)))
    // and on real data: every 10th customer name, one char deleted, maps
    // back to (at least) its own original at distance 1
    val c = Tables.customer(spark, sf0001)
    val mangled = c.filter($"c_custkey" % 10 === 0)
      .select($"c_custkey".as("did"),
        expr("concat(substring(c_name, 1, CAST((c_custkey DIV 10) % length(c_name) AS INT)), " +
          "substring(c_name, CAST((c_custkey DIV 10) % length(c_name) AS INT) + 2))").as("dname"))
    val back = EditDistanceJoin.pairsAgainst(mangled, "did", "dname",
        c.select($"c_custkey", $"c_name"), "c_custkey", "c_name", 1)
    val selfHits = back.filter($"left_id" === $"right_id").count()
    assert(selfHits == mangled.count())
  }

  test("pairsAgainstIndex: publish/serve roundtrip equals pairsAgainst; maxDist contract") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("left_id", "left_key", "right_id", "right_key", "dist")
        .as[(Long, String, Long, String, Int)].collect().toSet
    val c = Tables.customer(spark, sf0001)
    val dict = c.select($"c_custkey", $"c_name")
    val mangled = c.filter($"c_custkey" % 10 === 0)
      .select($"c_custkey".as("did"),
        expr("concat(substring(c_name, 1, CAST((c_custkey DIV 10) % length(c_name) AS INT)), " +
          "substring(c_name, CAST((c_custkey DIV 10) % length(c_name) AS INT) + 2))").as("dname"))
    val dir = java.nio.file.Files.createTempDirectory("varidx").toString
    val tbl = "graft_spec_varidx"
    EditDistanceJoin.writeVariantIndexBucketed(dict, "c_custkey", "c_name", 2,
      dir, tbl)
    val direct2 = rows(EditDistanceJoin.pairsAgainst(
      mangled, "did", "dname", dict, "c_custkey", "c_name", 2))
    val served2 = rows(EditDistanceJoin.pairsAgainstIndexBucketed(
      mangled, "did", "dname", 2, tbl))
    assert(served2 == direct2)
    assert(served2.nonEmpty)
    // serving a SMALLER maxDist against the bigger index is exact too
    // (extra standing postings only add candidates; the band + verify
    // tighten on the serve-time distance)
    val direct1 = rows(EditDistanceJoin.pairsAgainst(
      mangled, "did", "dname", dict, "c_custkey", "c_name", 1))
    val served1 = rows(EditDistanceJoin.pairsAgainstIndexBucketed(
      mangled, "did", "dname", 1, tbl))
    assert(served1 == direct1)
    // a LARGER one needs postings the index never generated: refused
    val e = intercept[IllegalArgumentException] {
      EditDistanceJoin.pairsAgainstIndexBucketed(mangled, "did", "dname", 3, tbl)
    }
    assert(e.getMessage.contains("maxDist=3"))

    // reps form: same verified (left_id, right_key) matches, right side
    // collapsed to the key's representative (min right id)
    val reps = EditDistanceJoin.repsAgainstIndexBucketed(
        mangled, "did", "dname", 2, tbl)
      .select("left_id", "right_rep_id", "right_key", "dist")
      .as[(Long, Long, String, Int)].collect().toSet
    val pairs2 = EditDistanceJoin.pairsAgainstIndexBucketed(
        mangled, "did", "dname", 2, tbl)
      .select("left_id", "right_id", "right_key", "dist")
      .as[(Long, Long, String, Int)].collect()
    val collapsed = pairs2.groupBy(r => (r._1, r._3, r._4))
      .map { case ((lid, rkey, d), rows) => (lid, rows.map(_._2).min, rkey, d) }
      .toSet
    assert(reps == collapsed)
    Seq("postings", "keys", "members", "meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${tbl}_$t"))
  }

  // The published max_dist is a sidecar the publish rewrites: a republish
  // at a smaller maxDist over the same dir and tables must bind every
  // later serve to the NEW bound, not the one the dir was first built at.
  test("variant index republished at a smaller maxDist refuses a serve at the old one") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("left_id", "right_id", "dist")
        .as[(Long, Long, Int)].collect().toSet
    val c = Tables.customer(spark, sf0001)
    val dict = c.select($"c_custkey", $"c_name")
    val batch = c.filter($"c_custkey" % 10 === 0)
      .select($"c_custkey".as("did"), $"c_name".as("dname"))
    val dir = java.nio.file.Files.createTempDirectory("varidx_repub").toString
    val tbl = "graft_spec_varidx_repub"
    try {
      EditDistanceJoin.writeVariantIndexBucketed(dict, "c_custkey", "c_name",
        2, dir, tbl)
      assert(rows(EditDistanceJoin.pairsAgainstIndexBucketed(
        batch, "did", "dname", 2, tbl)).nonEmpty)
      EditDistanceJoin.writeVariantIndexBucketed(dict, "c_custkey", "c_name",
        1, dir, tbl)
      assert(graft.operators.StandingIndex.listDataFiles(spark, s"$dir/meta")
        .size == 1)
      val e = intercept[IllegalArgumentException] {
        EditDistanceJoin.pairsAgainstIndexBucketed(batch, "did", "dname", 2, tbl)
      }
      assert(e.getMessage.contains("<=1-deletion postings") &&
        e.getMessage.contains("maxDist=2"), e.getMessage)
      intercept[IllegalArgumentException] {
        EditDistanceJoin.repsAgainstIndexBucketed(batch, "did", "dname", 2, tbl)
      }
      // at the republished bound it serves exactly
      assert(rows(EditDistanceJoin.pairsAgainstIndexBucketed(
          batch, "did", "dname", 1, tbl)) ==
        rows(EditDistanceJoin.pairsAgainst(
          batch, "did", "dname", dict, "c_custkey", "c_name", 1)))
    } finally Seq("postings", "keys", "members")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${tbl}_$t"))
  }

  // A relative publish dir resolves under the warehouse dir for the
  // catalog tables; the max_dist sidecar must land beside them, where
  // the serve looks for it, not under the working dir.
  test("variant index published under a relative dir serves: the sidecar sits beside its tables") {
    val c = Tables.customer(spark, sf0001)
    val dict = c.select($"c_custkey", $"c_name")
    val batch = c.filter($"c_custkey" % 10 === 0)
      .select($"c_custkey".as("did"), $"c_name".as("dname"))
    val rel = s"graft_spec_relvar_${System.nanoTime()}"
    val tbl = "graft_spec_varidx_rel"
    try {
      EditDistanceJoin.writeVariantIndexBucketed(dict, "c_custkey", "c_name",
        1, rel, tbl)
      assert(!new java.io.File(rel).exists(), s"$rel written under the working dir")
      assert(EditDistanceJoin.pairsAgainstIndexBucketed(
        batch, "did", "dname", 1, tbl).count() > 0)
    } finally if (spark.catalog.tableExists(s"${tbl}_postings")) {
      val root = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
          s"${tbl}_postings")).location).getParent
      Seq("postings", "keys", "members")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${tbl}_$t"))
      root.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(root, true)
    }
  }

  test("bucketed variant index: append equals monolithic rebuild, no index-side shuffle") {
    import org.apache.spark.sql.functions.{col, lit}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("left_id", "left_key", "right_id", "right_key", "dist")
        .as[(Long, String, Long, String, Int)].collect().toSet
    val c = Tables.customer(spark, sf0001)
    // day-0 dictionary; day-1 slice re-registers the %7==0 names under
    // NEW (shifted) ids, plus one row whose key ALREADY stands in day 0
    // under a fresh id — the append must route it to members only
    // (a second keys/postings row for an existing key would double every
    // one of that key's matches; set-equality with the monolithic build
    // below proves it doesn't)
    val dict0 = c.filter($"c_custkey" % 7 =!= 0).select($"c_custkey", $"c_name")
    val existingKey = dict0.orderBy($"c_custkey").limit(1)
      .select(lit(990000001L).as("c_custkey"), $"c_name")
    val day1 = c.filter($"c_custkey" % 7 === 0)
      .select(($"c_custkey" + 1000000L).as("c_custkey"), $"c_name")
      .unionByName(existingKey)
    val mangled = c.filter($"c_custkey" % 10 === 0)
      .select($"c_custkey".as("did"),
        expr("concat(substring(c_name, 1, CAST((c_custkey DIV 10) % length(c_name) AS INT)), " +
          "substring(c_name, CAST((c_custkey DIV 10) % length(c_name) AS INT) + 2))").as("dname"))
    val dir = java.nio.file.Files.createTempDirectory("graft_bvidx").toString
    EditDistanceJoin.writeVariantIndexBucketed(dict0, "c_custkey", "c_name",
      1, s"$dir/grown", "graft_spec_vidx")
    EditDistanceJoin.appendVariantIndexBucketed(day1, "c_custkey", "c_name",
      "graft_spec_vidx")
    val viaAppend = EditDistanceJoin.pairsAgainstIndexBucketed(
      mangled, "did", "dname", 1, "graft_spec_vidx")
    EditDistanceJoin.writeVariantIndexBucketed(dict0.unionByName(day1),
      "c_custkey", "c_name", 1, s"$dir/mono", "graft_spec_vidx_mono")
    val viaMono = rows(EditDistanceJoin.pairsAgainstIndexBucketed(
      mangled, "did", "dname", 1, "graft_spec_vidx_mono"))
    assert(rows(viaAppend) == viaMono)
    assert(viaMono.nonEmpty, "fixture must actually match something")
    // matches genuinely REACH the appended slice: a %70==0 customer's
    // mangled name has its original ONLY under the appended day-1 id
    // (the %7==0 originals are absent from day 0), so without the
    // appended postings these rows match nothing
    assert(viaMono.exists(_._3 >= 1000000L),
      "no match reaches the appended day-1 ids; the append test is vacuous")
    // reps parity too: appended novel keys carry min-batch-id gids =
    // the monolithic gids (batch ids sit above standing ids here), and
    // the planted existing key keeps its standing rep on both sides
    val repsAppend = EditDistanceJoin.repsAgainstIndexBucketed(
        mangled, "did", "dname", 1, "graft_spec_vidx")
      .select("left_id", "right_rep_id", "right_key", "dist")
      .as[(Long, Long, String, Int)].collect().toSet
    val repsMono = EditDistanceJoin.repsAgainstIndexBucketed(
        mangled, "did", "dname", 1, "graft_spec_vidx_mono")
      .select("left_id", "right_rep_id", "right_key", "dist")
      .as[(Long, Long, String, Int)].collect().toSet
    assert(repsAppend == repsMono)
    // the serve join still consumes the bucket layout after the append:
    // the index scan is bucketed and the only __v exchange is the batch
    // side's — a second one would mean the standing postings re-shuffle
    // on every serve. This 15-row batch takes the driver path by
    // default, whose result is a local relation; the distributed plan
    // is pinned here, the driver path's probes in the driver-path test.
    val plan = ConnectedComponents.onStarLoop(
        EditDistanceJoin.pairsAgainstIndexBucketed(
          mangled, "did", "dname", 1, "graft_spec_vidx"))
      .queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("Bucketed: true"), plan)
    assert(plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(__v")) == 1, plan)
    // the append's novelty anti join consumes the members table's KEY
    // bucketing: the standing side must contribute a bucketed scan with
    // no exchange and no broadcast (either would be corpus-sized work on
    // every nightly append — the exact cost the verb exists to avoid);
    // the only exchange in the plan is the bounded batch side's
    // (a LeftAnti join can only broadcast its RIGHT side — the members
    // table here — so no-BroadcastExchange pins exactly that; bucketing
    // supplies the members side's distribution, so its scan needs no
    // exchange either)
    val novelPlan = EditDistanceJoin.novelKeysAgainstMembers(
        day1.select($"c_custkey".as("id"), $"c_name".as("key")),
        "graft_spec_vidx")
      .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(novelPlan.contains("Bucketed: true"), novelPlan)
    assert(!novelPlan.contains("BroadcastExchange"), novelPlan)
    Seq("graft_spec_vidx", "graft_spec_vidx_mono").foreach { p =>
      Seq("postings", "keys", "members", "meta").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS ${p}_$t"))
    }
  }

  // The rep-id edge case of appendVariantIndexBucketed, as a PROPERTY
  // (the Scaladoc at EditDistanceJoin.appendVariantIndexBucketed
  // documents it in prose; this keeps it true under refactors): for ANY
  // split of (id, key) rows into a standing corpus and a new-ids batch —
  // including the adversarial orderings where a batch id UNDERCUTS a
  // standing key's minimum, which day-N batches normally never do —
  //  (1) the id-level serve after append is IDENTICAL to a monolithic
  //      rebuild over corpus ∪ batch, and
  //  (2) the reps serve equals the monolithic one after remapping each
  //      key's rep through the documented rule: an existing key keeps
  //      its STANDING min id (even when a batch id undercuts it), a
  //      novel key gets its batch min — so every rep is a true member
  //      of its key's group and the divergence from the monolithic gid
  //      (= global min) is EXACTLY the undercut case, nothing else.
  // Fixed seed so the undercut-coverage assertion below is stable.
  test("property: variant append reps diverge from monolithic ONLY by the documented undercut rule") {
    import org.apache.spark.sql.functions.col
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Prop.forAll
    val genKey = for {
      n <- Gen.choose(3, 6)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b'))
    } yield cs.mkString
    // ids drawn from one shared pool and RANDOMLY split between corpus
    // and batch — batch ids land below standing minima about half the
    // time, which is the adversarial ordering under test
    val genScenario = for {
      keys <- Gen.listOfN(6, genKey).map(_.distinct)
      nCorpus <- Gen.choose(2, 8)
      nBatch <- Gen.choose(1, 6)
      ids <- Gen.pick(nCorpus + nBatch, 1L to 500L)
      corpusKeys <- Gen.listOfN(nCorpus, Gen.oneOf(keys))
      batchKeys <- Gen.listOfN(nBatch, Gen.oneOf(keys))
    } yield (ids.take(nCorpus).zip(corpusKeys),
             ids.drop(nCorpus).zip(batchKeys))
    var undercutSeen = 0
    var sample = 0
    val prop = forAll(genScenario) { case (corpus, batch) =>
      sample += 1
      val pfx = s"graft_spec_vprop_$sample"
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_vprop_$sample").toString
      try {
        val cDf = corpus.toSeq.toDF("id", "key")
        val bDf = batch.toSeq.toDF("id", "key")
        val uDf = cDf.unionByName(bDf)
        EditDistanceJoin.writeVariantIndexBucketed(cDf, "id", "key", 1,
          s"$dir/a", pfx, numBuckets = 2)
        EditDistanceJoin.appendVariantIndexBucketed(bDf, "id", "key", pfx)
        EditDistanceJoin.writeVariantIndexBucketed(uDf, "id", "key", 1,
          s"$dir/m", s"${pfx}_mono", numBuckets = 2)
        // probe with every distinct key of the universe: dist-0 self
        // matches plus whatever dist-1 neighbors the alphabet induces
        val probe = uDf.select(col("id").as("did"), col("key").as("dname"))
          .distinct()
        def pairs(t: String) = EditDistanceJoin.pairsAgainstIndexBucketed(
            probe, "did", "dname", 1, t)
          .select("left_id", "right_id", "right_key", "dist")
          .as[(Long, Long, String, Int)].collect().toSet
        def reps(t: String) = EditDistanceJoin.repsAgainstIndexBucketed(
            probe, "did", "dname", 1, t)
          .select("left_id", "right_rep_id", "right_key", "dist")
          .as[(Long, Long, String, Int)].collect().toSet
        val corpusMin = corpus.groupBy(_._2).map { case (k, rs) =>
          k -> rs.map(_._1).min }
        val batchMin = batch.groupBy(_._2).map { case (k, rs) =>
          k -> rs.map(_._1).min }
        // the documented rule, computed independently of the engine
        val expectedRep: String => Long =
          k => corpusMin.getOrElse(k, batchMin(k))
        val monoRep: String => Long =
          k => math.min(corpusMin.getOrElse(k, Long.MaxValue),
                        batchMin.getOrElse(k, Long.MaxValue))
        if (corpusMin.exists { case (k, m) =>
              batchMin.get(k).exists(_ < m) }) undercutSeen += 1
        val idParity = pairs(pfx) == pairs(s"${pfx}_mono")
        val repsApp = reps(pfx)
        val repsMono = reps(s"${pfx}_mono")
        val repRule = repsApp == repsMono.map { case (l, _, k, d) =>
          (l, expectedRep(k), k, d) }
        // sanity on the oracle itself: monolithic reps follow global min
        val monoRule = repsMono.forall { case (_, r, k, _) => r == monoRep(k) }
        (Prop(idParity) :| "id-level serve must be append-invariant") &&
          (Prop(repRule) :| "reps must diverge only by the undercut rule") &&
          (Prop(monoRule) :| "monolithic rep must be the global min")
      } finally {
        Seq(pfx, s"${pfx}_mono").foreach { p =>
          Seq("postings", "keys", "members", "meta").foreach(t =>
            spark.sql(s"DROP TABLE IF EXISTS ${p}_$t"))
        }
      }
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(8)
        .withInitialSeed(org.scalacheck.rng.Seed(42L)), prop)
    assert(res.passed, res.status.toString)
    assert(undercutSeen >= 1,
      s"no sample exercised the undercut case (seen=$undercutSeen) — " +
        "the property run was vacuous on its edge case")
  }
}
