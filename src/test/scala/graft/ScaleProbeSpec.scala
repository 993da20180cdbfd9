package graft

import graft.tools.ScaleProbe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** ScaleProbe's replicator: the fixture dir it writes at R copies is
  * R times the base, copy 0 is the base verbatim, and the copies' keys
  * and salted text never collide, so a row swept over it faces R
  * independent copies of the base input.
  */
class ScaleProbeSpec extends SparkSpec {
  private val r = 3

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("graft_scale_rep").toString
    ScaleProbe.replicate(spark, sf0001, d, r)
    d
  }

  private def load(fx: String, name: String): DataFrame =
    if (name == "events") Tables.events(spark, fx) else Tables.load(spark, fx, name)

  /** Order-independent content hash: the sum of every row's xxhash64. */
  private def hash(df: DataFrame): BigDecimal =
    df.select(sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
      .first().getDecimal(0)

  private def distinct(df: DataFrame, c: String): Long =
    df.select(c).distinct().count()

  for ((name, keys, salt) <- ScaleProbe.replicated) {
    test(s"$name: R copies, copy 0 verbatim, keys and salted text disjoint") {
      val base = load(sf0001, name)
      val rep = load(dir, name)
      assert(rep.schema == base.schema)
      assert(rep.count() == r * base.count())
      assert(hash(rep.filter(col(keys.head) < ScaleProbe.CopyOffset)) == hash(base))
      for (k <- keys) assert(distinct(rep, k) == r * distinct(base, k), k)
      for ((c, _) <- salt) assert(distinct(rep, c) == r * distinct(base, c), c)
    }
  }

  test("the tables it does not replicate pass through unchanged") {
    val passed = Tables.all.filterNot(ScaleProbe.replicated.map(_._1).toSet)
    assert(passed.nonEmpty)
    for (name <- passed)
      assert(hash(Tables.load(spark, dir, name)) ==
        hash(Tables.load(spark, sf0001, name)), name)
  }

  test("Tables.events reads the replicated ts back as TimestampType") {
    assert(Tables.events(spark, dir).schema("ts").dataType == TimestampType)
  }
}
