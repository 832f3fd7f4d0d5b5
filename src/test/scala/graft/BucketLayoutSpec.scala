package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TableManifest

/** The manifest's recorded bucket layout is the only witness a
  * bucketed upsert trusts: generation tags outlive the layout they were
  * hashed under. */
class BucketLayoutSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def rows(ids: Seq[Int], seq: Long): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, seq, s"s$seq-$i")).toDF("id", "seq", "tag")
  }

  test("a bucketed upsert after a delta commit under another bucket " +
      "count re-buckets the table instead of trusting the stale tags") {
    import spark.implicits._
    val tbl = tmpDir("bucketwitness") + "/t"
    val key = Seq("id")
    TableManifest.publish(spark, tbl, rows(0 until 40, 1))
    TableManifest.upsertBucketed(spark, tbl, rows(Seq(0), 2), key, "seq",
      "tag", 4)
    // a delta under 8 buckets drops the 4-way layout; every generation
    // stays tagged, under two different counts
    TableManifest.upsertDelta(spark, tbl, rows(Seq(1), 3), key, "seq",
      "tag", 8)
    assert(TableManifest.resolveHead(spark, tbl).get.snap.buckets.isEmpty)
    TableManifest.upsertBucketed(spark, tbl, rows(Seq(1, 2), 4), key, "seq",
      "tag", 8)
    val ids = TableManifest.read(spark, tbl).select("id").as[Long].collect()
    assert(ids.length == 40 && ids.distinct.length == 40,
      s"${ids.length} rows for ${ids.distinct.length} ids; repeated: " +
        ids.groupBy(identity).filter(_._2.length > 1).keys.mkString(","))
  }
}
