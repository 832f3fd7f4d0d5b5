package graft

import org.apache.spark.sql.SparkSession

import graft.ops.TableManifest

/** One fixed sequence of every manifest verb on a fresh table under
  * args(0): the wire-form witness. Run it against two builds and diff
  * their normalized manifests (see manifest_sequence.sh). 19 commits, so
  * the head hint is written too (at seq 10). */
object ManifestSequence {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val t = s"${args(0)}/t"
    def rows(ids: Seq[Int], p: Int => String, seq: Long, tag: String) =
      ids.map(i => (i.toLong, p(i), seq, s"$tag$i", i * 1.5))
        .toDF("id", "p", "seq", "tag", "v")
    val ab = (i: Int) => if (i % 2 == 0) "a" else "b"
    val xy = (i: Int) => if (i % 2 == 0) "x" else "y"
    val key = Seq("id")
    TableManifest.publish(spark, t, rows(0 until 20, ab, 1, "s").coalesce(2),
      Some("v"))
    TableManifest.append(spark, t, rows(20 until 30, ab, 1, "s"), Some(0L),
      statsCol = Some("v"))
    TableManifest.upsertDelta(spark, t, rows(5 until 10, ab, 2, "u"), key,
      "seq", "tag", 4, Some(1L))
    TableManifest.deleteRows(spark, t, Seq(3L, 25L).toDF("id"), key, Some(2L))
    TableManifest.compactDeltas(spark, t) // mixed layout: whole rewrite
    TableManifest.upsertBucketed(spark, t, rows(Seq(1, 2), ab, 3, "b"), key,
      "seq", "tag", 4, Some(3L)) // boots the layout
    TableManifest.upsertBucketed(spark, t, rows(Seq(4), ab, 4, "b"), key,
      "seq", "tag", 4, Some(4L)) // touched buckets only
    TableManifest.upsertBucketed(spark, t, rows(Nil, ab, 4, "b"), key,
      "seq", "tag", 4, Some(5L)) // watermark-only
    TableManifest.upsertBucketedDelta(spark, t, rows(Seq(6, 7), ab, 5, "d"),
      key, "seq", "tag", 4, Some(6L))
    TableManifest.compactDeltas(spark, t) // bucket-bounded fold
    TableManifest.compactDeltas(spark, t) // nothing to fold
    TableManifest.appendPartitioned(spark, t, rows(30 until 40, xy, 1, "p"),
      "p", Some(7L))
    TableManifest.dropPartitions(spark, t, "p", Seq("x"), Some(8L))
    TableManifest.dropPartitions(spark, t, "p", Seq("none"), Some(9L))
    TableManifest.rewrite(spark, t)(_.coalesce(1))
    TableManifest.enableColumnMapping(spark, t)
    TableManifest.renameColumn(spark, t, "tag", "label")
    TableManifest.append(spark, t,
      rows(40 until 45, ab, 1, "m").withColumnRenamed("tag", "label"),
      Some(10L))
    println(TableManifest.optimizeManifested(spark, t, 1L << 30))
    TableManifest.commitWatermark(spark, t, "wm", 9L)
    println(s"rows=${TableManifest.read(spark, t).count()} " +
      s"versions=${TableManifest.versions(spark, t).mkString(",")}")
    spark.stop()
  }
}
