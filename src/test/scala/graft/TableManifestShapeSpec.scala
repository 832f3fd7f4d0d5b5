package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TableManifest

/** The manifest shape the writers produce is the only one the reader
  * accepts, and reads plan from it alone: older shapes are refused
  * loudly, scan construction lists no generation and opens no data
  * file, and the recorded schemas reproduce Spark's own `mergeSchema`
  * read. */
class TableManifestShapeSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def tmpTable(prefix: String): String = tmpDir(prefix) + "/t"

  private def causes(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString(" | ")

  test("parseSnapshotBody refuses every older manifest shape loudly, " +
      "naming the manifest and the missing piece") {
    val files = """"files":[["part-0.parquet",10]]"""
    val schema = """"schema":"{\"type\":\"struct\",\"fields\":[]}""""
    val g = "_gen-000001-aa"
    Seq(
      """{"generation":"_gen-000001-aa"}""" ->
        """no "generations" list""",
      s"""{"generations":["$g"],"batch":7}""" ->
        s"generation $g has no meta entry",
      s"""{"generations":["$g"],"meta":{"$g":{$files}}}""" ->
        s"meta entry of generation $g has no schema",
      s"""{"generations":["$g"],"buckets":4,"meta":{"$g":{$schema,$files}}}""" ->
        """"buckets" without "bucketkeys"""",
      s"""{"generations":["$g"],"bucketkeys":["id"],""" +
        s""""meta":{"$g":{$schema,$files}}}""" ->
        """"bucketkeys" without "buckets"""",
      s"""{"generations":["$g"],"columns":{"next":2,"cols":[[1,"id"]]},""" +
        s""""meta":{"$g":{$schema,$files}}}""" ->
        s"generation $g has no cols binding"
    ).foreach { case (body, missing) =>
      val e = intercept[IllegalStateException](
        TableManifest.parseSnapshotBody(body, "dir/_graft_manifest-000001.json"))
      assert(e.getMessage.contains("dir/_graft_manifest-000001.json") &&
        e.getMessage.contains(missing),
        s"$body: expected '$missing' in: ${e.getMessage}")
    }
    // the current shape of each still parses
    val ok = TableManifest.parseSnapshotBody(
      s"""{"generations":["$g"],"columns":{"next":2,"cols":[[1,"id"]]},""" +
        s""""meta":{"$g":{"cols":[[1,"id"]],$schema,$files}}}""", "ok")
    assert(ok.meta(g).cols == Seq(1 -> "id"))
  }

  test("read of a table whose head manifest lost its meta block fails " +
      "with the refusal, not a missing-key error") {
    import spark.implicits._
    val tbl = tmpTable("shapedisk")
    TableManifest.publish(spark, tbl, Seq((1L, "a")).toDF("k", "tag"))
    TableManifest.append(spark, tbl, Seq((2L, "b")).toDF("k", "tag"))
    val fs = new Path(tbl).getFileSystem(spark.sessionState.newHadoopConf())
    val head = fs.listStatus(new Path(tbl)).map(_.getPath)
      .filter(_.getName.startsWith("_graft_manifest-")).maxBy(_.getName)
    val body = {
      val in = fs.open(head)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val cut = body.indexOf(""","meta":""")
    assert(cut > 0, s"expected a meta block in $body")
    fs.delete(head, false)
    val out = fs.create(head, false)
    out.write((body.substring(0, cut) + "}").getBytes("UTF-8")); out.close()
    fs.listStatus(new Path(tbl)).foreach { e =>
      val n = e.getPath.getName
      if (n.startsWith("_graft_checkpoint-") || n == "_graft_last_checkpoint")
        fs.delete(e.getPath, false)
    }
    val e = intercept[IllegalStateException](TableManifest.read(spark, tbl))
    assert(e.getMessage.contains(head.getName) &&
      e.getMessage.contains("has no meta entry"), e.getMessage)
  }

  test("reads plan from the manifest alone: building read, " +
      "read(mergeSchema), readPruned and readVersion and their physical " +
      "plans lists no generation directory and opens no data file") {
    import spark.implicits._
    CountingFileSystem.register(spark)
    val dir = tmpTable("shapeio")
    TableManifest.publish(spark, dir,
      (0 until 200).map(i => (i.toLong, s"v$i")).toDF("k", "tag")
        .repartitionByRange(4, col("k")), statsCol = Some("k"))
    val v1 = TableManifest.versions(spark, dir).last
    TableManifest.append(spark, dir,
      Seq((500L, "late", 7)).toDF("k", "tag", "extra"), statsCol = Some("k"))
    TableManifest.deleteRows(spark, dir, Seq(3L).toDF("k"), Seq("k"))
    val tbl = CountingFileSystem.path(dir)
    def genIo(build: => DataFrame): Seq[String] = {
      CountingFileSystem.reset()
      build.queryExecution.sparkPlan
      (CountingFileSystem.listed.asScala ++ CountingFileSystem.opened.asScala)
        .filter(_.contains("/_gen-")).toSeq
    }
    Seq[(String, () => DataFrame)](
      "read" -> (() => TableManifest.read(spark, tbl)),
      "read(mergeSchema)" ->
        (() => TableManifest.read(spark, tbl, mergeSchema = true)),
      "readPruned" -> (() => TableManifest.readPruned(spark, tbl, "k", 10, 20)),
      "readVersion" -> (() => TableManifest.readVersion(spark, tbl, v1))
    ).foreach { case (verb, build) =>
      val io = genIo(build())
      assert(io.isEmpty, s"$verb touched generation data: $io")
    }
    // the counter is live: a directory read of one generation lists it
    // and opens a footer
    val g = TableManifest.currentGenerations(spark, dir).head
    assert(genIo(spark.read.parquet(s"$tbl/$g")).nonEmpty)
    // and the counted reads still return the table
    assert(TableManifest.read(spark, tbl, mergeSchema = true).count() == 200)
  }

  test("read(mergeSchema = true) equals Spark's directory mergeSchema " +
      "read over the same generations, in schema and rows; an " +
      "incompatible type pair still fails loudly") {
    import spark.implicits._
    val tbl = tmpTable("shapemerge")
    TableManifest.publish(spark, tbl,
      (0 until 4).map(i => (i.toLong, s"a$i")).toDF("k", "tag"))
    TableManifest.append(spark, tbl,
      (4 until 8).map(i => (i.toLong, s"b$i", i * 2)).toDF("k", "tag", "x"))
    TableManifest.append(spark, tbl,
      (8 until 12).map(i => (i.toLong, i * 0.5, s"c$i")).toDF("k", "y", "tag"))
    def canon(df: DataFrame): Seq[String] =
      df.select(concat_ws("|", df.columns.map(c => coalesce(col(c)
        .cast("string"), lit("∅"))): _*)).as[String].collect().sorted.toSeq
    val gens = TableManifest.currentGenerations(spark, tbl)
    val reference = spark.read.option("mergeSchema", "true")
      .parquet(gens.map(g => s"$tbl/$g"): _*)
    val merged = TableManifest.read(spark, tbl, mergeSchema = true)
    assert(merged.schema == reference.schema,
      s"${merged.schema.treeString} vs ${reference.schema.treeString}")
    assert(canon(merged) == canon(reference) && canon(merged).size == 12)
    // int in one generation, string in another
    val bad = tmpTable("shapemergebad")
    TableManifest.publish(spark, bad, Seq((1L, 1)).toDF("k", "v"))
    TableManifest.append(spark, bad, Seq((2L, "two")).toDF("k", "v"))
    val badGens = TableManifest.currentGenerations(spark, bad)
    val refErr = intercept[Exception](spark.read.option("mergeSchema", "true")
      .parquet(badGens.map(g => s"$bad/$g"): _*).collect())
    val e = intercept[Exception](
      TableManifest.read(spark, bad, mergeSchema = true))
    assert(causes(e).toLowerCase.contains("merge"),
      s"expected a merge failure, got: ${causes(e)} (reference: ${causes(refErr)})")
  }
}
