package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.MetadataBuilder
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TableManifest
import graft.sources.TableCatalog
import graft.workflow.Jobs

/** Parquet schema inference on the driver: [[TableCatalog.readParquet]]
  * infers exactly the schema `spark.read.parquet` infers, fails the
  * same way, and plans with no Spark job. */
class DriverFooterSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfDir
  /** The sf0.01 corpus, beside the suites' default scale. */
  private val sf01 = new java.io.File(sf).getParent + "/sf0.01"

  private def fs = new Path("/").getFileSystem(spark.sessionState.newHadoopConf())

  /** The one data file of a single-file parquet directory. */
  private def dataFile(dir: String): Path = {
    val files = fs.listStatus(new Path(dir))
      .filter(_.getPath.getName.endsWith(".parquet"))
    assert(files.length == 1, files.map(_.getPath).toSeq)
    files.head.getPath
  }

  private def assertSameSchema(paths: String*): Unit = {
    val ours = TableCatalog.readParquet(spark, paths: _*).schema
    val sparks = spark.read.parquet(paths: _*).schema
    assert(ours == sparks, s"${paths.mkString(",")}: $ours vs $sparks")
    assert(ours.json == sparks.json)
  }

  test("load(...).schema and exists plan with no Spark job; Spark's own " +
      "read runs one") {
    val (schema, loadJobs) =
      SparkJobs.during(spark)(TableCatalog.load(spark, sf, "lineitem").schema)
    assert(schema.fieldNames.contains("l_orderkey"))
    assert(loadJobs == 0, "load(...).schema ran a job")
    val (there, existsJobs) =
      SparkJobs.during(spark)(TableCatalog.exists(spark, sf, "orders"))
    assert(there)
    assert(existsJobs == 0, "exists ran a job")
    val (_, sparkJobs) = SparkJobs.during(spark)(
      spark.read.parquet(TableCatalog.path(sf, "orders")).schema)
    assert(sparkJobs == 1)
  }

  test("schema identity: all ten sf0.01 corpus tables") {
    TableCatalog.tableNames.foreach(t =>
      assertSameSchema(TableCatalog.path(sf01, t)))
  }

  test("schema identity: an empty frame, a partitionBy directory and " +
      "map, decimal, nested, timestamp_ntz and field-metadata columns") {
    val empty = s"${tmpDir("dfempty")}/t"
    spark.range(0).selectExpr("id", "cast(id as string) s")
      .write.parquet(empty)
    assertSameSchema(empty)
    assert(TableCatalog.readParquet(spark, empty).columns.toSeq ==
      Seq("id", "s"))

    val parted = s"${tmpDir("dfpart")}/t"
    spark.range(6).selectExpr("id", "id % 3 as p", "cast(id as string) s")
      .write.partitionBy("p").parquet(parted)
    assertSameSchema(parted)

    val typed = s"${tmpDir("dftyped")}/t"
    val meta = new MetadataBuilder().putString("comment", "a note")
      .putLong("width", 20L).build()
    spark.sql(
      """SELECT map('a', 1, 'b', 2) AS m,
        |  CAST(12.3456 AS DECIMAL(20, 4)) AS d,
        |  CAST(1.5 AS DECIMAL(5, 2)) AS small_d,
        |  named_struct('x', 1L, 'ys', array(named_struct('z', 'q'))) AS s,
        |  array(array(1, 2), array(3)) AS a,
        |  map('k', named_struct('v', 1.5D)) AS ms,
        |  TIMESTAMP_NTZ'2024-01-02 03:04:05' AS t_ntz,
        |  TIMESTAMP'2024-01-02 03:04:05' AS t,
        |  DATE'2024-01-02' AS dt,
        |  X'0102' AS bin""".stripMargin)
      .withColumn("noted", col("d").as("noted", meta))
      .write.parquet(typed)
    assertSameSchema(typed)
    assert(TableCatalog.readParquet(spark, typed).schema("noted").metadata ==
      meta)
  }

  test("schema identity: _common_metadata wins, else the path-first " +
      "file, and multi-path reads pick as Spark does") {
    import spark.implicits._
    val older = s"${tmpDir("dfold")}/t"
    Seq((1L, "a")).toDF("id", "v1").write.parquet(older)
    val newer = s"${tmpDir("dfnew")}/t"
    Seq((2L, "b", 2.0)).toDF("id", "v1", "v2").write.parquet(newer)
    val other = s"${tmpDir("dfother")}/t"
    Seq(("x", 3)).toDF("name", "n").write.parquet(other)

    // two files, the path-first one holding the older schema
    val twoFile = tmpDir("dftwo")
    val conf = spark.sessionState.newHadoopConf()
    FileUtil.copy(fs, dataFile(older), fs, new Path(twoFile, "part-0.parquet"),
      false, conf)
    FileUtil.copy(fs, dataFile(newer), fs, new Path(twoFile, "part-1.parquet"),
      false, conf)
    assertSameSchema(twoFile)
    assert(TableCatalog.readParquet(spark, twoFile).columns.toSeq ==
      Seq("id", "v1"))

    // a summary file is preferred over every data file
    val summarized = s"${tmpDir("dfsummary")}/t"
    Seq((1L, "a")).toDF("id", "v1").write.parquet(summarized)
    FileUtil.copy(fs, dataFile(other), fs,
      new Path(summarized, "_common_metadata"), false, conf)
    assertSameSchema(summarized)
    assert(TableCatalog.readParquet(spark, summarized).columns.toSeq ==
      Seq("name", "n"))

    assertSameSchema(newer, older)
    assertSameSchema(older, other)
  }

  test("mergeSchema still merges: loadEvolved reads the union schema") {
    import spark.implicits._
    val dir = s"${tmpDir("dfmerge")}/t"
    Seq((1L, "a")).toDF("id", "v1").write.mode("append").parquet(dir)
    Seq((2L, "b", 2.0)).toDF("id", "v1", "v2").write.mode("append")
      .parquet(dir)
    val merged = TableCatalog.loadEvolved(spark, dir).schema
    assert(merged.fieldNames.toSet == Set("id", "v1", "v2"))
    assert(merged ==
      spark.read.option("mergeSchema", "true").parquet(dir).schema)
  }

  test("a missing path, an empty directory and a corrupt footer fail as " +
      "Spark's read fails; exists is false") {
    val root = tmpDir("dffail")
    val empty = s"$root/empty.parquet"
    fs.mkdirs(new Path(empty))
    val corrupt = s"$root/corrupt.parquet"
    val out = fs.create(new Path(corrupt, "part-0.parquet"))
    try out.write("not a parquet file".getBytes("UTF-8")) finally out.close()
    Seq(s"$root/missing.parquet", empty, corrupt).foreach { p =>
      val ours = intercept[Exception](TableCatalog.readParquet(spark, p).schema)
      val sparks = intercept[Exception](spark.read.parquet(p).schema)
      assert(ours.getClass == sparks.getClass, s"$p: $ours vs $sparks")
    }
    val ignoring = spark.read.option("ignoreCorruptFiles", "true")
    val ours = intercept[Exception](
      ignoring.format(TableCatalog.ParquetSource).load(corrupt).schema)
    val sparks = intercept[Exception](ignoring.parquet(corrupt).schema)
    assert(ours.getClass == sparks.getClass, s"$ours vs $sparks")
    Seq("missing", "empty", "corrupt").foreach(t =>
      assert(!TableCatalog.exists(spark, root, t), t))
  }

  test("exists on a missing table answers from one status call, with no " +
      "listing and no open") {
    CountingFileSystem.register(spark)
    val root = CountingFileSystem.path(tmpDir("dfexists"))
    CountingFileSystem.reset()
    assert(!TableCatalog.exists(spark, root, "missing"))
    assert(CountingFileSystem.listed.isEmpty, CountingFileSystem.listed)
    assert(CountingFileSystem.opened.isEmpty, CountingFileSystem.opened)
    assert(CountingFileSystem.statted.size == 1, CountingFileSystem.statted)
  }

  test("a second full_etl runs 14 Spark jobs") {
    val reg = Jobs.builtinRegistry(tmpDir("dfetl"))
    val cfg = Jobs.JobConfig("df", "full_etl", "full_etl", "2026-01-01",
      sfDir = sf)
    assert(Jobs.execute(spark, reg, cfg).status == "success")
    val (r, jobs) = SparkJobs.during(spark)(Jobs.execute(spark, reg, cfg))
    assert(r.status == "success", r.error)
    assert(jobs == 14, s"full_etl ran $jobs jobs")
  }

  test("an append with a stats column runs one Spark job: the write") {
    import spark.implicits._
    val t = s"${tmpDir("dfstats")}/t"
    TableManifest.publish(spark, t, Seq((1L, 1.0)).toDF("id", "v"),
      statsCol = Some("id"))
    val (_, jobs) = SparkJobs.during(spark)(TableManifest.append(spark, t,
      Seq((2L, 2.0), (5L, 3.0)).toDF("id", "v"), statsCol = Some("id")))
    assert(jobs == 1, s"append ran $jobs jobs")
    assert(TableManifest.read(spark, t).count() == 3L)
  }
}
