package graft

import java.nio.file.Files

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TableCatalog
import graft.workflow.{Jobs, Pipeline}

class WorkflowSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfDir

  private def tmpDir(): String = tmpDir("wf")

  test("truncate leaves an empty table with the source schema") {
    val work = tmpDir()
    Pipeline.copyTable(spark, sf, "supplier", work,
      org.apache.spark.sql.SaveMode.Overwrite)
    Pipeline.truncate(spark, work, "supplier")
    val after = TableCatalog.load(spark, work, "supplier")
    assert(after.count() == 0)
    assert(after.columns.contains("s_suppkey"))
  }

  test("copyTable append doubles the row count") {
    val work = tmpDir()
    val n1 = Pipeline.copyTable(spark, sf, "region", work,
      org.apache.spark.sql.SaveMode.Overwrite)
    val n2 = Pipeline.copyTable(spark, sf, "region", work)
    assert(n2 == 2 * n1)
  }

  test("backupAndValidate copies exactly the main count") {
    val work = tmpDir()
    Pipeline.copyTable(spark, sf, "nation", s"$work/main",
      org.apache.spark.sql.SaveMode.Overwrite)
    val n = Pipeline.backupAndValidate(spark, s"$work/main", "nation",
      s"$work/backup")
    assert(n == TableCatalog.load(spark, s"$work/main", "nation").count())
  }

  test("loadAndVerify writes and returns the loaded count") {
    val work = tmpDir()
    val df = TableCatalog.load(spark, sf, "customer")
    val n = Pipeline.loadAndVerify(df, work, "customer_out",
      Pipeline.NoopAlerter)
    assert(n == df.count())
  }

  test("incrementalLoad appends only rows past the high watermark") {
    val work = tmpDir()
    val o = TableCatalog.load(spark, sf, "orders")
    val first = o.filter(org.apache.spark.sql.functions.col("o_orderdate") <
      "1996-01-01")
    val n1 = Pipeline.incrementalLoad(spark, first, work, "orders_inc",
      "o_orderdate")
    assert(n1 == first.count(), "first run loads the full source")
    // re-running with the same source is a no-op: it appends no file,
    // not even the schema-only one Spark writes for an empty frame
    def files =
      new java.io.File(s"$work/orders_inc.parquet").list().sorted.toSeq
    val filesBefore = files
    assert(Pipeline.incrementalLoad(spark, first, work, "orders_inc",
      "o_orderdate") == 0)
    assert(files == filesBefore)
    // the full source appends exactly the rows past the watermark
    val n3 = Pipeline.incrementalLoad(spark, o, work, "orders_inc",
      "o_orderdate")
    assert(n1 + n3 == o.count())
    assert(TableCatalog.load(spark, work, "orders_inc").count() == o.count())
  }

  test("incrementalLoad runs its new rows once — one write, no count, no " +
      "cache — and returns exactly the rows it appended") {
    import org.apache.spark.sql.functions.{col, lit}
    val work = tmpDir()
    val o = TableCatalog.load(spark, sf, "orders")
    val old = col("o_orderdate") < "1996-01-01"
    // an empty source on the first run leaves no destination behind
    assert(Pipeline.incrementalLoad(spark, o.filter(lit(false)), work,
      "orders_inc", "o_orderdate") == 0)
    assert(!TableCatalog.exists(spark, work, "orders_inc"))
    Pipeline.incrementalLoad(spark, o.filter(old), work, "orders_inc",
      "o_orderdate")
    spark.catalog.clearCache()
    val (n, actions) = Actions.during(spark) {
      Pipeline.incrementalLoad(spark, o, work, "orders_inc", "o_orderdate")
    }
    val overSource = actions.filter(_.reads("/orders.parquet"))
    assert(overSource.map(_.name) == Seq("command"),
      s"actions over the source: ${overSource.map(_.name)}")
    assert(!actions.exists(_.name == "count"), actions.map(_.name))
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty, "incrementalLoad left a cache")
    assert(n == o.filter(!old).count())
    assert(TableCatalog.load(spark, work, "orders_inc").count() == o.count())
  }

  test("full_etl counts main once for backup and variance, reads back the " +
      "backup and the destination, and runs the q03 extract once") {
    val reg = Jobs.builtinRegistry(tmpDir())
    val cfg = Jobs.JobConfig("wf", "full_etl", "full_etl", "2026-01-01",
      sfDir = sf)
    val seeded = Jobs.execute(spark, reg, cfg) // first run: no backup
    assert(seeded.status == "success", seeded.error)
    val (r, actions) = Actions.during(spark)(Jobs.execute(spark, reg, cfg))
    assert(r.status == "success", r.error)
    assert(actions.count(_.name == "count") == 3, actions.map(_.name))
    assert(actions.count(_.reads("/lineitem.parquet")) == 1,
      "the q03 extract ran more than once")
    assert(r.rowsProcessed == seeded.rowsProcessed && r.rowsProcessed > 0)
    assert(r.variancePct.contains(0.0))
  }

  test("loadEvolved merges schema versions; old files read new columns null") {
    import spark.implicits._
    val dir = s"${tmpDir()}/staged"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v1")
      .write.mode("append").parquet(dir)
    Seq((3L, "c", 30.0)).toDF("id", "v1", "v2")
      .write.mode("append").parquet(dir)
    val merged = TableCatalog.loadEvolved(spark, dir)
    assert(merged.columns.toSet == Set("id", "v1", "v2"))
    val byId = merged.select("id", "v2").as[(Long, Option[Double])]
      .collect().toMap
    assert(byId(1L).isEmpty && byId(2L).isEmpty && byId(3L).contains(30.0))
    // the default (non-merging) read keeps whichever footer it sampled —
    // the evolved read is the only safe way to see the union schema
  }

  test("variance: reference guard prev==0 -> 0.0; symmetry of abs") {
    val prop = Prop.forAll(
      Gen.chooseNum(0L, 1000000L), Gen.chooseNum(0L, 1000000L)) {
      (cur: Long, prev: Long) =>
        val v = Pipeline.variancePct(cur, prev)
        if (prev == 0L) v == 0.0
        else v >= 0.0 && v == math.abs(cur - prev) * 100.0 / prev
    }
    assert(SCTest.check(SCTest.Parameters.default, prop).passed)
  }

  test("validateVariance rejects out-of-range thresholds") {
    intercept[IllegalArgumentException] {
      Pipeline.validateVariance(1, 1, thresholdPct = 101.0)
    }
  }

  test("conformTo selects, casts, reorders; fails loudly on missing columns") {
    import org.apache.spark.sql.types._
    val df = TableCatalog.load(spark, sf, "orders")
    val target = new StructType()
      .add("o_orderpriority", StringType)
      .add("o_orderkey", StringType) // cast long -> string
      .add("o_totalprice", DoubleType)
    val out = Pipeline.conformTo(df, target)
    assert(out.columns.toSeq ==
      Seq("o_orderpriority", "o_orderkey", "o_totalprice"))
    assert(out.schema("o_orderkey").dataType == StringType)
    intercept[IllegalArgumentException] {
      Pipeline.conformTo(df, new StructType().add("nope", StringType))
    }
  }

  test("showSample renders n rows without collecting the full result") {
    val s = graft.ops.Relational.showSample(
      TableCatalog.load(spark, sf, "region").orderBy("r_regionkey"), 3)
    assert(s.contains("r_name"), s)
    assert(s.contains("only showing top 3 rows"), s)
  }

  test("environment autodetect: k8s via env or token file, else local") {
    assert(GraftSession.detectMaster(Map.empty, _ => false) == "local[*]")
    assert(GraftSession.detectMaster(
      Map("KUBERNETES_SERVICE_HOST" -> "10.0.0.1",
        "KUBERNETES_SERVICE_PORT" -> "6443"), _ => false) ==
      "k8s://https://10.0.0.1:6443")
    assert(GraftSession.detectMaster(Map.empty, _ => true)
      .startsWith("k8s://"), "token file alone must flip to k8s")
  }

  test("RunJob CLI arg parsing") {
    val a = RunJob.parseArgs(Array("--job-type", "poc_etl",
      "--sf-dir", "/x", "--limit", "5"))
    assert(a == Map("job-type" -> "poc_etl", "sf-dir" -> "/x", "limit" -> "5"))
  }

  test("job config: inline JSON, file, precedence over flags, bad input") {
    val inline = RunJob.parseJobConfig(
      """{"type":"poc_etl","id":"j7","limit":5,"load_date":"2026-02-03"}""")
    assert(inline == Map("type" -> "poc_etl", "id" -> "j7",
      "limit" -> "5", "load_date" -> "2026-02-03"))
    val f = java.nio.file.Paths.get(tmpDir("cfg"), "job.json")
    Files.writeString(f,
      s"""{"type":"poc_etl","id":"file1","limit":3,"sf_dir":"$sf"}""")
    val cfg = RunJob.buildConfig(Map("job-config-file" -> f.toString,
      "job-id" -> "flag-id", "limit" -> "99"))
    assert(cfg.id == "file1" && cfg.jobType == "poc_etl")
    assert(cfg.limit.contains(3), "config file must win over flags")
    assert(cfg.sfDir == sf)
    intercept[Exception](RunJob.parseJobConfig("[1,2]"))
    // non-scalar fields are rejected, not silently dropped
    intercept[IllegalArgumentException](
      RunJob.parseJobConfig("""{"type":"poc_etl","limit":[5]}"""))
    // config-sourced type feeds the name default
    assert(RunJob.buildConfig(
      Map("job-config" -> """{"type":"poc_etl","id":"x","sf_dir":"/d"}"""))
      .name == "poc_etl")
  }

  test("config-file job runs end-to-end through the registry") {
    val f = java.nio.file.Paths.get(tmpDir("cfg"), "job.json")
    Files.writeString(f,
      s"""{"type":"poc_etl","id":"e2e","limit":7,"sf_dir":"$sf"}""")
    val cfg = RunJob.buildConfig(Map("job-config-file" -> f.toString))
    val r = Jobs.execute(spark, Jobs.builtinRegistry(tmpDir()), cfg)
    assert(r.status == "success" && r.rowsProcessed == 7)
  }

  test("JDBC write repartition heuristic matches the reference bounds") {
    assert(TableCatalog.writePartitions(10000) == 0)
    assert(TableCatalog.writePartitions(10001) == 1)
    assert(TableCatalog.writePartitions(50000) == 5)
    assert(TableCatalog.writePartitions(10000000) == 8)
  }

  test("s3 scheme normalization and SSE write options") {
    assert(TableCatalog.normalizeScheme("s3://bucket/p") == "s3a://bucket/p")
    assert(TableCatalog.normalizeScheme("/local/p") == "/local/p")
    assert(TableCatalog.writeOptions("s3://b/p") ==
      Map("ServerSideEncryption" -> "AES256"))
    assert(TableCatalog.writeOptions("/tmp/x").isEmpty)
    assert(TableCatalog.path("s3://b/p", "t") == "s3a://b/p/t.parquet")
  }

  test("connector seam: JDBC round-trip + pushdown SQL via embedded Derby") {
    val spec = graft.sources.SourceSpec("jdbc", options = Map(
      "url" -> s"jdbc:derby:${tmpDir()}/db;create=true",
      "driver" -> "org.apache.derby.jdbc.EmbeddedDriver"))
    val src = TableCatalog.load(spark, sf, "region")
    TableCatalog.writeTo(src, spec, "region_rt")
    val back = TableCatalog.readFrom(spark, spec, "region_rt")
    assert(back.count() == src.count())
    assert(back.columns.map(_.toLowerCase).sorted.toSeq ==
      src.columns.map(_.toLowerCase).sorted.toSeq)
    val n = TableCatalog
      .readSql(spark, spec, "SELECT COUNT(*) AS n FROM region_rt")
      .collect().head.get(0).asInstanceOf[Number].longValue()
    assert(n == src.count())
  }

  test("job registry dispatch: poc job runs, unknown type fails cleanly") {
    val registry = Jobs.builtinRegistry(tmpDir())
    val ok = Jobs.execute(spark, registry,
      Jobs.JobConfig("1", "poc_etl", "poc", "2026-01-01",
        limit = Some(10), sfDir = sf))
    assert(ok.status == "success" && ok.rowsProcessed == 10)
    val bad = Jobs.execute(spark, registry,
      Jobs.JobConfig("2", "nope", "x", "2026-01-01", sfDir = sf))
    assert(bad.status == "failed" &&
      bad.error.exists(_.contains("unknown job type")))
    val invalid = Jobs.execute(spark, registry,
      Jobs.JobConfig("", "poc_etl", "x", "2026-01-01", sfDir = sf))
    assert(invalid.status == "failed")
  }

  test("full 6-stage pipeline: first run loads, second run backs up + variance 0") {
    val work = tmpDir()
    val registry = Jobs.builtinRegistry(work)
    val cfg = Jobs.JobConfig("3", "full_etl", "full", "2026-01-01", sfDir = sf)
    val r1 = Jobs.execute(spark, registry, cfg)
    assert(r1.status == "success" && r1.rowsProcessed > 0)
    val r2 = Jobs.execute(spark, registry, cfg)
    assert(r2.status == "success")
    assert(r2.variancePct.contains(0.0))
    // backup now holds the first run's rows
    assert(TableCatalog.load(spark, s"$work/backup", "pah_out").count() ==
      r1.rowsProcessed)
  }

  test("continuous runner accumulates stats and respects stop flag") {
    val registry = Jobs.builtinRegistry(tmpDir())
    val cfg = Jobs.JobConfig("4", "poc_etl", "poc", "2026-01-01",
      limit = Some(5), sfDir = sf)
    val stats = Jobs.runContinuous(spark, registry, cfg,
      intervalMillis = 10, maxIterations = 3)
    assert(stats.iterations == 3 && stats.successes == 3)
    assert(stats.totalRows == 15)
    assert(stats.successRate == 1.0)
  }

  test("csv/json/orc round-trip value-exact through the SourceSpec seam " +
      "(declared schema on the schemaless formats, no inferSchema pass)") {
    val orig = TableCatalog.load(spark, sf, "orders")
    val schema = orig.schema
    def key(r: org.apache.spark.sql.Row) = r.getLong(0)
    val expect = orig.collect().sortBy(key).map(_.toString).toSeq
    for (fmt <- Seq("csv", "json", "orc")) {
      val dir = tmpDir()
      val opts = if (fmt == "csv") Map("header" -> "true") else
        Map.empty[String, String]
      val spec = graft.sources.SourceSpec(fmt, dir, opts)
      TableCatalog.writeTo(orig, spec, "orders_rt")
      val back =
        if (fmt == "orc") TableCatalog.readFrom(spark, spec, "orders_rt")
        else TableCatalog.readFrom(spark, spec, "orders_rt", schema)
      assert(back.schema.map(f => (f.name, f.dataType)) ==
        schema.map(f => (f.name, f.dataType)), s"$fmt schema drift")
      val got = back.collect().sortBy(key).map(_.toString).toSeq
      assert(got == expect, s"$fmt round-trip drift")
    }
  }

  test("secrets: env overrides the JSON secret document, dev/prod files " +
      "share a key schema, missing keys fall soft, require() fails loud") {
    import graft.workflow.Secrets
    val dir = tmpDir()
    def writeDoc(name: String, json: String): String = {
      val p = s"$dir/$name"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json)
      p
    }
    // dev/prod carry the SAME keys with different values (the reference's
    // environment-aware design)
    val dev = writeDoc("dev.json",
      """{"REDSHIFT_HOST": "dev-host", "REDSHIFT_PASSWORD": "devpw"}""")
    val prod = writeDoc("prod.json",
      """{"REDSHIFT_HOST": "prod-host", "REDSHIFT_PASSWORD": "prodpw"}""")
    val devP = Secrets.standard(Map("GRAFT_SECRET_FILE" -> dev))
    val prodP = Secrets.standard(Map("GRAFT_SECRET_FILE" -> prod))
    assert(devP.get("REDSHIFT_HOST").contains("dev-host"))
    assert(devP.get("REDSHIFT_PASSWORD").contains("devpw"))
    assert(prodP.get("REDSHIFT_HOST").contains("prod-host"))
    // explicit env wins over the document
    val overridden = Secrets.standard(
      Map("GRAFT_SECRET_FILE" -> dev, "REDSHIFT_HOST" -> "env-host"))
    assert(overridden.get("REDSHIFT_HOST").contains("env-host"))
    assert(overridden.get("REDSHIFT_PASSWORD").contains("devpw"))
    // fail-soft: absent key, malformed file, missing file
    assert(devP.get("NOPE").isEmpty)
    val bad = Secrets.standard(Map("GRAFT_SECRET_FILE" ->
      writeDoc("bad.json", """{"REDSHIFT_HOST": ["nested"]}""")))
    assert(bad.get("REDSHIFT_HOST").isEmpty)
    assert(Secrets.standard(Map("GRAFT_SECRET_FILE" -> s"$dir/absent"))
      .get("X").isEmpty)
    // fail-loud option and masked rendering
    intercept[IllegalStateException] { Secrets.require(devP, "NOPE") }
    assert(Secrets.masked("supersecretvalue") == "********")
    // fixed-width: a short secret must not leak its length
    assert(Secrets.masked("pw") == "********")
  }

  /** One-message in-JVM SMTP server: accepts a single session, records
    * the DATA payload, replies per RFC 5321. */
  private def withMiniSmtp(f: Int => Unit): String = {
    val server = new java.net.ServerSocket(0)
    val received = new java.lang.StringBuilder
    val t = new Thread(() => {
      val s = server.accept()
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        s.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
      val out = new java.io.PrintWriter(s.getOutputStream, false)
      def reply(r: String): Unit = { out.print(r + "\r\n"); out.flush() }
      reply("220 mini ESMTP")
      var line = in.readLine()
      var inData = false
      while (line != null) {
        if (inData) {
          if (line == ".") { inData = false; reply("250 OK queued") }
          else received.append(
            if (line.startsWith("..")) line.substring(1) else line)
            .append("\n")
        } else line.takeWhile(_ != ' ').takeWhile(_ != ':') match {
          case "EHLO" | "HELO" => reply("250-mini\r\n250 OK")
          case "MAIL" | "RCPT" => reply("250 OK")
          case "DATA" => inData = true; reply("354 go ahead")
          case "QUIT" => reply("221 bye"); line = null
          case _ => reply("500 what")
        }
        if (line != null) line = in.readLine()
      }
      s.close()
    })
    t.setDaemon(true); t.start()
    try f(server.getLocalPort) finally { t.join(10000); server.close() }
    received.toString
  }

  test("SMTP alerter delivers the reference's variance-alert fields " +
      "through a real socket session on threshold breach") {
    import graft.workflow.Alerting
    val mail = withMiniSmtp { port =>
      val alerter = new Alerting.SmtpAlerter("127.0.0.1", port,
        "etl@graft.local", Seq("dna-team@graft.local"))
      // 8000 -> 10000 rows = 25% variance over a 5% threshold -> alert
      val v = Alerting.validateVarianceAlert("jcap_pa_etl",
        current = 10000L, previous = 8000L, thresholdPct = 5.0,
        alerter = alerter, timestamp = "2026-08-14 00:00:00 UTC")
      assert(v == 25.0)
    }
    // the reference's message fields (email_service.py:51-99)
    assert(mail.contains("Subject: Data Variance Alert - jcap_pa_etl"), mail)
    assert(mail.contains("From: etl@graft.local"), mail)
    assert(mail.contains("To: dna-team@graft.local"), mail)
    assert(mail.contains("Job: jcap_pa_etl"), mail)
    assert(mail.contains("Previous Count: 8,000 rows"), mail)
    assert(mail.contains("Current Count: 10,000 rows"), mail)
    assert(mail.contains("Variance: 25.00%"), mail)
    assert(mail.contains("Threshold: 5.00%"), mail)
    assert(mail.contains("Timestamp: 2026-08-14 00:00:00 UTC"), mail)
  }

  test("variance inside the threshold sends nothing; webhook alerter " +
      "POSTs JSON on breach and fails loudly on a non-2xx sink") {
    import graft.workflow.Alerting
    // no alert inside the threshold — a throwing alerter proves silence
    val boom: Pipeline.Alerter = (_, _) => fail("must not alert at 2%")
    assert(Alerting.validateVarianceAlert("j", 102L, 100L, 5.0, boom) == 2.0)
    // webhook: capture the POST
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    @volatile var posted = ""
    server.createContext("/hook",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        posted = new String(ex.getRequestBody.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, 0); ex.close()
      })
    server.createContext("/dead",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        ex.sendResponseHeaders(500, 0); ex.close()
      })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      new Alerting.WebhookAlerter(s"$base/hook")
        .alert("Data Variance Alert - j2", "Variance: 50.00%")
      assert(posted.contains("\"Data Variance Alert - j2\""), posted)
      assert(posted.contains("Variance: 50.00%"), posted)
      intercept[IllegalArgumentException] {
        new Alerting.WebhookAlerter(s"$base/dead").alert("s", "b")
      }
    } finally server.stop(0)
  }
}
