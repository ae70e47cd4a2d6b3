package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.sql.DriverManager

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.sources.{GraftConnections, Jdbc, RemoteOptions, ScanSqlLog}

/** The benchmark process: one closed-loop client issuing a workload's
  * operations back to back on one Spark session, then the output dumps
  * run.py checks against the DuckDB oracles. Launched by run.py:
  *
  *   perfbench.Main --workload W --data DIR --warm DIR --run-dir DIR
  *     --seconds S --trace 0|1 --seed N --cores C --out FILE --spans FILE
  */
object Main {
  private def nowMs: Double = System.currentTimeMillis().toDouble

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  private def json(v: Any): String = mapper.writeValueAsString(v)

  def main(argv: Array[String]): Unit = {
    val arg = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val runDir = arg("run-dir")
    val (data, warm) = (arg("data"), arg("warm"))
    val cores = arg("cores").toInt
    val trace = arg("trace") == "1"
    DerbyRedirect.install(runDir)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val wl = Workload(arg("workload"), cores)
    val out = mutable.LinkedHashMap.empty[String, Any]
    val opRecs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val sessionMs = nowMs - ManagementFactory.getRuntimeMXBean.getStartTime

    // set-up: fixtures and one untimed warm pass, then the real input's
    // fixtures — everything before the first timed op. Where the warm pass
    // runs on the real input it also writes each op's verified output.
    val dumps = mutable.LinkedHashMap.empty[String, Any]
    def dump(): Unit = for ((name, df) <- wl.verify(spark, data)) {
      graft.SparkEntry.resetSessionConfs(spark)
      val path = s"$runDir/verify/$name"
      try {
        df().coalesce(1).write.mode("overwrite").parquet(path)
        dumps(name) = path
      } catch { case e: Throwable => dumps(name) = Map("error" -> e.toString) }
    }
    def timed(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6
    }
    var fixtureMs = timed(wl.prepare(spark, warm))
    val warmMs = timed {
      if (warm == data) dump()
      else {
        wl.beforePass(spark, warm)
        wl.ops(spark, warm).foreach { op =>
          graft.SparkEntry.resetSessionConfs(spark)
          op.run()
        }
      }
      graft.ObsRegistry.drain()
    }
    if (warm != data) fixtureMs += timed(wl.prepare(spark, data))
    // let lazy set-up finish before the timed window: a full GC, then
    // wait (at most 5 s) until the JIT compiler has been idle for 0.5 s
    val settleMs = timed {
      System.gc()
      val jit = ManagementFactory.getCompilationMXBean
      val until = System.nanoTime() + 5000000000L
      var (last, idle) = (jit.getTotalCompilationTime, 0)
      while (idle < 2 && System.nanoTime() < until) {
        Thread.sleep(250)
        val now = jit.getTotalCompilationTime
        if (now == last) idle += 1 else { idle = 0; last = now }
      }
    }
    out("setup") = Map("jvm_to_session_ms" -> sessionMs,
      "fixture_ms" -> fixtureMs, "warm_pass_ms" -> warmMs,
      "settle_ms" -> settleMs,
      "jvm_to_first_op_ms" ->
        (nowMs - ManagementFactory.getRuntimeMXBean.getStartTime))

    val tracer = new Tracer(spark)
    val url = wl.remoteUrl(spark, data)
    val ops = wl.ops(spark, data)
    val rng = new scala.util.Random(arg("seed").toLong)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    val gc0 = gcMs
    val deadline = System.nanoTime() + (arg("seconds").toDouble * 1e9).toLong
    // the traced run settles with one untraced pass, then alternates
    // traced and untraced passes: the tracing overhead compares the two
    val minPasses = if (trace) 3 else 1
    var pass, opId = 0
    while (pass < minPasses || System.nanoTime() < deadline) {
      val traced = trace && pass % 2 == 1
      if (traced) tracer.attach()
      wl.beforePass(spark, data)
      for (op <- order(ops, rng)) {
        graft.SparkEntry.resetSessionConfs(spark)
        if (traced) { ScanSqlLog.clear(); tracer.begin() }
        val opened0 = GraftConnections.state._1
        val (cpu0, stolen0) = (cpuNs, cpuJiffies)
        val start = nowMs
        val ts = System.nanoTime()
        val res = try Right(op.run()) catch { case e: Throwable => Left(e) }
        val ms = (System.nanoTime() - ts) / 1e6
        val end = nowMs
        val (cpu1, stolen1) = (cpuNs, cpuJiffies)
        val obs = graft.ObsRegistry.drain()
        val rec = mutable.LinkedHashMap[String, Any]("id" -> opId,
          "name" -> op.name, "kind" -> op.kind, "pass" -> pass,
          "traced" -> traced, "ms" -> ms, "cpu_ms" -> (cpu1 - cpu0) / 1e6,
          "steal" -> stealShare(stolen0, stolen1))
        res match {
          case Right(rows) => rec("rows") = rows
          case Left(e) => rec("error") = s"${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(300)
        }
        if (traced) {
          val stats = mutable.LinkedHashMap.empty[String, Any]
          stats ++= tracer.end(opId, start, end)
          stats("sources.conn_opened") =
            (GraftConnections.state._1 - opened0).toDouble
          val sqls = ScanSqlLog.recent
          url.filter(_ => sqls.nonEmpty).foreach { u =>
            val r0 = nowMs
            replay(u, sqls)
            val r1 = nowMs
            tracer.span("sources.remote", r0, r1, -1, opId)
            stats("sources.remote_ms") = r1 - r0
            val tables = sqls.flatMap(tablesOf).distinct
            val s0 = nowMs
            tables.foreach(t =>
              Jdbc.inferSchema(RemoteOptions(Map("url" -> u, "dbtable" -> t))))
            val s1 = nowMs
            tracer.span("sources.schema_infer", s0, s1, -1, opId)
            stats("sources.schema_infer_ms") = s1 - s0
            stats("sources.schema_infers") = tables.size.toDouble
          }
          rec("stats") = stats
          rec("obs") = obs.map { case (n, m) => n -> m.map {
            case (k, v: java.lang.Number) => k -> v.doubleValue
            case (k, v) => k -> String.valueOf(v)
          } }.toMap
        }
        try rec("check") = op.check()
        catch { case e: Throwable => rec("check_error") = e.toString }
        opRecs += rec.toMap
        opId += 1
      }
      if (traced) tracer.detach()
      pass += 1
    }
    out("gc_ms") = gcMs - gc0
    graft.SparkEntry.resetSessionConfs(spark)
    System.gc(); System.gc()
    out("heap_after_gc_mb") =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    out("passes") = pass
    out("ops") = opRecs

    if (warm != data) dump()
    out("verify") = dumps
    out("oracle_sql") = wl.oracle

    if (trace) {
      out("functions") = functionProbes(spark, wl, data, tracer)
      wl.ingestFloor(spark, data).foreach { case (u, df) =>
        val r0 = nowMs
        val n = insertFloor(u, df)
        val r1 = nowMs
        tracer.span("sources.write_remote", r0, r1, -1, -1)
        out("write_remote") = Map("rows" -> n, "ms" -> (r1 - r0))
      }
      Files.writeString(Paths.get(arg("spans")), json(tracer.spans.map(s =>
        Map("id" -> s.id, "name" -> s.name, "start" -> s.start,
          "end" -> s.end, "parent" -> s.parent, "op_id" -> s.opId))))
    }
    Files.writeString(Paths.get(arg("out")), json(out))
    spark.stop()
    graft.sources.GraftConnectionPool.drainAll()
    try DriverManager.getConnection("jdbc:derby:;shutdown=true")
    catch { case _: java.sql.SQLException => () } // XJ015: clean shutdown
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (task threads, driver, JIT, GC). */
  private def cpuNs: Long = os.getProcessCpuTime

  /** The machine's (steal, total) CPU jiffies from /proc/stat, where the
    * hypervisor reports time it ran other guests on this guest's CPUs;
    * (0, 0) where there is no such file. */
  private def cpuJiffies: (Long, Long) = try {
    val f = java.nio.file.Files.readAllLines(Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  } catch { case _: Exception => (0L, 0L) }

  private def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  /** One pass's order: a seeded shuffle, with the upsert kept after the
    * ingest it merges into. */
  private def order(ops: Seq[Op], rng: scala.util.Random): Seq[Op] = {
    val s = rng.shuffle(ops)
    val (i, u) = (s.indexWhere(_.kind == "ingest"), s.indexWhere(_.kind == "upsert"))
    if (i > u && u >= 0) s.updated(i, s(u)).updated(u, s(i)) else s
  }

  private val tableRef =
    "(?i)\\b(?:FROM|JOIN)\\s+(\"?[A-Za-z_][A-Za-z0-9_]*\"?(?:\\.\"?[A-Za-z_][A-Za-z0-9_]*\"?)?)".r

  private def tablesOf(sql: String): Seq[String] =
    tableRef.findAllMatchIn(sql).map(_.group(1).replace("\"", "")).toSeq

  /** Re-run the pushed SQL with plain JDBC, draining the cursor without
    * decoding a value: what the remote alone costs for the same scan. */
  private def replay(url: String, sqls: Seq[String]): Unit = {
    val c = DriverManager.getConnection(url)
    try sqls.foreach { sql =>
      val st = c.createStatement()
      try {
        st.setFetchSize(2048)
        val rs = st.executeQuery(sql)
        while (rs.next()) {}
      } finally st.close()
    } finally c.close()
  }

  /** Insert the rows with plain JDBC batches of the connector's batch
    * size into a scratch table: the remote's ingest floor. */
  private def insertFloor(url: String,
      df: org.apache.spark.sql.DataFrame): Long = {
    val rows = df.collect()
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE FLOOR_T (C_INT INT, C_DOUBLE DOUBLE, " +
        "C_BYTES BLOB(1K), C_TEXT VARCHAR(512), C_JSON VARCHAR(256), " +
        "C_TS TIMESTAMP)")
      st.close()
      c.setAutoCommit(false)
      val ps = c.prepareStatement("INSERT INTO FLOOR_T VALUES (?,?,?,?,?,?)")
      rows.zipWithIndex.foreach { case (r, i) =>
        ps.setInt(1, r.getInt(0)); ps.setDouble(2, r.getDouble(1))
        ps.setBytes(3, r.getAs[Array[Byte]](2)); ps.setString(4, r.getString(3))
        ps.setString(5, r.getString(4)); ps.setTimestamp(6, r.getTimestamp(5))
        ps.addBatch()
        if ((i + 1) % 1000 == 0) { ps.executeBatch(); c.commit() }
      }
      ps.executeBatch(); c.commit(); ps.close()
      rows.length.toLong
    } finally c.close()
  }

  /** Each native SQL function timed alone over the workload's text, with
    * a checksum aggregate so the whole column is computed. Tokens and
    * shingles are materialized first, so each probe times one function. */
  private def functionProbes(spark: SparkSession, wl: Workload, dir: String,
      tracer: Tracer): Map[String, Any] = {
    graft.SparkEntry.resetSessionConfs(spark)
    val base = wl.text(spark, dir).limit(20000).selectExpr("text",
      "split(text, ' ') AS toks", "shingle_set(split(text, ' '), 3) AS sh")
      .persist()
    val n = base.count()
    val probes = Seq(
      "minhash_sig" -> "sum(hash(minhash_sig(sh, 64)))",
      "simhash_poly" -> "sum(hash(simhash_poly(toks)))",
      "gram_fps" -> "sum(hash(gram_fps(text, 5)))",
      "shingle_set" -> "sum(hash(shingle_set(toks, 3)))")
    val res = probes.map { case (fn, expr) =>
      base.selectExpr(expr).collect() // warm-up, untimed
      val r0 = nowMs
      val reps = 3
      (1 to reps).foreach(_ => base.selectExpr(expr).collect())
      val r1 = nowMs
      tracer.span(s"functions.$fn", r0, r1, -1, -1)
      fn -> Map("rows" -> n * reps, "ms" -> (r1 - r0))
    }.toMap
    base.unpersist(blocking = true)
    res
  }
}
