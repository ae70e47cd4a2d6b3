package perfbench

import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One timed operation. `run` returns the rows it produced (or wrote);
  * `check` runs after the timing stops and returns values run.py compares
  * with its oracle. */
final case class Op(name: String, kind: String, run: () => Long,
    check: () => Map[String, Any] = () => Map.empty)

/** A workload: its fixtures, one pass's operations, the DataFrame each
  * checked operation is verified through (built only when it runs, after
  * the session confs are reset, like an op), and the text column the
  * `functions.*` probes run over. */
trait Workload {
  def prepare(spark: SparkSession, dir: String): Unit
  def ops(spark: SparkSession, dir: String): Seq[Op]
  def verify(spark: SparkSession, dir: String): Seq[(String, () => DataFrame)]
  def oracle: Map[String, String] = Map.empty
  def remoteUrl(spark: SparkSession, dir: String): Option[String]
  def text(spark: SparkSession, dir: String): DataFrame
  /** Outside the timing, before each pass. */
  def beforePass(spark: SparkSession, dir: String): Unit = ()
  /** Rows a plain-JDBC insert replays as the ingest floor. */
  def ingestFloor(spark: SparkSession, dir: String): Option[(String, DataFrame)] = None
}

object Workload {
  def apply(name: String, cores: Int): Workload = name match {
    case "interactive_sql" => new Gates(interactive)
    case "bulk_federation" => new Bulk(cores)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** 18 short gates. q04_window, q46_hll_merge, q49_stats_agg and
    * q58_session_window are left out: each costs 0.7-0.9 s a run plus
    * its warm-up, and the whole benchmark must fit its time budget. */
  val interactive: Seq[String] = Seq(
    "q01_agg", "q02_filter_agg", "q03_join_topk", "q05_topk", "q11_rollup",
    "q17_join6", "q28_rangejoin_auto", "q30_topk_per_key",
    "q48_grouping_sets",
    "r01_remote_filter", "r04_remote_partitioned_agg",
    "r06_remote_join_pushdown", "r09_remote_groupby", "r15_remote_distinct",
    "r18_remote_sample", "r19_remote_fn_filter", "r22_remote_union",
    // the one short operator gate that registers Observations, so the
    // operators layer is measured too
    "p85_containment_screen")

  /** Execute the whole plan and count its rows, as graft.Bench does;
    * `toRdd.count` bypasses `Dataset.withAction`, so the query listeners
    * (Observation completion among them) are fired explicitly. */
  def exec(df: DataFrame): Long = {
    val t0 = System.nanoTime()
    val n = df.queryExecution.toRdd.count()
    org.apache.spark.sql.graftbridge.Bridge.fireObservations(
      df, "perfbench", System.nanoTime() - t0)
    n
  }
}

/** Repo gates: each op builds the gate's DataFrame from the generated
  * directory and runs it; verification writes the gate's result for the
  * DuckDB oracle the repo declares in `SparkEntry.oracleSql`. */
final class Gates(names: Seq[String]) extends Workload {
  private val gates = graft.SparkEntry.queries

  /** The Derby "remote database" the r-gates read (built through the
    * connector's write path). */
  def prepare(spark: SparkSession, dir: String): Unit =
    graft.RemoteQueries.ensure(spark, dir)

  /** Kinds: the connector gates over the Derby fixture, and the rest. */
  def ops(spark: SparkSession, dir: String): Seq[Op] = names.map { g =>
    Op(g, if (g.startsWith("r")) "remote_gate" else "gate",
      () => Workload.exec(gates(g)(spark, dir)))
  }

  def verify(spark: SparkSession, dir: String)
      : Seq[(String, () => DataFrame)] =
    names.map(g => g -> (() => gates(g)(spark, dir)))

  override def oracle: Map[String, String] =
    graft.SparkEntry.oracleSql.filter(kv => names.contains(kv._1))

  def remoteUrl(spark: SparkSession, dir: String): Option[String] =
    Some(graft.RemoteQueries.ensure(spark, dir))

  def text(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.table(spark, dir, "documents").select(col("text"))
}

/** Row-level Transform for the `transformclass` scan: passes rows through
  * unchanged, so the op measures the TransformRowReader path itself. */
class PassThrough extends graft.sources.Transform {
  def transformSchema(schema: StructType): StructType = schema
  def transform(rows: Iterator[org.apache.spark.sql.Row],
      schema: StructType): Iterator[org.apache.spark.sql.Row] = rows
}

/** The connector under bulk load: ConnectorBench's six-column schema in
  * a fresh embedded Derby database. Each pass appends an ingest batch to
  * an empty table, MERGEs a keyed delta into it, and reads the base
  * table through every reader path. */
final class Bulk(cores: Int) extends Workload {
  private val ddl = "(C_INT INT, C_DOUBLE DOUBLE, C_BYTES BLOB(1K), " +
    "C_TEXT VARCHAR(512), C_JSON VARCHAR(256), C_TS TIMESTAMP)"
  private var rows = 0L
  private def ingestRows = rows / 5
  private def deltaRows = rows / 10
  private val keyCount = 1000

  private def url(dir: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_").takeRight(60)
    s"jdbc:derby:${new java.io.File(dir).getParent}/derby/bulk_$tag;create=true"
  }

  private def jdbc[T](dir: String)(f: java.sql.Statement => T): T = {
    val c = DriverManager.getConnection(url(dir))
    try {
      val st = c.createStatement()
      try f(st) finally st.close()
    } finally c.close()
  }

  private def input(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/bulk.parquet").select(
      col("c_int").as("C_INT"), col("c_double").as("C_DOUBLE"),
      col("c_bytes").as("C_BYTES"), col("c_text").as("C_TEXT"),
      col("c_json").as("C_JSON"), col("c_ts").cast(TimestampType).as("C_TS"))

  private def opts(dir: String): Map[String, String] = Map(
    "url" -> url(dir), "poolmaxsize" -> cores.toString,
    "writepartitions" -> cores.toString, "batchsize" -> "1000")

  private def remote(spark: SparkSession, dir: String,
      extra: (String, String)*): DataFrame =
    spark.read.format("graft-remote").options(opts(dir))
      .option("dbtable", "BENCH_T").options(extra.toMap).load()

  private def ingestDf(spark: SparkSession, dir: String): DataFrame =
    input(spark, dir).filter(col("C_INT") < ingestRows)

  /** Half the delta updates ingested keys (C_DOUBLE + 1), half inserts
    * keys the ingest did not carry. */
  private def deltaDf(spark: SparkSession, dir: String): DataFrame =
    input(spark, dir)
      .filter(col("C_INT") >= ingestRows - deltaRows / 2 &&
        col("C_INT") < ingestRows + deltaRows / 2)
      .withColumn("C_DOUBLE", col("C_DOUBLE") + 1.0)

  def prepare(spark: SparkSession, dir: String): Unit = {
    rows = spark.read.parquet(s"$dir/bulk.parquet").count()
    jdbc(dir) { st =>
      st.executeUpdate(s"CREATE TABLE BENCH_T $ddl")
      st.executeUpdate("CREATE TABLE KEYS_T (K_INT INT, K_TAG VARCHAR(16))")
    }
    input(spark, dir).write.format("graft-remote").options(opts(dir))
      .option("dbtable", "BENCH_T").mode("append").save()
    // every (rows / keyCount)-th key, so the join returns keyCount rows
    spark.range(keyCount).select(
      (col("id") * (rows / keyCount)).cast(IntegerType).as("K_INT"),
      concat(lit("k"), col("id")).as("K_TAG"))
      .write.format("graft-remote").options(opts(dir))
      .option("dbtable", "KEYS_T").mode("append").save()
  }

  override def beforePass(spark: SparkSession, dir: String): Unit =
    jdbc(dir) { st =>
      try st.executeUpdate("DROP TABLE INGEST_T")
      catch { case _: java.sql.SQLException => () }
      // keyed like a real upsert target: the MERGE probes the key index
      st.executeUpdate(s"CREATE TABLE INGEST_T $ddl")
      st.executeUpdate("CREATE UNIQUE INDEX INGEST_K ON INGEST_T (C_INT)")
    }

  private def ingestCheck(dir: String): Map[String, Any] = jdbc(dir) { st =>
    val rs = st.executeQuery("SELECT COUNT(*), SUM(C_DOUBLE) FROM INGEST_T")
    rs.next()
    Map("count" -> rs.getLong(1), "sum" -> rs.getDouble(2))
  }

  private def write(df: DataFrame, dir: String, extra: (String, String)*)
      : Unit =
    df.write.format("graft-remote").options(opts(dir))
      .option("dbtable", "INGEST_T").options(extra.toMap)
      .mode("append").save()

  /** Read ops: (name, kind, DataFrame). Scans deliver every row to Spark;
    * pushdown ops return few rows. */
  private def reads(spark: SparkSession, dir: String)
      : Seq[(String, String, () => DataFrame)] = {
    val n = rows
    val all = Seq("C_INT", "C_DOUBLE", "C_BYTES", "C_TEXT", "C_JSON", "C_TS")
      .map(col)
    Seq(
      ("scan_full", "scan", () => remote(spark, dir).select(all: _*)),
      ("scan_proj2", "scan", () =>
        remote(spark, dir).select(col("C_INT"), col("C_DOUBLE"))),
      ("scan_range", "scan", () => remote(spark, dir,
        "partitioncolumn" -> "C_INT", "lowerbound" -> "0",
        "upperbound" -> n.toString, "numpartitions" -> cores.toString)
        .select(all: _*)),
      ("scan_transform", "scan", () => remote(spark, dir,
        "transformclass" -> classOf[PassThrough].getName).select(all: _*)),
      ("scan_struct", "scan", () => remote(spark, dir,
        "structcol.C_JSON" -> "grp INT, w STRING")
        .select(col("C_INT"), col("C_JSON.grp").as("grp"),
          col("C_JSON.w").as("w"))),
      ("q_filter", "pushdown", () => remote(spark, dir)
        .filter(col("C_INT") < n / 50)
        .select(col("C_INT").as("c_int"), col("C_DOUBLE").as("c_double"),
          col("C_TEXT").as("c_text"))),
      ("q_fn_filter", "pushdown", () => remote(spark, dir)
        .filter(substring(col("C_JSON"), 1, 1) === "{" &&
          col("C_INT") >= n / 2 && col("C_INT") < n / 2 + n / 50)
        .select(col("C_INT").as("c_int"), col("C_JSON").as("c_json"))),
      ("q_groupby", "pushdown", () => remote(spark, dir)
        .groupBy(col("C_JSON"))
        .agg(count(lit(1)).as("n"),
          sum(col("C_INT").cast(LongType)).as("s"))
        .select(col("C_JSON").as("c_json"), col("n"), col("s"))),
      ("q_count", "pushdown", () =>
        remote(spark, dir).agg(count(lit(1)).as("n"))),
      ("q_topn", "pushdown", () => remote(spark, dir)
        .orderBy(col("C_DOUBLE").desc, col("C_INT")).limit(100)
        .select(col("C_INT").as("c_int"), col("C_DOUBLE").as("c_double"))),
      ("q_join", "pushdown", () => {
        spark.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
        val k = spark.read.format("graft-remote").options(opts(dir))
          .option("dbtable", "KEYS_T").load()
        remote(spark, dir).join(k, col("C_INT") === col("K_INT"))
          .select(col("C_INT").as("c_int"), col("K_TAG").as("k_tag"),
            col("C_DOUBLE").as("c_double"))
      }))
  }

  def ops(spark: SparkSession, dir: String): Seq[Op] = {
    val writes = Seq(
      Op("ingest", "ingest", () => {
        write(ingestDf(spark, dir), dir); ingestRows
      }, () => ingestCheck(dir)),
      Op("upsert", "upsert", () => {
        write(deltaDf(spark, dir), dir, "mergekeys" -> "C_INT",
          "stagingwrite" -> "true")
        deltaRows
      }, () => ingestCheck(dir)))
    writes ++ reads(spark, dir).map { case (name, kind, df) =>
      Op(name, kind, () => Workload.exec(df()))
    }
  }

  /** Scans are verified through a checksum of everything they deliver;
    * pushdown ops through their full result. The checksum aggregates the
    * scan's decoded rows from an RDD, which no aggregate pushdown can
    * reach, so what it checks is always the reader the timed op ran. */
  def verify(spark: SparkSession, dir: String)
      : Seq[(String, () => DataFrame)] =
    reads(spark, dir).map { case (name, kind, read) =>
      def df(): DataFrame = {
        val d = read()
        spark.createDataFrame(d.rdd, d.schema)
      }
      name -> (() => if (kind != "scan") read() else name match {
        case "scan_proj2" => df().agg(count(lit(1)).as("n"),
          sum(col("C_DOUBLE").cast(DecimalType(18, 3))).as("s"),
          sum(col("C_INT").cast(LongType)).as("k"))
        case "scan_struct" => df().agg(count(lit(1)).as("n"),
          sum(col("grp").cast(LongType)).as("g"),
          sum(length(col("w")).cast(LongType)).as("w"))
        case _ => df().agg(count(lit(1)).as("n"),
          sum(col("C_DOUBLE").cast(DecimalType(18, 3))).as("s"),
          sum(col("C_INT").cast(LongType)).as("k"),
          sum(length(col("C_TEXT")).cast(LongType)).as("t"),
          sum(octet_length(col("C_BYTES")).cast(LongType)).as("b"),
          sum(length(col("C_JSON")).cast(LongType)).as("j"),
          max(unix_micros(col("C_TS").cast(TimestampType))).as("ts"))
      })
    }

  def remoteUrl(spark: SparkSession, dir: String): Option[String] =
    Some(url(dir))

  def text(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/bulk.parquet").select(col("c_text").as("text"))

  override def ingestFloor(spark: SparkSession, dir: String)
      : Option[(String, DataFrame)] = Some(url(dir) -> ingestDf(spark, dir))
}
