package graft.sources

import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Appends `C_DEC_PLAIN`, rendered through `Row.getDecimal`: the
  * Transform contract hands user code `java.math.BigDecimal` decimals. */
class DecimalReadTransform extends Transform {
  def transformSchema(schema: StructType): StructType =
    schema.add("C_DEC_PLAIN", StringType)
  def transform(rows: Iterator[Row], schema: StructType): Iterator[Row] = {
    val i = schema.fieldIndex("C_DEC")
    rows.map(r => Row.fromSeq(r.toSeq :+
      (if (r.isNullAt(i)) null else r.getDecimal(i).toPlainString)))
  }
}

/** The shared read path: one cursor and one row decoder behind plain,
  * aggregate and Transform scans. */
class ReadPathSpec extends AnyFunSuite {
  private lazy val spark = { DerbyFixture.init; SparkTestSession.spark }

  private def remote(extra: (String, String)*): DataFrame = {
    var r = spark.read.format("graft-remote").option("url", DerbyFixture.url)
    extra.foreach { case (k, v) => r = r.option(k, v) }
    r.load()
  }

  private def exec(sqls: String*): Unit = {
    DerbyFixture.init
    val c = DriverManager.getConnection(DerbyFixture.url)
    try {
      val st = c.createStatement()
      sqls.foreach(s =>
        try st.executeUpdate(s)
        catch { case _: Exception if s.startsWith("DROP") => () })
      st.close()
    } finally c.close()
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("pushed MIN/MAX and GROUP BY over a TIME column equal Spark's answer") {
    // numpartitions=2 declines complete pushdown: Spark aggregates itself
    val pushed = remote("dbtable" -> "ALL_TYPES")
    val local = remote("dbtable" -> "ALL_TYPES", "numpartitions" -> "2")
    val minMax = (df: DataFrame) => df.agg(max(col("C_TIME")), min(col("C_TIME")))
    val groups = (df: DataFrame) => df.groupBy(col("C_TIME")).agg(count(lit(1)))
    assert(plan(minMax(pushed)).contains("PushedAggregates: true"))
    assert(plan(groups(pushed)).contains("PushedAggregates: true"))
    assert(plan(minMax(local)).contains("PushedAggregates: false"))
    val tenThirty = (10L * 3600 + 30 * 60 + 45) * 1000000L
    assert(minMax(pushed).collect().toSeq == Seq(Row(tenThirty, tenThirty)))
    assert(minMax(pushed).collect().toSeq == minMax(local).collect().toSeq)
    assert(groups(pushed).collect().toSet == groups(local).collect().toSet)
  }

  test("MIN/MAX over a struct column is not pushed; Spark orders the structs") {
    exec("DROP TABLE STRUCT_MAX_T",
      "CREATE TABLE STRUCT_MAX_T (K INT, J VARCHAR(64))",
      """INSERT INTO STRUCT_MAX_T VALUES (1, '{"a": 10}'), (2, '{"a": 9}')""")
    // the remote MAX of the JSON text is '{"a": 9}'
    val df = remote("dbtable" -> "STRUCT_MAX_T", "structcol.j" -> "a INT")
      .agg(max(col("J")))
    assert(plan(df).contains("PushedAggregates: false"), plan(df))
    assert(df.collect().toSeq == Seq(Row(Row(10))))
  }

  test("Transform rows carry Row-API types (Row.getDecimal on DECIMAL)") {
    ScanSqlLog.clear()
    val got = remote("dbtable" -> "ALL_TYPES",
      "transformclass" -> "graft.sources.DecimalReadTransform")
      .select("C_DEC_PLAIN").collect().map(_.getString(0)).toSet
    assert(got == Set("12345.67", null))
    assert(ScanSqlLog.recent.exists(_.contains("ALL_TYPES")),
      s"transform scan SQL not logged: ${ScanSqlLog.recent}")
  }

  test("a failed remote statement returns its connection (columnar and row)") {
    for (columnar <- Seq("true", "false")) {
      exec("DROP TABLE DROPPED_COL_T",
        "CREATE TABLE DROPPED_COL_T (K INT, V INT)",
        "INSERT INTO DROPPED_COL_T VALUES (1, 10), (2, 20)")
      val df = remote("dbtable" -> "DROPPED_COL_T", "columnarread" -> columnar)
      assert(df.count() == 2)
      exec("ALTER TABLE DROPPED_COL_T DROP COLUMN V")
      val e = intercept[Exception](df.collect())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(_.isInstanceOf[java.sql.SQLException]),
        s"columnarread=$columnar: $e")
      val (opened, closed) = GraftConnections.state
      assert(opened == closed,
        s"columnarread=$columnar: opened=$opened closed=$closed")
    }
  }
}
