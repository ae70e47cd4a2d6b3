package graft.sources

import org.apache.spark.internal.Logging
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

/** Stream offset = the highest value of the monotonic column shipped so
  * far (exclusive lower bound of the next batch). */
final case class RemoteOffset(max: Long) extends Offset {
  override def json(): String = max.toString
}

/** Incremental micro-batch reads from a growing remote table — the
  * streaming complement of `StreamingOps.writeToRemote` (round-2
  * sink). The reference is strictly bounded (`Boundedness::Bounded`,
  * `scan.rs:60-65`); this is beyond-reference surface built on the same
  * scan machinery: each trigger runs one tiny remote `SELECT MAX(col)`
  * to discover the new high-water mark, then a normal connector scan
  * with the range predicate `col > lo AND col <= hi` folded into the
  * rewritten SQL next to the pushed filters. Offsets are checkpointed
  * by Spark, so restarts resume at the committed high-water mark
  * (at-least-once per range; rows appearing with already-passed column
  * values are missed — the standard incremental-JDBC-ingest contract).
  *
  * Backpressure: `maxrowspermicrobatch` bounds each batch's high-water-
  * mark advance (the JDBC analogue of Kafka's `maxOffsetsPerTrigger`,
  * via `SupportsAdmissionControl`). Without it, the first trigger after
  * downtime drains the FULL backlog into one micro-batch — at 100 TB
  * ingest scale that's an unbounded batch the cluster must absorb in
  * one commit interval. The bounded high-water mark comes from one
  * scalar remote query (`MAX` over the first-N-by-column rows past the
  * current offset), so admitted batches hold ≤ N rows each and offsets
  * checkpoint per batch.
  */
class RemoteMicroBatchStream(
    opts: RemoteOptions,
    remoteSchema: RemoteSchema,
    transformedSchema: StructType,
    required: StructType,
    pushedSql: Seq[String])
  extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow with Logging {

  private val col = opts.streamingColumn.get
  private val q = opts.dialect.quote(col)

  override def initialOffset(): Offset = RemoteOffset(opts.streamingStart)

  /** Highest remote column value any of this stream's scalar queries
    * has observed — reused by [[reportLatestOffset]] so progress
    * reporting never issues its OWN remote round trip (it used to
    * re-run the full SELECT MAX per micro-batch, doubling per-trigger
    * remote load). Monotone max: a bounded admission query observes a
    * valid (if trailing) mark too. */
  @volatile private var observedHigh: Option[Long] = None
  private def noteHigh(v: Long): Long = {
    observedHigh = Some(observedHigh.fold(v)(math.max(_, v)))
    v
  }

  /** One scalar remote query per trigger; honors pushed filters so the
    * high-water mark and the batch see the same row set. */
  private def trueLatest: Long =
    latestOffset().asInstanceOf[RemoteOffset].max

  override def latestOffset(): Offset = {
    val from = opts.dialect.rewriteQuery(opts.source, pushedSql, None, None)
    val sql = s"SELECT MAX($q) FROM ($from) ${opts.dialect.subqueryAlias}W"
    RemoteOffset(noteHigh(maxOf(sql, opts.streamingStart)))
  }

  /** The value of a scalar `SELECT MAX(...)`, or `empty` when it is NULL. */
  private def maxOf(sql: String, empty: Long): Long =
    RemoteCursor.query(opts, sql) { rs =>
      if (rs.next()) {
        val v = rs.getLong(1)
        if (rs.wasNull()) empty else v
      } else empty
    }

  /** Trigger.AvailableNow: the high-water mark is captured ONCE at
    * query start; every admitted batch caps at it, so the query drains
    * exactly the rows that existed then — in `maxrowspermicrobatch`-
    * bounded batches, not one unbounded backfill — and terminates.
    * (Without this interface Spark's fallback wrapper ships the whole
    * backlog as a single batch, read limits ignored.) */
  private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(trueLatest)

  private def capped(hi: Long): Long =
    availableNowCap.fold(hi)(math.min(hi, _))

  override def getDefaultReadLimit: ReadLimit =
    opts.maxRowsPerMicroBatch
      .map(n => ReadLimit.maxRows(n))
      .getOrElse(ReadLimit.allAvailable())

  /** Unwrap the maxRows bound, if any — a composed trigger delivers
    * limits inside a CompositeReadLimit, which must not silently read
    * as "unbounded". */
  private def maxRowsOf(limit: ReadLimit): Option[ReadMaxRows] = limit match {
    case mr: ReadMaxRows => Some(mr)
    case c: CompositeReadLimit =>
      c.getReadLimits.collectFirst { case mr: ReadMaxRows => mr }
    case _ => None
  }

  /** Admission-controlled offset: advance the high-water mark only as
    * far as the first `maxRows` rows (by the monotonic column) past the
    * current offset. Ties share a column value, so a batch can slightly
    * exceed maxRows when the column is non-unique at the boundary —
    * the same soft-cap contract Kafka's maxOffsetsPerTrigger has
    * across partitions. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = start.asInstanceOf[RemoteOffset].max
    maxRowsOf(limit) match {
      case Some(mr) =>
        val n = math.min(mr.maxRows(), Int.MaxValue.toLong).toInt
        val bounded = opts.dialect.rewriteQuery(
          opts.source, pushedSql :+ s"$q > $lo", Some(n), Some(Seq(col)),
          Seq(opts.dialect.sortClause(col, descending = false,
            nullsFirst = false)))
        val sql = s"SELECT MAX($q) FROM ($bounded) ${opts.dialect.subqueryAlias}B"
        RemoteOffset(capped(noteHigh(maxOf(sql, lo))))
      case None => RemoteOffset(capped(trueLatest))
    }
  }

  /** High-water mark for progress reporting, independent of the
    * admitted (bounded) offset. Served from the cached observation of
    * this trigger's own scalar query — progress reporting must not
    * double the per-trigger remote round trips; a first-ever call
    * (nothing observed yet) falls back to one real query, which then
    * seeds the cache. The reported mark can trail the true table max
    * under bounded admission — the standard trade: lag estimates read
    * conservative, the remote sees one scalar query per trigger. */
  override def reportLatestOffset(): Offset =
    observedHigh.map(RemoteOffset(_)).getOrElse(latestOffset())

  /** A steady-state micro-batch is one partition; a large range (the
    * backlog on first start) splits into `numpartitions` value-range
    * slices so the catch-up read parallelizes like a batch range scan. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[RemoteOffset].max
    val hi = end.asInstanceOf[RemoteOffset].max
    val n = opts.numPartitions
    // The default streamingStart is Long.MinValue, where `hi - lo`
    // overflows; such a range is unsliceable (strides would also
    // overflow), so the first backlog reads as one partition unless
    // the user sets a finite `streamingstart`.
    val range = try Some(Math.subtractExact(hi, lo)) catch {
      case _: ArithmeticException => None
    }
    if (hi <= lo) Array.empty
    else if (n <= 1 || range.forall(_ < n)) {
      Array(RemotePartition(0, Some(s"$q > $lo AND $q <= $hi")))
    } else {
      val stride = (hi - lo) / n
      (0 until n).map { i =>
        val a = lo + i * stride
        val b = if (i == n - 1) hi else lo + (i + 1) * stride
        RemotePartition(i, Some(s"$q > $a AND $q <= $b")): InputPartition
      }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RemoteReaderFactory(opts, remoteSchema, transformedSchema, required,
      pushedSql, limit = None, sortSql = Nil, offset = None, agg = None,
      isCommand = false)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def deserializeOffset(json: String): Offset = RemoteOffset(json.toLong)
}
