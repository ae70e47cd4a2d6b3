package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run. Times are epoch milliseconds; `parent` is
  * -1 for a root. */
final case class Span(id: Int, name: String, start: Double, end: Double,
    parent: Int, opId: Int)

/** The traced run's recorder, built only from Spark's public surfaces:
  * a SparkListener for jobs, stages and tasks, a QueryExecutionListener
  * for every query an op runs (its `tracker` gives the planning phases,
  * its executed plan the scan row counts). Between `begin` and `end` all
  * events belong to the current op; `end` waits for the listener bus, so
  * no event of one op lands in the next. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private final class StageAgg {
    var tasks = 0
    var durMs, runMs, cpuMs, gcMs, maxDurMs = 0.0
    var shuffleRead, shuffleWrite, spill = 0L
    var scan = false
    var submitted, completed = Double.NaN
  }

  private val jobStart = mutable.LinkedHashMap.empty[Int, Double]
  private val jobEnd = mutable.Map.empty[Int, Double]
  private val jobStages = mutable.Map.empty[Int, Seq[Int]]
  private val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  private val qes = mutable.ArrayBuffer.empty[QueryExecution]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  private def stage(id: Int): StageAgg = stages.getOrElseUpdate(id, new StageAgg)

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time.toDouble
    jobStages(e.jobId) = e.stageIds
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnd(e.jobId) = e.time.toDouble
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId)
      s.submitted = i.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
      s.completed = i.completionTime.map(_.toDouble).getOrElse(Double.NaN)
      // a DSv2 scan runs as a DataSourceRDD; the only DSv2 source the
      // workloads read is graft-remote (parquet stays on the v1 path)
      s.scan = i.rddInfos.exists(_.name == "DataSourceRDD")
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    val dur = e.taskInfo.duration.toDouble
    s.tasks += 1
    s.durMs += dur
    s.maxDurMs = math.max(s.maxDurMs, dur)
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuMs += m.executorCpuTime / 1e6
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    synchronized { if (!qes.exists(_ eq qe)) qes += qe }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    onSuccess(f, qe, 0L)

  def begin(): Unit = synchronized {
    jobStart.clear(); jobEnd.clear(); jobStages.clear(); stages.clear()
    qes.clear()
  }

  def span(name: String, start: Double, end: Double, parent: Int,
      opId: Int): Int = synchronized {
    val id = nextId
    nextId += 1
    spans += Span(id, name, start, end, parent, opId)
    id
  }

  private def plans: Seq[SparkPlan] = qes.toSeq.map(_.executedPlan)

  private def remoteScans: Seq[BatchScanExec] = plans.flatMap(p =>
    collectWithSubqueries(p) {
      case b: BatchScanExec
          if b.scan.getClass.getName.startsWith("graft.sources") => b
    })

  /** Close op `opId` ([start, end] in epoch ms): record its spans and
    * return its layer counters. */
  def end(opId: Int, start: Double, end: Double): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val op = span("op", start, end, -1, opId)
      def clip(a: Double, b: Double) = (math.max(a, start), math.min(b, end))
      var planMs = 0.0
      for (qe <- qes; ph <- Seq("analysis", "optimization", "planning");
           p <- qe.tracker.phases.get(ph)) {
        val (a, b) = clip(p.startTimeMs.toDouble, p.endTimeMs.toDouble)
        if (b > a) {
          span(s"spark.plan.$ph", a, b, op, opId)
          planMs += b - a
        }
      }
      for ((j, js) <- jobStart) {
        val (a, b) = clip(js, jobEnd.getOrElse(j, end))
        val jid = span("spark.job", a, b, op, opId)
        for (sid <- jobStages.getOrElse(j, Nil); s <- stages.get(sid)
             if !s.submitted.isNaN) {
          span("spark.stage", s.submitted, s.completed, jid, opId)
        }
      }
      val all = stages.values
      def sum(f: StageAgg => Double) = all.iterator.map(f).sum
      val lastJobEnd = if (jobEnd.isEmpty) start else jobEnd.values.max
      val scans = remoteScans
      val rewrite = plans.exists { p =>
        p.toString.contains("__graft_bucket") || find(p)(
          _.getClass.getSimpleName == "TopKPerKeyExec").isDefined
      }
      Map(
        "spark.plan_ms" -> planMs,
        "spark.jobs" -> jobStart.size.toDouble,
        "spark.stages" -> all.count(!_.submitted.isNaN).toDouble,
        "spark.tasks" -> sum(_.tasks),
        "spark.task_overhead_ms" -> sum(s => s.durMs - s.runMs),
        "spark.task_ms" -> sum(_.runMs),
        "spark.task_cpu_ms" -> sum(_.cpuMs),
        "spark.stage_max_task_ms" -> sum(_.maxDurMs),
        "spark.shuffle_read_bytes" -> sum(_.shuffleRead.toDouble),
        "spark.shuffle_write_bytes" -> sum(_.shuffleWrite.toDouble),
        "spark.spill_bytes" -> sum(_.spill.toDouble),
        "spark.gc_ms" -> sum(_.gcMs),
        "sources.wire_rows" -> scans.map(
          _.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
          .toDouble,
        "sources.remote_scans" -> scans.size.toDouble,
        "sources.scan_ms" -> sum(s => if (s.scan) s.runMs else 0.0),
        "sources.job_tail_ms" -> (end - lastJobEnd),
        "plans.rewrite_hit" -> (if (rewrite) 1.0 else 0.0))
    }
  }
}
