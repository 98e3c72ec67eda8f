package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{FilePartition, InsertIntoHadoopFsRelationCommand}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around every call the benchmark makes into the program, and —
  * when tracing — the Spark jobs, stages and query executions each call
  * caused, observed from outside through listeners the benchmark
  * registers. Everything stays in memory until [[dump]] at the end.
  *
  * A job belongs to the innermost span open when it started: the span id
  * rides on a local property set before the call. A query execution
  * belongs to the span open when its analysis began. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val qes = mutable.ArrayBuffer.empty[Qe]
  private val counters = mutable.LinkedHashMap.empty[String, Double]

  def enter(name: String, kind: String): Int = {
    val id = spans.size
    spans += Span(id, stack.headOption.getOrElse(-1), name, kind, Clock.ms, Double.NaN)
    stack = id :: stack
    if (on) sc.setLocalProperty(SpanProp, id.toString)
    id
  }

  def exit(id: Int, t0: Double, t1: Double): Unit = {
    spans(id) = spans(id).copy(t0 = t0, t1 = t1)
    stack = stack.tail
    if (on) sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
  }

  /** A span of its own (not an op): layer calls timed only when tracing. */
  def span[T](name: String, kind: String)(body: => T): T = {
    val id = enter(name, kind)
    val t0 = Clock.ms
    try body finally exit(id, t0, Clock.ms)
  }

  /** Add to a trace counter; counts made during set-up are kept apart. */
  def count(key: String, v: Double): Unit = synchronized {
    val k = if (stack.exists(spans(_).kind == "setup")) s"setup:$key" else key
    counters(k) = counters.getOrElse(k, 0.0) + v
  }

  if (on) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
        val p = Option(e.properties)
        val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
        jobs(e.jobId) = Job(e.jobId,
          p.flatMap(x => Option(x.getProperty(SpanProp))).map(_.toInt).getOrElse(-1),
          p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L),
          site, e.time.toDouble, Double.NaN, e.stageIds, ok = false)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
        jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(t1 = e.time.toDouble,
          ok = e.jobResult == JobSucceeded))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
        val i = e.stageInfo
        val m = i.taskMetrics
        if (m != null) stages(i.stageId) = Stage(i.stageId, i.numTasks,
          m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
          m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten)
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(funcName, qe, ok = true)
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
        record(funcName, qe, ok = false)
    })
  }

  private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val start = phases.get("analysis").map(_.startTimeMs.toDouble).getOrElse(Clock.ms)
    val plan = try Some(qe.executedPlan) catch { case _: Throwable => None }
    val nodes = plan.toSeq.flatMap(Tracer.nodes)
    def n(f: SparkPlan => Boolean) = nodes.count(f)
    val write = nodes.collectFirst {
      case d: DataWritingCommandExec => d.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
        case c => c.nodeName
      }
    }
    // the graft read path (GraftV2Scan / GraftDvScan behind a DSv2 scan);
    // the program's own metadata reads go through plain parquet scans
    val graftScans = nodes.collect {
      case b: BatchScanExec if b.scan.getClass.getSimpleName.startsWith("Graft") => b
    }
    val scanFiles = graftScans.map(_.inputPartitions.map {
      case f: FilePartition => f.files.length.toLong
      case _ => 1L
    }.sum).sum
    val scanRows = graftScans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
    synchronized {
      qes += Qe(qe.id, funcName, start, ms("analysis"), ms("optimization"), ms("planning"),
        n(_.isInstanceOf[Exchange]), n(_.isInstanceOf[ReusedExchangeExec]),
        n(p => p.isInstanceOf[BroadcastHashJoinExec] || p.isInstanceOf[BroadcastNestedLoopJoinExec]),
        n(_.isInstanceOf[SortMergeJoinExec]),
        n(p => p.isInstanceOf[BatchScanExec] || p.isInstanceOf[FileSourceScanExec]),
        scanFiles, scanRows, write, ok)
    }
  }

  /** Wait until every event posted so far reached the listeners. */
  def drain(): Unit = if (on) org.apache.spark.PerfbenchBus.drain(sc)

  def dump(): Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "kind" -> s.kind, "t0" -> s.t0, "t1" -> s.t1)),
      "jobs" -> jobs.values.map(j => Map("id" -> j.id, "span" -> j.span, "exec" -> j.exec,
        "site" -> j.site, "t0" -> j.t0, "t1" -> j.t1, "stages" -> j.stages, "ok" -> j.ok)),
      "stages" -> stages.values.map(s => Map("id" -> s.id, "tasks" -> s.tasks,
        "run_s" -> s.runS, "cpu_s" -> s.cpuS, "shuffle_write_bytes" -> s.shuffleWrite,
        "shuffle_read_bytes" -> s.shuffleRead, "spill_bytes" -> s.spill,
        "input_bytes" -> s.input, "input_records" -> s.inputRecords,
        "output_bytes" -> s.output)),
      "queries" -> qes.map(q => Map("exec" -> q.exec, "func" -> q.func, "t" -> q.t,
        "analysis_ms" -> q.analysisMs, "optimization_ms" -> q.optimizationMs,
        "planning_ms" -> q.planningMs, "exchanges" -> q.exchanges,
        "reused_exchanges" -> q.reused, "broadcast_joins" -> q.bhj,
        "sort_merge_joins" -> q.smj, "file_scans" -> q.scans,
        "graft_scan_files" -> q.scanFiles, "graft_scan_rows" -> q.scanRows,
        "writes" -> q.writes, "ok" -> q.ok)),
      "counters" -> counters.toMap)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, kind: String, t0: Double, t1: Double)
  final case class Job(id: Int, span: Int, exec: Long, site: String, t0: Double, t1: Double,
                       stages: Seq[Int], ok: Boolean)
  final case class Stage(id: Int, tasks: Int, runS: Double, cpuS: Double, shuffleWrite: Long,
                         shuffleRead: Long, spill: Long, input: Long, inputRecords: Long,
                         output: Long)
  final case class Qe(exec: Long, func: String, t: Double, analysisMs: Double,
                      optimizationMs: Double, planningMs: Double, exchanges: Int, reused: Int,
                      bhj: Int, smj: Int, scans: Int, scanFiles: Long, scanRows: Long,
                      writes: Option[String], ok: Boolean)

  /** Every node of a physical plan, looking through adaptive plans (the
    * final plan once executed), query stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _ => Nil
    }
    p +: (inner ++ p.children.flatMap(nodes) ++ p.subqueries.flatMap(nodes))
  }

  /** JVM time spent in garbage collection and JIT compilation so far. */
  def jvm(): Map[String, Double] = Map(
    "gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3,
    "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3)

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
