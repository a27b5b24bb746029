package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same
  * clock as the listener events' timestamps.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Process-wide counters that need no listener: bytes written through
  * the Hadoop local file system, whole-stage-codegen compilation, GC
  * and JIT time.
  */
object ProcessCounters {
  def fsBytesWritten(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten")).map(_.longValue))
      .getOrElse(0L)

  def snapshot(): Map[String, Double] = Map(
    "fs_bytes_written" -> fsBytesWritten().toDouble,
    "codegen_compile_ns" ->
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime.toDouble,
    "codegen_classes" ->
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "jvm_gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum.toDouble,
    "jvm_jit_ms" -> Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime.toDouble).getOrElse(0.0))
}

/** Rows produced by the parquet scans of a finished query whose root
  * path starts with `prefix`: how much of a layer a stage read.
  */
object ScanRows extends AdaptiveSparkPlanHelper {
  def under(plan: SparkPlan, prefix: String): Long =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(prefix)) =>
        s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
}

/** One traced interval at a layer boundary. `parent` is -1 for an
  * operation's root span.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      round: Int, op: Int, start: Double, end: Double,
                      counters: Map[String, Double])

final case class JobRec(id: Int, start: Double, var end: Double, tables: Boolean)

/** Counts Spark's job, stage and task events and the rows each finished
  * query scanned from the bronze layer. Everything stays in memory until
  * the run ends.
  */
final class Tracer(bronzePrefix: String)
    extends SparkListener with QueryExecutionListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]

  private def add(k: String, v: Double): Unit = c(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // a job's call site is its stages' short name, e.g.
    // "parquet at Tables.scala:26" for a schema-inference job
    val tables = e.stageInfos.exists(_.name.contains("Tables.scala"))
    jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, Double.NaN, tables)
    add("jobs", 1)
    if (tables) add("tables_jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time.toDouble
      if (j.tables) add("tables_job_ms", j.end - j.start)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { add("stages", 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_ms", m.executorRunTime.toDouble)
      add("task_cpu_ns", m.executorCpuTime.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spill_bytes", m.diskBytesSpilled.toDouble)
      add("records_read", m.inputMetrics.recordsRead.toDouble)
      add("records_written", m.outputMetrics.recordsWritten.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val rows = ScanRows.under(qe.executedPlan, bronzePrefix).toDouble
    synchronized { add("bronze_scan_rows", rows) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot(): Map[String, Double] = synchronized(c.toMap)

  def jobRecords(): Seq[JobRec] = synchronized(jobs.values.toList)
}

/** Records spans around the benchmark's calls into the program. When
  * tracing is off it only times the calls, with no listener attached.
  */
final class Spans(spark: SparkSession, val tracer: Option[Tracer]) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  private def counters(): Map[String, Double] = tracer match {
    case Some(t) =>
      org.apache.spark.PerfbenchListenerBus.drain(spark.sparkContext)
      t.snapshot() ++ ProcessCounters.snapshot()
    case None => Map.empty
  }

  /** Runs `body` inside a span; untraced runs skip the bookkeeping. */
  def apply[T](name: String, layer: String, round: Int, op: Int)(body: => T): T =
    if (tracer.isEmpty) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val before = counters()
      val start = Clock.ms()
      try body
      finally {
        val end = Clock.ms()
        val after = counters()
        stack = stack.tail
        spans += Span(id, parent, name, layer, round, op, start, end,
          after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) })
      }
    }
}
