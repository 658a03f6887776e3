package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._

/** Span recorder for the traced run. Spans are kept in memory and written
  * out when the run ends; each has a name, start and end (`System.nanoTime`),
  * the id of the span it ran inside (-1 for an op's root span) and the op
  * id. When disabled, `span` only runs its body. Ops run on one thread, so
  * the open-span stack is plain state. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, name: String, op: Int, parent: Int, start: Long, var end: Long = -1L)

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, op, stack.headOption.fold(-1)(_.id), System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally { s.end = System.nanoTime(); stack = stack.tail }
    }

  def toJson: JValue = JArray(spans.toList.map(s => JObject(
    "id" -> JInt(s.id), "name" -> JString(s.name), "op" -> JInt(s.op),
    "parent" -> JInt(s.parent), "start_ns" -> JLong(s.start), "end_ns" -> JLong(s.end))))
}

/** Raw scheduler and query events of the traced run. Attribution to ops
  * happens afterwards (report.py): jobs carry the op's job group, stages
  * map to jobs through the job-start event, tasks to stages; query
  * executions carry their planning-tracker timestamps, which fall inside
  * one op's root span because ops run one at a time. */
final class EventLog extends SparkListener with QueryExecutionListener {
  private val jobs = ArrayBuffer.empty[JValue]
  private val jobEnds = ArrayBuffer.empty[JValue]
  private val tasks = ArrayBuffer.empty[JValue]
  private val queries = ArrayBuffer.empty[JValue]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs += JObject("job" -> JInt(e.jobId), "group" -> group.fold[JValue](JNull)(JString(_)),
      "time_ms" -> JLong(e.time), "stages" -> JArray(e.stageIds.toList.map(JInt(_))))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnds += JObject("job" -> JInt(e.jobId), "time_ms" -> JLong(e.time),
      "ok" -> JBool(e.jobResult == JobSucceeded))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    def metric(f: org.apache.spark.executor.TaskMetrics => Long): JValue = JLong(m.fold(0L)(f))
    tasks += JObject(
      "stage" -> JInt(e.stageId),
      "failed" -> JBool(!e.taskInfo.successful),
      "launch_ms" -> JLong(e.taskInfo.launchTime),
      "finish_ms" -> JLong(e.taskInfo.finishTime),
      "run_ms" -> metric(_.executorRunTime),
      "cpu_ns" -> metric(_.executorCpuTime),
      "deser_ms" -> metric(_.executorDeserializeTime),
      "result_ser_ms" -> metric(_.resultSerializationTime),
      "getting_result_ms" -> JLong(if (e.taskInfo.gettingResultTime > 0)
        e.taskInfo.finishTime - e.taskInfo.gettingResultTime else 0L),
      "shuffle_write_bytes" -> metric(_.shuffleWriteMetrics.bytesWritten),
      "shuffle_read_bytes" -> metric(t =>
        t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead),
      "spill_bytes" -> metric(t => t.memoryBytesSpilled + t.diskBytesSpilled),
      "result_bytes" -> metric(_.resultSize))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    query(qe, durationNs, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    query(qe, 0L, ok = false)

  private def query(qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): JValue = JLong(phases.get(p).fold(0L)(_.durationMs))
    val at = phases.values.map(_.endTimeMs).foldLeft(0L)(math.max)
    val nodes = scala.util.Try(qe.optimizedPlan.collect { case n => n }.size).getOrElse(0)
    synchronized {
      queries += JObject("time_ms" -> JLong(at), "ok" -> JBool(ok),
        "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"), "optimized_nodes" -> JInt(nodes),
        "duration_ms" -> JDouble(durationNs / 1e6))
    }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Blocks until the listener bus has delivered every posted event (the
    * bus is asynchronous; its drain call is Spark-internal, hence the
    * reflective call). */
  def drain(spark: SparkSession): Unit = {
    val bus = classOf[org.apache.spark.SparkContext].getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def uninstall(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def toJson: JValue = synchronized(JObject(
    "jobs" -> JArray(jobs.toList), "job_ends" -> JArray(jobEnds.toList),
    "tasks" -> JArray(tasks.toList), "queries" -> JArray(queries.toList)))
}

/** JVM-wide counters sampled before and after each traced op: codegen
  * compiles (Spark's `CodegenMetrics`), Janino compile time, GC time. */
object Counters {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def codegenCompileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Live heap: heap in use right after a full collection. */
  def heapAfterGcMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def sample(): Map[String, Double] = Map(
    "codegen.compiles" -> codegenCompiles.toDouble,
    "codegen.compile_ms" -> codegenCompileNs / 1e6,
    "jvm.gc_ms" -> gcMs.toDouble)
}
