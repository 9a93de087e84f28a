package e2ebench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.E2eBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed layer call: `parent` is the span that caused it (0 = root). */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
    endNs: Long, attrs: Map[String, String])

/**
 * In-memory span recorder around the layer calls the benchmark makes.
 * Spans are only kept while `enabled`; the call itself always runs, so an
 * untraced run executes exactly the same work.
 */
final class Tracer {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }

  def span[T](name: String, attrs: (String, String)*)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.synchronized { spans += Span(id, parent, name, t0, t1, attrs.toMap) }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toSeq)

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.id).map { s =>
      Json.obj("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString,
        "attrs" -> Json.obj(s.attrs.toSeq.map { case (k, v) => k -> Json.str(v) }: _*))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Engine counters, in total and per job group (the benchmark tags the
  * jobs of each timed call with a group). */
final class EngineCounters extends SparkListener {
  final class C {
    val jobs, stages, tasks, runNs, cpuNs, gcMs, inputBytes, inputRecords,
      shuffleWrite, spill = new AtomicLong
  }
  val total = new C
  private val groups = new java.util.concurrent.ConcurrentHashMap[String, C]
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]

  def group(g: String): C = groups.computeIfAbsent(g, _ => new C)

  private def each(stageId: Int)(f: C => Unit): Unit = {
    f(total)
    Option(stageGroup.get(stageId)).foreach(g => f(group(g)))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    total.jobs.incrementAndGet()
    g.foreach { name =>
      group(name).jobs.incrementAndGet()
      e.stageIds.foreach(s => stageGroup.put(s, name))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    each(e.stageInfo.stageId)(_.stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) each(e.stageId) { c =>
      c.tasks.incrementAndGet()
      c.runNs.addAndGet(m.executorRunTime * 1000000L)
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      c.inputRecords.addAndGet(m.inputMetrics.recordsRead)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** Planning-phase time of every finished query (analysis, optimization,
  * physical planning), from the QueryExecution's own tracker. */
final class PlanTimes extends QueryExecutionListener {
  val planMs = new AtomicLong
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Everything a traced run attaches to the session, installed once. */
final class Tracing(spark: SparkSession) {
  val tracer = new Tracer
  val counters = new EngineCounters
  val plans = new PlanTimes
  private var installed = false

  def install(): Unit = if (!installed) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(plans)
    tracer.enabled = true
    installed = true
  }

  /** Run `body` with its jobs tagged as group `g` (traced runs only). */
  def grouped[T](g: String)(body: => T): T =
    if (!installed) body
    else {
      spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
      try body finally spark.sparkContext.clearJobGroup()
    }

  def drain(): Unit = E2eBridge.drainListeners(spark)

  /** Per-layer engine metrics common to every workload. */
  def engineMetrics(r: Report): Unit = {
    drain()
    val c = counters.total
    r.metric("spark.jobs", c.jobs.get.toDouble, "count")
    r.metric("spark.stages", c.stages.get.toDouble, "count")
    r.metric("spark.tasks", c.tasks.get.toDouble, "count")
    r.metric("spark.executor_run_s", c.runNs.get / 1e9, "s")
    r.metric("spark.executor_cpu_s", c.cpuNs.get / 1e9, "s")
    r.metric("spark.gc_s", c.gcMs.get / 1e3, "s")
    r.metric("spark.input_bytes", c.inputBytes.get.toDouble, "bytes")
    r.metric("spark.shuffle_write_bytes", c.shuffleWrite.get.toDouble, "bytes")
    r.metric("spark.spill_bytes", c.spill.get.toDouble, "bytes")
    r.metric("spark.plan_ms", plans.planMs.get.toDouble, "ms")
    r.metric("spark.cached_relations_left",
      E2eBridge.cachedRelations(spark).toDouble, "count")
    r.metric("trace.spans", tracer.all.size.toDouble, "count")
  }
}
