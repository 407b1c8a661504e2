package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a named interval of one request, nested under
  * `parent` (0 = a request's root span).
  */
final case class Span(id: Long, parent: Long, name: String, reqId: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans are kept until the run ends and then
  * written out as JSON lines; nothing is recorded while `enabled` is
  * false, so untraced phases pay only a volatile read per span.
  */
final class Tracer {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val parents = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[T](name: String, reqId: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = parents.get()
      parents.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, stack.headOption.getOrElse(0L), name, reqId, t0,
          System.nanoTime()))
        parents.set(stack)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: String): Unit = {
    val om = Json.mapper
    val lines = all.sortBy(_.startNs).map { s =>
      val o = om.createObjectNode()
      o.put("id", s.id); o.put("parent", s.parent); o.put("name", s.name)
      o.put("request", s.reqId); o.put("start_ns", s.startNs)
      o.put("end_ns", s.endNs)
      om.writeValueAsString(o)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.asJava, java.nio.charset.StandardCharsets.UTF_8)
  }
}

/** Spark counters of one job group (one layer call of one request). */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, shuffleWrite, shuffleRead, spill, input, output = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
}

/** The benchmark's own SparkListener + QueryExecutionListener: job,
  * stage and task metrics are attributed to the submitting thread's job
  * group; Catalyst phase times (from each finished query's planning
  * tracker) go to `current`, which the traced replay sets around each
  * call while it runs one request at a time.
  */
final class Collector extends SparkListener with QueryExecutionListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, Counters]()
  @volatile var current: String = null

  def of(group: String): Counters =
    groups.computeIfAbsent(group, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).orNull
    if (g != null) {
      val c = of(g)
      c.synchronized { c.jobs += 1 }
      e.stageIds.foreach(stageGroup.put(_, g))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val c = of(g)
      c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val c = of(g)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.input += m.inputMetrics.bytesRead
          c.output += m.outputMetrics.bytesWritten
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val g = current
    if (g != null) {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val c = of(g)
      c.synchronized {
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Run `body` under job group `group` (and Catalyst attribution to
    * it), then wait for every listener event it caused.
    */
  def attributed[T](spark: SparkSession, group: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    current = group
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.PerfbenchBridge.drainListeners(sc)
      current = null
    }
  }
}
