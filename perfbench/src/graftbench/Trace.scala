package graftbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval. `iteration` is the pass it belongs to (0 for
  * set-up); `parent` is the enclosing span's name ("" at the top).
  */
final case class Span(name: String, parent: String, iteration: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task counters of one job group. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var recordsRead = 0L
}

/** Sums job and task metrics by the job group that launched them. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, Counters]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        groups.getOrElseUpdate(g, new Counters).jobs += 1
        e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = groups.getOrElseUpdate(g, new Counters)
      c.tasks += 1
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.recordsRead += m.inputMetrics.recordsRead
    }
  }

  def get(group: String): Counters = synchronized(groups.getOrElse(group, new Counters))
}

/** Records the plan phases (parsing, analysis, optimization, planning)
  * of every Dataset action as wall-clock intervals in epoch ms.
  */
final class PhaseListener extends QueryExecutionListener {
  private val phases = mutable.ArrayBuffer.empty[(Long, Long)]

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.values.foreach(p => phases += ((p.startTimeMs, p.endTimeMs)))
  }
  override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)

  def all: Seq[(Long, Long)] = synchronized(phases.toList)
}

/** Span recorder for the benchmark's own calls into the engine.
  *
  * Spans are always kept (the pass timings are made of them). While
  * [[attach]]ed, each [[layer]] call also runs under the job group
  * `<layer>@<iteration>`, and the two listeners above collect its
  * Spark counters and plan phases.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var parents: List[String] = Nil
  val groups = new GroupListener
  val plans = new PhaseListener
  private var tracing = false

  def attached: Boolean = tracing

  def attach(): Unit = if (!tracing) {
    sc.addSparkListener(groups)
    spark.listenerManager.register(plans)
    tracing = true
  }

  /** Stops collecting, after delivering the events already posted. */
  def detach(): Unit = if (tracing) {
    org.apache.spark.BusDrain(sc)
    sc.removeSparkListener(groups)
    spark.listenerManager.unregister(plans)
    tracing = false
  }

  def span[T](name: String, iteration: Int)(body: => T): T = {
    val parent = parents.headOption.getOrElse("")
    parents = name :: parents
    val t0 = System.nanoTime()
    try body
    finally {
      buf += Span(name, parent, iteration, t0 - nano0, System.nanoTime() - nano0)
      parents = parents.tail
    }
  }

  /** A call into one engine layer: a span plus, while attached, a job
    * group so its Spark work is attributed to it.
    */
  def layer[T](name: String, iteration: Int)(body: => T): T =
    span(name, iteration) {
      if (tracing) sc.setJobGroup(s"$name@$iteration", name, interruptOnCancel = false)
      try body finally if (tracing) sc.clearJobGroup()
    }

  def spans: Seq[Span] = buf.toList

  /** Plan-phase seconds that started inside the given spans. */
  def planningSeconds(of: Seq[Span]): Double = {
    val ms = plans.all.filter { case (s, _) =>
      val ns = s * 1000000L - epochNs0
      of.exists(sp => ns >= sp.startNs && ns <= sp.endNs)
    }.map { case (s, e) => e - s }.sum
    ms / 1000.0
  }

  /** Spans as JSON: name, start and end (seconds from the tracer's
    * creation), parent and iteration.
    */
  def spansJson: String = buf.map { s =>
    f"""{"name":"${s.name}","start":${s.startNs / 1e9}%.6f,"end":${s.endNs / 1e9}%.6f,""" +
      s""""parent":"${s.parent}","iteration":${s.iteration}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
