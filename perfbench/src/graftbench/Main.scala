package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, xxhash64}

import scala.collection.mutable

/** Shared state of one benchmark run: the session, the tracer, and the
  * tally of checked operations.
  */
final class Run(val spark: SparkSession, val cores: Int, val seconds: Double,
    val trace: Boolean, val work: String) {
  val tracer = new Tracer(spark)
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  private val noted = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  /** Records one pass's value of a per-layer number only the workload
    * knows (voxels, files, ...); the run reports the median.
    */
  def note(key: String, v: Double): Unit =
    noted.getOrElseUpdate(key, mutable.ArrayBuffer.empty[Double]) += v

  def noteMedian(key: String): Double = Main.median(noted.get(key).toSeq.flatten)

  /** Logs a set-up milestone with the seconds since the JVM started. */
  def mark(what: String): Unit = {
    val t = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"[bench] $t%7.2f s $what")
  }

  /** Runs one checked operation. It fails if it throws or if `check`
    * returns an error message.
    */
  def op[T](name: String)(body: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    val r = try {
      val v = body
      check(v) match {
        case None => Right(v)
        case Some(msg) => Left(msg)
      }
    } catch { case e: Throwable => Left(e.toString.take(300)) }
    r match {
      case Right(v) => Some(v)
      case Left(msg) =>
        failed += 1
        errors += s"$name: $msg"
        System.err.println(s"[bench] FAILED $name: $msg")
        None
    }
  }

  /** Writes dirty file pages back before a timed pass, so that the
    * writes of set-up or of the previous pass are not flushed in the
    * middle of it.
    */
  private def flushDisk(): Unit = {
    val p = new ProcessBuilder("sync").inheritIO().start()
    p.waitFor(): Unit
  }

  /** Timed passes until `seconds` have gone by (at least `minPasses`).
    * In a traced run, passes alternate between traced and untraced, so
    * that tracing overhead can be reported. Returns per-pass timings as
    * (iteration, traced, seconds).
    */
  def passes(minPasses: Int)(pass: Int => Double): Seq[(Int, Boolean, Double)] = {
    val out = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    val t0 = System.nanoTime()
    var i = 1
    while (out.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      flushDisk()
      val traced = trace && i % 2 == 1
      if (traced) tracer.attach() else tracer.detach()
      val s = pass(i)
      tracer.detach()
      out += ((i, traced, s))
      val parts = tracer.spans.filter(sp => sp.iteration == i && sp.parent == "pass")
        .map(sp => f"${sp.name} ${sp.seconds}%.2f").mkString(", ")
      System.err.println(f"[bench] pass $i%d${if (traced) " (traced)" else ""}%s: $s%.3f s ($parts)")
      i += 1
    }
    out.toList
  }
}

object Main {

  /** Every layer the benchmark reports, named after the engine's modules. */
  val Layers: Seq[String] = Seq(
    "sources.ingest", "octree.pyramid", "octree.write", "octree.readback",
    "octree.incremental", "octree.resume",
    "relational", "ops.graph", "ops.dedup", "ops.similarity", "ops.text")

  /** Layers that also report plan-phase time. */
  val Planned: Seq[String] = Seq("relational", "ops.graph", "ops.dedup", "ops.similarity", "ops.text")

  /** Workload-specific per-layer numbers (0 where the workload does not
    * reach the layer).
    */
  val Specific: Seq[String] = Seq(
    "sources.ingest.voxels", "octree.pyramid.rows", "octree.write.files",
    "octree.write.bytes", "octree.write.bytes_per_voxel", "octree.readback.files",
    "octree.resume.skip_ratio", "octree.incremental.vs_full_ratio")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Full evaluation of every output column: an order-free XOR of a
    * 64-bit row hash, so no projection can be pruned away.
    */
  def rowHash(df: DataFrame): Long = {
    val h = xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
    df.select(h.as("h")).agg(expr("bit_xor(h)")).collect()(0).getLong(0)
  }

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  private def need(args: Array[String], name: String): String =
    arg(args, name).getOrElse(throw new IllegalArgumentException(s"missing $name"))

  def main(args: Array[String]): Unit = {
    val workload = need(args, "--workload")
    val data = need(args, "--data")
    val work = need(args, "--work")
    val out = need(args, "--out")
    val seconds = need(args, "--seconds").toDouble
    val trace = need(args, "--trace") == "1"
    val cores = need(args, "--cores").toInt
    val queries = arg(args, "--queries").map(_.split(",").toSeq.filter(_.nonEmpty))

    val spark = graft.GraftSession("graftbench", cores)
    graft.OpCache.disable()
    val run = new Run(spark, cores, seconds, trace, work)
    run.mark("session ready")
    val timed = try workload match {
      case "octree" => OctreeWork(run, data)
      case "analytics_sf01" => AnalyticsWork(run, data, queries)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        run.failed += 1
        run.attempted += 1
        run.errors += s"workload aborted: $e"
        Result(0L, Nil)
    }
    run.mark("passes done")
    spark.stop()
    Files.writeString(Paths.get(out), resultJson(run, timed))
    if (trace) Files.writeString(Paths.get(work, "spans.json"), run.tracer.spansJson)
  }

  /** What a workload hands back: when set-up ended (epoch ms) and the
    * timed passes.
    */
  final case class Result(readyEpochMs: Long, passes: Seq[(Int, Boolean, Double)])

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else BigDecimal(d).bigDecimal.toPlainString

  private def resultJson(run: Run, r: Result): String = {
    val untraced = r.passes.filterNot(_._2).map(_._3)
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    if (run.trace) metrics ++= layerMetrics(run, r)
    val errs = run.errors.map(e => "\"" + e.replace("\\", "\\\\").replace("\"", "'")
      .replace("\n", " ") + "\"").mkString("[", ",", "]")
    val ms = metrics.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    s"""{"ready_epoch_ms":${r.readyEpochMs},"pass_s":[${untraced.map(num).mkString(",")}],""" +
      s""""passes":${r.passes.size},"attempted":${run.attempted},"failed":${run.failed},""" +
      s""""errors":$errs,"layers":$ms}""" + "\n"
  }

  /** Per-layer medians over the traced passes. */
  private def layerMetrics(run: Run, r: Result): Seq[(String, Double)] = {
    val traced = r.passes.filter(_._2).map(_._1)
    val spans = run.tracer.spans
    val m = mutable.LinkedHashMap.empty[String, Double]
    for (layer <- Layers) {
      val per = traced.map { i =>
        val ss = spans.filter(s => s.name == layer && s.iteration == i)
        val c = run.tracer.groups.get(s"$layer@$i")
        val busy = ss.map(_.seconds).sum
        (busy, c, run.tracer.planningSeconds(ss))
      }.filter(_._1 > 0)
      def med(f: ((Double, Counters, Double)) => Double): Double = median(per.map(f))
      m(s"$layer.busy_s") = med(_._1)
      m(s"$layer.jobs") = med(_._2.jobs.toDouble)
      m(s"$layer.tasks") = med(_._2.tasks.toDouble)
      m(s"$layer.shuffle_write_bytes") = med(_._2.shuffleWrite.toDouble)
      m(s"$layer.shuffle_read_bytes") = med(_._2.shuffleRead.toDouble)
      m(s"$layer.spill_bytes") = med(_._2.spill.toDouble)
      m(s"$layer.executor_cpu_s") = med(_._2.cpuNs / 1e9)
      m(s"$layer.gc_s") = med(_._2.gcMs / 1e3)
      m(s"$layer.idle_core_s") = med(p => p._1 * run.cores - p._2.runMs / 1e3)
      if (Planned.contains(layer)) m(s"$layer.planning_s") = med(_._3)
    }
    for (k <- Specific) m(k) = run.noteMedian(k)
    val tracedS = r.passes.filter(_._2).map(_._3)
    val plainS = r.passes.filterNot(_._2).map(_._3)
    m("trace.overhead_ratio") =
      if (tracedS.isEmpty || plainS.isEmpty) 0.0 else median(tracedS) / median(plainS)
    m.toSeq
  }
}
