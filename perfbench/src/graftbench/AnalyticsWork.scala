package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** analytics_sf01: a fixed mix of registry queries over the sf0.1 test
  * tables, grouped by the engine layer that implements them.
  *
  * Set-up runs the mix twice, untimed. The first run writes every result
  * as parquet (checked afterwards against the DuckDB oracle) and takes
  * each result's row hash from the parquet read-back. The second runs the
  * timed plan itself, so the first timed pass is each query's third
  * evaluation. Every evaluation after the first must reproduce the hash,
  * and the first must match the hash recorded for the query in
  * `<data>/row_hashes.txt` (lines of `<query> <hex hash>`).
  */
object AnalyticsWork {

  val Mix: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q5_join"),
    "ops.graph" -> Seq("graph_louvain"),
    "ops.dedup" -> Seq("dedup_minhash"),
    "ops.similarity" -> Seq("sim_nndescent"),
    "ops.text" -> Seq("text_encode"))

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(run: Run, data: String, only: Option[Seq[String]]): Main.Result = {
    val spark = run.spark
    val tr = run.tracer
    val mix = Mix.map { case (layer, qs) => layer -> qs.filter(q => only.forall(_.contains(q))) }
      .filter(_._2.nonEmpty)
    val names = mix.flatMap(_._2)
    val results = s"${run.work}/results"

    Files.writeString(Paths.get(run.work, "oracle_sql.json"), names
      .map(q => s"${quote(q)}: ${quote(SparkEntry.oracleSql(q))}").mkString("{", ",\n", "}\n"))

    val recorded: Map[String, Long] = Files.readAllLines(Paths.get(data, "row_hashes.txt"))
      .asScala.map(_.trim.split("\\s+")).collect {
        case Array(q, h) => q -> java.lang.Long.parseUnsignedLong(h, 16)
      }.toMap
    val ref: Map[String, Long] = names.flatMap { q =>
      run.op(s"$q (parquet)") {
        SparkEntry.queries(q)(spark, data).write.mode("overwrite").parquet(s"$results/$q")
        Main.rowHash(spark.read.parquet(s"$results/$q"))
      }(_ => None).map(q -> _)
    }.toMap
    for (q <- names; h <- ref.get(q)) run.op(s"$q (recorded)")(h) { h =>
      System.err.println(f"[bench] $q row hash $h%016x")
      recorded.get(q) match {
        case Some(r) if r == h => None
        case Some(r) => Some(f"row hash $h%016x differs from the recorded $r%016x")
        case None => Some("no recorded row hash")
      }
    }
    run.mark("results written")

    def sameHash(q: String)(h: Long): Option[String] =
      if (ref.get(q).contains(h)) None
      else Some(f"row hash $h%016x differs from the set-up result")

    for (q <- names)
      run.op(s"$q (warm-up)")(Main.rowHash(SparkEntry.queries(q)(spark, data)))(sameHash(q))
    run.mark("warm-up done")

    def pass(i: Int): Double = {
      for ((layer, qs) <- mix) tr.layer(layer, i) {
        for (q <- qs) run.op(q) {
          tr.span(q, i)(Main.rowHash(SparkEntry.queries(q)(spark, data)))
        }(sameHash(q))
      }
      tr.spans.filter(s => s.iteration == i && s.parent == "pass").map(_.seconds).sum
    }

    val ready = System.currentTimeMillis()
    val ps = run.passes(if (run.trace) 2 else 1)(i => tr.span("pass", i)(pass(i)))
    Main.Result(ready, ps)
  }
}
