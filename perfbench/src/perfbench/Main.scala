package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

/** What a workload hands back: median set-up seconds, the latency of
  * each timed operation, and work units completed per second.
  */
final case class Result(setupS: Double, opMs: Seq[Double], perSecond: Double)

/** Benchmark entry point:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *  --work DIR --state DIR --trace-out FILE`.
  * Prints a summary, then one JSON line with the metrics as the last
  * line of standard output.
  */
object Main {
  val Workloads: Map[String, Bench => Result] = Map(
    "sb_chat" -> SbChat.run,
    "sb_ingest" -> SbIngest.run,
    "graph_analytics" -> GraphAnalytics.run,
    "corpus_dedup" -> CorpusDedup.run)

  /** (name, unit) of the end-to-end metrics. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s",
    "p50_ms" -> "ms", "throughput_per_s" -> "1/s",
    "ok_rate" -> "ratio", "peak_rss_mb" -> "MB")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String): String = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", Paths.get(get("--work")),
      Paths.get(get("--state")), Paths.get(get("--trace-out")))
  }

  def main(argv: Array[String]): Unit =
    try run(argv)
    catch {
      case e: Throwable =>
        // Spark's non-daemon threads would keep the JVM alive
        e.printStackTrace()
        System.exit(1)
    }

  def run(argv: Array[String]): Unit = {
    val args = parse(argv)
    val workload = Workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    val cores = Runtime.getRuntime.availableProcessors()
    // the session posture of graft.Bench: AQE on, shuffle partitions =
    // cores, UTC; scratch space stays inside the work directory
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val b = new Bench(spark, args)
    val r = workload(b)
    val ok = b.wrong.isEmpty
    val metrics: Seq[(String, Double, String)] =
      if (args.trace) {
        val layers = Layers.compute(b)
        b.tr.writeJsonl(args.traceOut)
        Layers.catalogue.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) }
      } else {
        val v = Map(
          "setup_s" -> r.setupS,
          "p50_ms" -> Stats.median(r.opMs),
          "throughput_per_s" -> r.perSecond,
          "ok_rate" -> (b.attempted - b.failed).toDouble / b.attempted,
          "peak_rss_mb" -> Bench.peakRssMb)
        EndToEnd.map { case (n, u) => (n, v(n), u) }
      }
    b.lat.foreach { case (name, xs) =>
      val hi = Stats.highPct(xs.size).filter(_ > 50)
        .map(q => f", p$q%s ${Stats.pct(xs.toSeq, q)}%.1f ms").getOrElse("")
      println(f"timing $name: median ${Stats.median(xs.toSeq)}%.1f ms$hi, n=${xs.size}")
    }
    println(s"digest ${b.digest.hex}; setup reps ${b.counters.getOrElse("setup.reps", 0.0).toInt}")
    b.timedOut.foreach(n => println(s"deadline passed: $n"))
    b.wrong.foreach(w => println(s"check failed: $w"))
    val js = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0.0" else v.toString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": $ok, "attempted": ${b.attempted}, "failed": ${b.failed}, "metrics": $js}""")
    System.out.flush()
    b.shutdown()
    spark.stop()
    System.exit(0)
  }
}
