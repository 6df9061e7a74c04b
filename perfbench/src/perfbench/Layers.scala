package perfbench

import scala.collection.mutable

/** The per-layer metric catalogue and its computation from the traced
  * spans. Every traced run prints every metric; a layer a workload does
  * not exercise reads 0.
  */
object Layers {
  val Templates: Seq[String] = Seq("flagship", "label_prop", "rel_count",
    "effectivity", "shortest_path", "topk", "exists", "with_agg")
  val Kernels: Seq[String] = Seq("pagerank", "lpa", "kcore", "scc",
    "louvain", "sssp")
  val TextQueries: Seq[String] = Seq("l2_minhash_lsh", "l2b2_simhash_neardup",
    "l2c_ngram_jaccard", "l34_verified_neardup", "l48_containment",
    "l27_source_overlap")

  /** (name, unit) of every per-layer metric, in print order. */
  val catalogue: Seq[(String, String)] =
    Seq("cypher.parse_ms" -> "ms", "cypher.build_ms" -> "ms",
      "cypher.build_jobs" -> "count", "cypher.rejected" -> "count") ++
      Templates.flatMap(t => Seq(s"cypher.$t.build_ms" -> "ms",
        s"cypher.$t.jobs" -> "count")) ++
      Seq("catalyst.plan_ms" -> "ms", "catalyst.plan_operators" -> "count") ++
      Seq("action_ms" -> "ms", "jobs" -> "count", "stages" -> "count",
        "tasks" -> "count", "ms_per_job" -> "ms", "driver_gap_ms" -> "ms",
        "task_run_ms" -> "ms", "task_skew" -> "ratio",
        "shuffle_read_bytes" -> "bytes", "shuffle_write_bytes" -> "bytes",
        "spill_bytes" -> "bytes", "result_rows" -> "count")
        .map { case (n, u) => s"exec.$n" -> u } ++
      Kernels.flatMap(k => Seq(s"graphops.$k.call_ms" -> "ms",
        s"graphops.$k.action_ms" -> "ms", s"graphops.$k.jobs" -> "count",
        s"graphops.$k.shuffle_bytes" -> "bytes",
        s"graphops.$k.driver_gap_ms" -> "ms")) ++
      Seq("xmlingest.ms" -> "ms", "xmlingest.jobs" -> "count",
        "xmlingest.nodes_per_doc" -> "count",
        "xmlingest.input_bytes" -> "bytes") ++
      Seq("store.commit_ms" -> "ms", "store.commit_jobs" -> "count",
        "store.compactions" -> "count", "store.compact_commit_ms" -> "ms",
        "store.bytes_written_per_input_byte" -> "ratio",
        "store.live_bytes_per_node" -> "bytes",
        "store.empty_commit_share" -> "ratio", "store.load_ms" -> "ms",
        "store.chain_len_mean" -> "count",
        "ingest.read_after_write_p50_ms" -> "ms") ++
      TextQueries.flatMap(q => Seq(s"text.$q.ms" -> "ms",
        s"text.$q.jobs" -> "count", s"text.$q.shuffle_bytes" -> "bytes",
        s"text.$q.spill_bytes" -> "bytes")) ++
      Seq("chat.repeat_share" -> "ratio", "bench.gen_s" -> "s",
        "bench.trace_overhead" -> "ratio", "bench.samples" -> "count")

  /** Per-layer values from the spans plus the run's counters. */
  def compute(b: Bench): Map[String, Double] = {
    val tr = b.tr
    tr.drain()
    val out = mutable.LinkedHashMap.empty[String, Double]
    def named(n: String, tag: String = null): Seq[Span] =
      tr.spans.toSeq.filter(s => s.name == n && (tag == null || s.tag == tag))
    def med(ss: Seq[Span]): Double = Stats.median(ss.map(_.durMs))
    def meanJobs(ss: Seq[Span]): Double =
      Stats.mean(ss.map(s => tr.allJobs(s).size.toDouble))
    def accs(s: Span): Seq[StageAcc] = tr.allJobs(s).flatMap(tr.stageAcc)
    def meanOf(ss: Seq[Span])(f: Seq[StageAcc] => Double): Double =
      Stats.mean(ss.map(s => f(accs(s))))

    out("cypher.parse_ms") = med(named("cypher.parse"))
    out("cypher.build_ms") = med(named("cypher.build"))
    out("cypher.build_jobs") = meanJobs(named("cypher.build"))
    out("cypher.rejected") = b.counters.getOrElse("cypher.rejected", 0.0)
    Templates.foreach { t =>
      out(s"cypher.$t.build_ms") = med(named("cypher.build", t))
      out(s"cypher.$t.jobs") = meanJobs(named("cypher.statement", t))
    }
    val plans = named("catalyst.plan")
    out("catalyst.plan_ms") = med(plans)
    out("catalyst.plan_operators") = Stats.mean(plans.map(_.count.toDouble))

    val acts = named("exec.action")
    val actAccs = acts.flatMap(accs)
    out("exec.action_ms") = med(acts)
    out("exec.jobs") = meanJobs(acts)
    out("exec.stages") = meanOf(acts)(_.count(_.tasks > 0).toDouble)
    out("exec.tasks") = meanOf(acts)(_.map(_.tasks).sum.toDouble)
    val actJobs = acts.map(s => tr.allJobs(s).size).sum
    out("exec.ms_per_job") =
      if (actJobs == 0) 0.0 else acts.map(_.durMs).sum / actJobs
    out("exec.driver_gap_ms") = Stats.median(acts.map(tr.driverGapMs))
    out("exec.task_run_ms") = meanOf(acts)(_.map(_.runMs).sum.toDouble)
    out("exec.task_skew") = Stats.median(actAccs.filter(_.taskMs.size >= 2)
      .map { a =>
        val ms = a.taskMs.map(_.toDouble).toSeq
        ms.max / math.max(1.0, Stats.median(ms))
      })
    out("exec.shuffle_read_bytes") = meanOf(acts)(_.map(_.shuffleRead).sum.toDouble)
    out("exec.shuffle_write_bytes") = meanOf(acts)(_.map(_.shuffleWrite).sum.toDouble)
    out("exec.spill_bytes") = meanOf(acts)(_.map(_.spill).sum.toDouble)
    out("exec.result_rows") =
      Stats.mean(acts.filter(_.rows >= 0).map(_.rows.toDouble))

    Kernels.foreach { k =>
      val whole = named("graphops.kernel", k)
      out(s"graphops.$k.call_ms") = med(named("graphops.call", k))
      out(s"graphops.$k.action_ms") = med(named("exec.action", s"graphops.$k"))
      out(s"graphops.$k.jobs") = meanJobs(whole)
      out(s"graphops.$k.shuffle_bytes") =
        meanOf(whole)(_.map(_.shuffleWrite).sum.toDouble)
      out(s"graphops.$k.driver_gap_ms") =
        Stats.median(whole.map(tr.driverGapMs))
    }

    val xml = named("xmlingest")
    out("xmlingest.ms") = med(xml)
    out("xmlingest.jobs") = meanJobs(xml)
    def ratio(a: String, bb: String): Double = {
      val d = b.counters.getOrElse(bb, 0.0)
      if (d == 0) 0.0 else b.counters.getOrElse(a, 0.0) / d
    }
    out("xmlingest.nodes_per_doc") = ratio("xmlingest.nodes", "xmlingest.docs")
    out("xmlingest.input_bytes") = ratio("xmlingest.bytes", "xmlingest.calls")

    val commits = named("store.commit")
    out("store.commit_ms") = med(commits)
    out("store.commit_jobs") = meanJobs(commits)
    out("store.compactions") = b.counters.getOrElse("store.compactions", 0.0)
    out("store.compact_commit_ms") = med(named("store.commit", "compact"))
    out("store.bytes_written_per_input_byte") =
      ratio("store.bytes_written", "store.input_bytes")
    out("store.live_bytes_per_node") = ratio("store.live_bytes", "store.nodes")
    out("store.empty_commit_share") = ratio("store.empty_commits", "store.commits")
    out("store.load_ms") = med(named("store.load"))
    out("store.chain_len_mean") = ratio("store.chain_sum", "store.commits")
    out("ingest.read_after_write_p50_ms") =
      Stats.median(b.lat.getOrElse("read_after_write", Nil).toSeq)

    TextQueries.foreach { q =>
      val ss = named("text.query", q)
      out(s"text.$q.ms") = med(ss)
      out(s"text.$q.jobs") = meanJobs(ss)
      out(s"text.$q.shuffle_bytes") = meanOf(ss)(_.map(_.shuffleWrite).sum.toDouble)
      out(s"text.$q.spill_bytes") = meanOf(ss)(_.map(_.spill).sum.toDouble)
    }
    Seq("chat.repeat_share", "bench.gen_s", "bench.trace_overhead",
      "bench.samples").foreach(k => out(k) = b.counters.getOrElse(k, 0.0))
    out.toMap
  }
}
