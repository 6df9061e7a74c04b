package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import graft.graph.{GraphStore, StreamingGraphIngest, XmlIngest}
import org.apache.spark.sql.functions.col

/** sb_ingest: a closed loop with a single writer. Each step generates one
  * batch of SB XML (new bulletins, unchanged re-deliveries and
  * revisions), commits it through `XmlIngest.ingest` →
  * `StreamingGraphIngest.toEnvelope` → `ingestBatch` into a fresh
  * `GraphStore`, then reads it back: `GraphStore.load` plus the flagship
  * read on a bulletin the batch just committed. The second step of
  * each compaction cycle re-delivers the previous batch unchanged, which must commit an empty
  * delta. The loop ends on a compaction, so a run covers whole
  * compaction cycles.
  */
object SbIngest {
  val BaseDocs = 40
  val BatchDocs = 6
  val SetupReps = 3
  /** Delta chain length at which `ingestBatch` compacts. */
  val MaxChain = 4
  /** Compaction cycles per run. */
  val MinCycles = 1

  /** The generated bulletins committed so far: first and latest version
    * of each, and how many revisions it has had.
    */
  final class StoreModel {
    val first = mutable.LinkedHashMap.empty[String, Sb]
    val latest = mutable.HashMap.empty[String, Sb]
    val types = mutable.HashSet.empty[String]
    val lines = mutable.HashSet.empty[String]
    def commit(sbs: Seq[Sb]): Unit = sbs.foreach { s =>
      if (!first.contains(s.docnbr)) first(s.docnbr) = s
      latest(s.docnbr) = s
      types ++= s.types
      lines ++= s.lines
    }
    /** Each revision adds one revision node and one rewritten step node;
      * MERGE keeps the superseded ones.
      */
    def flagshipRows(d: String): Int =
      first(d).flagshipRows + 2 * latest(d).revision
    def nodes: Long = first.values.map(_.ownNodes.toLong).sum +
      2L * latest.values.map(_.revision).sum + types.size + lines.size
  }

  final class Feed(seed: Long, model: StoreModel) {
    private val gen = new SbGen(seed)
    private val rnd = new Random(seed + 7)
    private var nextDoc = 0
    def newDocs(k: Int): Seq[Sb] = (0 until k).map { _ =>
      nextDoc += 1
      gen.bulletin(nextDoc - 1)
    }
    /** Half new bulletins, a quarter re-deliveries, a quarter revisions. */
    def batch(): Seq[Sb] = {
      val old = rnd.shuffle(model.first.keys.toVector).take(BatchDocs / 2)
      val (redeliver, revise) = old.splitAt(old.size / 2)
      newDocs(BatchDocs - old.size) ++ redeliver.map(model.latest) ++
        revise.map(d => gen.revise(model.latest(d)))
    }
  }

  /** Commit one batch: parse it, materialize the envelope once, merge it
    * into the store. Returns whether the commit compacted.
    */
  def commit(b: Bench, store: Path, xmlDir: Path, label: String,
      nDocs: Int, xmlBytes: Long): Boolean = {
    val env = b.tr.span("xmlingest") {
      val env = StreamingGraphIngest.toEnvelope(
        XmlIngest.ingest(b.spark, s"$xmlDir/*.xml", label)).persist()
      val kinds = env.groupBy(col("kind")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      b.bump("xmlingest.nodes", kinds.getOrElse("node", 0L).toDouble)
      b.bump("xmlingest.docs", nDocs)
      b.bump("xmlingest.bytes", xmlBytes.toDouble)
      b.bump("xmlingest.calls")
      env
    }
    val before = GraphStore.chainLength(store.toString)
    val compacted = before >= MaxChain
    val kind = if (before == 0) "snapshot" else if (compacted) "compact" else "delta"
    b.tr.span("store.commit", kind) {
      StreamingGraphIngest.ingestBatch(b.spark, env, store.toString,
        maxChain = MaxChain)
    }
    env.unpersist()
    compacted
  }

  def readBack(b: Bench, store: Path, d: String): Int = {
    val g = b.tr.span("store.load")(GraphStore.load(b.spark, store.toString))
    SbChat.read(b, g, Stmt("flagship", SbChat.flagship(d), _ => ())).length
  }

  def run(b: Bench): Result = {
    val genTimes = mutable.ArrayBuffer.empty[Double]
    def stage(name: String, sbs: Seq[Sb]): (Path, Long) = {
      val t0 = System.nanoTime()
      val dir = b.fresh(name)
      val bytes = SbGen.writeXml(dir, sbs)
      genTimes += Bench.secs(t0)
      (dir, bytes)
    }
    val ((store, model, feed), setupS) = Bench.setup(b, SetupReps) { rep =>
      val model = new StoreModel
      val feed = new Feed(b.args.seed, model)
      val base = feed.newDocs(BaseDocs)
      val (dir, bytes) = stage(s"base-$rep", base)
      val store = b.args.work.resolve(s"store-$rep")
      commit(b, store, dir, "base", base.size, bytes)
      model.commit(base)
      (store, model, feed)
    } { _ => () } { _ =>
      // a delta commit and its read-back on a small side store
      val side = b.args.work.resolve("warm-store")
      val wfeed = new Feed(b.args.seed + 1, new StoreModel)
      Seq(wfeed.newDocs(BatchDocs), wfeed.newDocs(BatchDocs)).zipWithIndex
        .foreach { case (sbs, i) =>
          val (wdir, wbytes) = stage(s"warm-$i", sbs)
          commit(b, side, wdir, s"w$i", sbs.size, wbytes)
          if (i == 1) readBack(b, side, sbs.head.docnbr)
        }
    }
    b.counters("bench.gen_s") = Stats.median(genTimes.toSeq)
    Seq("xmlingest.nodes", "xmlingest.docs", "xmlingest.bytes",
      "xmlingest.calls").foreach(b.counters.remove)

    val stepMs = Array(mutable.ArrayBuffer.empty[Double],
      mutable.ArrayBuffer.empty[Double])
    var committedDocs = 0L
    var stepSecs = 0.0
    var prev: Seq[Sb] = Nil
    var step = 0
    var lastCompacted = false
    var cycles = 0
    var cycleT0 = System.nanoTime()
    var cycleS = 0.0
    val t0 = System.nanoTime()
    // whole compaction cycles: the loop only stops right after one
    while (!lastCompacted || Bench.another(b, t0, cycles, cycleS, MinCycles)) {
      val traced = b.args.trace && cycles % 2 == 1
      b.tr.enabled = traced
      // the replay step of each cycle is never its compacting step
      val replay = step % MaxChain == 1
      val sbs = if (replay) prev else feed.batch()
      val (dir, bytes) = stage(s"step-$step", sbs)
      def cur = Paths.get(GraphStore.currentDir(store.toString))
      val (cms, res) = b.op("commit")(
        commit(b, store, dir, s"s$step", sbs.size, bytes)) { compacted =>
        // a compaction folds the delta away, so only a plain delta
        // commit can show that the replay merged nothing
        if (replay && !compacted)
          b.ensure(!Bench.hasParquet(cur), s"step $step re-delivered the " +
            "previous batch but committed a non-empty delta")
      }
      lastCompacted = res.getOrElse(false)
      if (res.isDefined) {
        model.commit(sbs)
        committedDocs += sbs.size
        b.bump("store.commits")
        b.bump("store.chain_sum", GraphStore.chainLength(store.toString))
        b.bump("store.input_bytes", bytes.toDouble)
        b.bump("store.bytes_written", Bench.dirBytes(cur).toDouble)
        if (!Bench.hasParquet(cur)) b.bump("store.empty_commits")
        if (lastCompacted) b.bump("store.compactions")
      }
      val d = sbs.head.docnbr
      val (rms, _) = b.op("read_after_write")(readBack(b, store, d)) { n =>
        b.ensure(n == model.flagshipRows(d),
          s"read-after-write $d: $n rows, expected ${model.flagshipRows(d)}")
      }
      b.sample("commit", cms)
      b.sample("read_after_write", rms)
      b.sample("step", cms + rms)
      stepSecs += (cms + rms) / 1000
      stepMs(if (traced) 1 else 0) += cms + rms
      deleteTree(dir)
      prev = sbs
      step += 1
      if (lastCompacted) {
        cycles += 1
        cycleS = Bench.secs(cycleT0)
        cycleT0 = System.nanoTime()
      }
    }
    b.tr.enabled = false
    b.counters("bench.samples") = step
    if (b.args.trace)
      b.counters("bench.trace_overhead") =
        Stats.mean(stepMs(1).toSeq) / Stats.mean(stepMs(0).toSeq) - 1

    b.check("store_contents") {
      val g = GraphStore.load(b.spark, store.toString)
      val bulletins = g.nodes.filter(col("label") === "Boeing_Service_Bulletin")
        .count()
      val nodes = g.nodes.count()
      b.counters("store.nodes") = nodes.toDouble
      b.counters("store.live_bytes") = Bench.dirBytes(store).toDouble
      b.ensure(bulletins == model.first.size,
        s"store holds $bulletins bulletins, generated ${model.first.size}")
      b.ensure(nodes == model.nodes,
        s"store holds $nodes nodes, expected ${model.nodes}")
      b.digest.add(s"nodes|$nodes|bulletins|$bulletins")
    }
    b.checkDigest(s"s${b.args.seed}-b$BaseDocs-$BatchDocs-c$MaxChain-n$step")
    Result(setupS, b.lat("step").toSeq, committedDocs / stepSecs)
  }

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))
    finally s.close()
  }
}
