package perfbench

import scala.collection.mutable
import scala.util.Random

import graft.graph.{CypherLite, GraphTables, XmlIngest}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Expected answers of the chat templates, derived from the generated
  * corpus alone.
  */
final class ChatModel(val sbs: IndexedSeq[Sb]) {
  val byDoc: Map[String, Sb] = sbs.map(s => s.docnbr -> s).toMap
  val partCount: Map[String, Int] = sbs.flatMap(_.sections.flatMap(_.parts))
    .groupBy(identity).map { case (k, v) => k -> v.size }
  /** Airplane → LineNumber hub edges: every type of a bulletin crosses
    * every line number of the same bulletin.
    */
  val typeLine: Set[(String, String)] =
    sbs.flatMap(s => for (t <- s.types; l <- s.lines) yield (t, l)).toSet
  val linesOf: Map[String, Set[String]] =
    typeLine.groupBy(_._1).map { case (t, ps) => t -> ps.map(_._2) }
  val typesOf: Map[String, Set[String]] =
    typeLine.groupBy(_._2).map { case (l, ps) => l -> ps.map(_._1) }
  val docsPerType: Map[String, Int] =
    sbs.flatMap(_.types).groupBy(identity).map { case (k, v) => k -> v.size }
  val lines: IndexedSeq[String] = sbs.flatMap(_.lines).distinct.sorted

  def effectivity(line: String): Int = {
    val ts = typesOf.getOrElse(line, Set.empty)
    sbs.count(_.types.exists(ts.contains))
  }

  def topk(k: Int): Seq[(String, Long)] =
    sbs.map(s => (s.docnbr, s.sections.size.toLong))
      .sortBy(p => (-p._2, p._1)).take(k)

  def withAgg(k: Int): Seq[(String, Long)] =
    docsPerType.toSeq.filter(_._2 >= k).map(p => (p._1, p._2.toLong))
      .sortBy(p => (-p._2, p._1)).take(5)

  /** Undirected hop distance between two bulletin roots over
    * HAS_AIRPLANES / effects / includes edges, if within `max` hops.
    */
  def pathLen(a: String, b: String, max: Int): Option[Int] = {
    def next(n: String): Seq[String] = n.split(":", 2) match {
      case Array("root", d) => Seq(s"air:$d")
      case Array("air", d) => s"root:$d" +: byDoc(d).types.map("type:" + _)
      case Array("type", t) =>
        sbs.filter(_.types.contains(t)).map("air:" + _.docnbr) ++
          linesOf.getOrElse(t, Set.empty).toSeq.map("line:" + _)
      case Array("line", l) => typesOf.getOrElse(l, Set.empty).toSeq.map("type:" + _)
      case _ => Nil
    }
    val dist = mutable.HashMap(s"root:$a" -> 0)
    val q = mutable.Queue(s"root:$a")
    while (q.nonEmpty) {
      val v = q.dequeue()
      if (dist(v) < max) next(v).foreach { u =>
        if (!dist.contains(u)) { dist(u) = dist(v) + 1; q += u }
      }
    }
    dist.get(s"root:$b")
  }
}

/** A statement drawn from one template, with the check of its rows. */
final case class Stmt(template: String, text: String, verify: Array[Row] => Unit)

/** sb_chat: a closed loop with one client. Each operation is one Cypher
  * read (`CypherLite.run` + collect) over a generated SB corpus that is
  * ingested once by `XmlIngest.ingest` and cached during set-up.
  * Statements cycle through the templates in a fixed order; parameters
  * follow a Zipf popularity, so some statement texts repeat exactly.
  */
object SbChat {
  val NDocs = 200
  val SetupReps = 3
  val MaxPathHops = 4
  /** Fewest rounds per run; a round is one statement of each template. */
  val MinRounds = 2

  /** The reference's flagship read: a bulletin's 3-hop neighbourhood. */
  def flagship(docnbr: String): String =
    s"MATCH (m:Boeing_Service_Bulletin {docnbr: '$docnbr'})-[*1..3]->(c) RETURN m, c"

  final class Schedule(m: ChatModel, seed: Long, b: Bench) {
    private val rnd = new Random(seed)
    private val docOrder = rnd.shuffle(m.sbs.map(_.docnbr))
    private val docZ = new Zipf(docOrder.size, 1.0, rnd)
    private val partZ = new Zipf(SbGen.NParts, 1.0, rnd)
    private val lineOrder = rnd.shuffle(m.lines)
    private val lineZ = new Zipf(lineOrder.size, 1.0, rnd)
    private def doc(): String = docOrder(docZ.next())
    private def rowsIs(n: Int)(r: Array[Row]): Unit =
      b.ensure(r.length == n, s"expected $n rows, got ${r.length}")
    private def pairsIs(want: Seq[(String, Long)])(r: Array[Row]): Unit = {
      val got = r.toSeq.map(x => (x.get(0).toString, x.get(1).toString.toLong))
      b.ensure(got == want, s"expected $want, got $got")
    }

    def next(t: String): Stmt = t match {
      case "flagship" =>
        val d = doc()
        Stmt(t, flagship(d), rowsIs(m.byDoc(d).flagshipRows))
      case "label_prop" =>
        val p = SbGen.partName(partZ.next())
        Stmt(t, s"MATCH (p:Part {content: '$p'}) RETURN p.docnbr",
          rowsIs(m.partCount.getOrElse(p, 0)))
      case "rel_count" =>
        val d = doc()
        val want = m.byDoc(d).hasCounts
        Stmt(t, s"MATCH (m {docnbr: '$d'})-[r]->(c) RETURN type(r), count(*) AS cnt",
          r => b.ensure(r.map(x => x.getString(0) -> x.getLong(1).toInt).toMap == want,
            s"relType census of $d differs from $want"))
      case "effectivity" =>
        val l = lineOrder(lineZ.next())
        Stmt(t, "MATCH (b:Boeing_Service_Bulletin)-[:HAS_AIRPLANES]->(e:Airplanes)" +
          s"-[:effects]->(a:Airplane)-[:includes]->(l:LineNumber {name: '$l'}) " +
          "RETURN DISTINCT b.docnbr", rowsIs(m.effectivity(l)))
      case "shortest_path" =>
        val a = doc()
        var z = doc()
        while (z == a) z = doc()
        val want = m.pathLen(a, z, MaxPathHops)
        Stmt(t, s"MATCH p = shortestPath((a:Boeing_Service_Bulletin {docnbr: '$a'})" +
          s"-[:HAS_AIRPLANES|effects|includes*1..$MaxPathHops]-" +
          s"(z:Boeing_Service_Bulletin {docnbr: '$z'})) RETURN a.docnbr, z.docnbr, length(p)",
          r => b.ensure(r.map(_.get(2).toString.toInt).toSeq == want.toSeq,
            s"path length $a -> $z: expected $want, got ${r.toSeq}"))
      case "topk" =>
        val k = Seq(3, 5, 10)(rnd.nextInt(3))
        Stmt(t, "MATCH (m:Boeing_Service_Bulletin)-[:HAS_SECTION]->(c) " +
          s"RETURN m.docnbr, count(c) AS n ORDER BY n DESC, m.docnbr LIMIT $k",
          pairsIs(m.topk(k)))
      case "exists" =>
        val d = doc()
        Stmt(t, s"MATCH (m:Section) WHERE m.docnbr = '$d' AND (m)-[:HAS_TABLE]->() " +
          "RETURN m.docnbr", rowsIs(m.byDoc(d).sections.count(_.table.nonEmpty)))
      case "with_agg" =>
        val k = Seq(1, 5, 10, 20)(rnd.nextInt(4))
        Stmt(t, "MATCH (m:Airplane)<-[:effects]-(e) WITH m, count(e) AS n " +
          s"WHERE n >= $k RETURN m.name, n ORDER BY n DESC, m.name LIMIT 5",
          pairsIs(m.withAgg(k)))
    }
  }

  /** One read: parse (traced runs only), build, plan (traced runs
    * only), collect.
    */
  def read(b: Bench, g: GraphTables, s: Stmt): Array[Row] = {
    val tr = b.tr
    tr.span("cypher.statement", s.template) {
      if (tr.enabled) tr.span("cypher.parse", s.template)(CypherLite.parse(s.text))
      val df = tr.span("cypher.build", s.template)(CypherLite.run(g, s.text)) match {
        case Right(df) => df
        case Left(err) =>
          b.bump("cypher.rejected")
          throw new CheckFailed(s"rejected: $err")
      }
      if (tr.enabled) tr.span("catalyst.plan", s.template) {
        val plan = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.inputPlan
          case p => p
        }
        tr.count(plan.collect { case p => p }.size)
      }
      tr.span("exec.action", s"cypher.${s.template}") {
        val rows = df.collect()
        tr.rows(rows.length)
        rows
      }
    }
  }

  def run(b: Bench): Result = {
    val genTimes = mutable.ArrayBuffer.empty[Double]
    val ((g, model), setupS) = Bench.setup(b, SetupReps, traceLast = true) { rep =>
      val t0 = System.nanoTime()
      val sbs = {
        val gen = new SbGen(b.args.seed)
        (0 until NDocs).map(gen.bulletin(_))
      }
      val dir = b.fresh(s"chat-xml-$rep")
      val bytes = SbGen.writeXml(dir, sbs)
      genTimes += Bench.secs(t0)
      val g = b.tr.span("xmlingest") {
        val g0 = XmlIngest.ingest(b.spark, s"$dir/*.xml", "chat")
        val g = GraphTables(g0.nodes.cache(), g0.edges.cache())
        val n = g.nodes.count()
        g.edges.count()
        b.bump("xmlingest.nodes", n.toDouble)
        b.bump("xmlingest.docs", NDocs)
        b.bump("xmlingest.bytes", bytes.toDouble)
        b.bump("xmlingest.calls")
        if (n != SbGen.expectedNodes(sbs))
          b.wrong += s"ingest: $n nodes, expected ${SbGen.expectedNodes(sbs)}"
        g
      }
      (g, new ChatModel(sbs))
    } { case (g, _) => g.nodes.unpersist(); g.edges.unpersist() } {
      case (g, model) =>
        // one statement per template, with parameters drawn from another
        // stream than the timed loop's
        val warm = new Schedule(model, b.args.seed + 1, b)
        Layers.Templates.foreach(t => read(b, g, warm.next(t)))
    }
    b.counters("bench.gen_s") = Stats.median(genTimes.toSeq)

    val sched = new Schedule(model, b.args.seed, b)
    val texts = mutable.ArrayBuffer.empty[String]
    val roundMs = Array(mutable.ArrayBuffer.empty[Double],
      mutable.ArrayBuffer.empty[Double])
    val t0 = System.nanoTime()
    var round = 0
    var lastS = 0.0
    while (Bench.another(b, t0, round, lastS, MinRounds)) {
      val traced = b.args.trace && round % 2 == 1
      b.tr.enabled = traced
      var sum = 0.0
      Layers.Templates.foreach { t =>
        val s = sched.next(t)
        texts += s.text
        val (ms, _) = b.op(t)(read(b, g, s)) { rows =>
          s.verify(rows)
          if (round == 0) b.digest.addAll(rows.map(s.text + "|" + _))
        }
        b.sample("read", ms)
        b.sample(t, ms)
        sum += ms
      }
      roundMs(if (traced) 1 else 0) += sum
      lastS = sum / 1000
      round += 1
    }
    b.tr.enabled = false
    val loopS = Bench.secs(t0)
    b.counters("chat.repeat_share") = 1.0 - texts.distinct.size.toDouble / texts.size
    b.counters("bench.samples") = texts.size
    if (b.args.trace)
      b.counters("bench.trace_overhead") =
        Stats.mean(roundMs(1).toSeq) / Stats.mean(roundMs(0).toSeq) - 1
    b.checkDigest(s"s${b.args.seed}-n$NDocs-h$MaxPathHops")
    Result(setupS, b.lat("read").toSeq, texts.size / loopS)
  }
}
