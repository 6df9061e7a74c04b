package perfbench

import scala.collection.mutable

import graft.graph.{EdgeRow, GraphOps, GraphTables, NodeRow}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit

/** graph_analytics: a batch workload; each pass calls every kernel once
  * (`pageRank`, `labelPropagation`, `kCore`, `stronglyConnected`,
  * `louvain`, `weightedDistances`) on one generated graph with planted
  * communities, hubs, cycles and a core.
  */
object GraphAnalytics {
  val N = 4000
  val CoreK = 8
  val SetupReps = 3
  /** Per-call deadline; louvain gets the same order of budget as the
    * slowest other kernel at this size.
    */
  val DeadlineMs = 60000L
  val LouvainDeadlineMs = 4000L

  def planted(seed: Long, n: Int): PlantedGraph =
    GraphGen.generate(seed, n, communities = 20, avgOut = 5, hubs = 20,
      hubLinks = n, cycles = n / 200, coreSize = 15)

  def tables(spark: SparkSession, pg: PlantedGraph): GraphTables = {
    import spark.implicits._
    val nodes = spark.createDataset((0 until pg.n).map(i =>
      NodeRow(i.toLong, "Vertex", s"v$i", "", "", "g", Nil)))
    val edges = spark.createDataset(pg.edges.toSeq.map { case (s, d) =>
      EdgeRow(s, d, "LINK", "", "g") })
    GraphTables(nodes.cache(), edges.cache())
  }

  def call(spark: SparkSession, g: GraphTables, k: String, root: Long)
      : DataFrame = k match {
    case "pagerank" => GraphOps.pageRank(spark, g, 10)
    case "lpa" => GraphOps.labelPropagation(spark, g, 5)
    case "kcore" => GraphOps.kCore(spark, g, CoreK)
    case "scc" => GraphOps.stronglyConnected(spark, g)
    case "louvain" => GraphOps.louvain(spark, g)
    case "sssp" => GraphOps.weightedDistances(spark, g, Set(root), lit(1.0))
  }

  def kernel(b: Bench, g: GraphTables, k: String, root: Long): Array[Row] =
    b.tr.span("graphops.kernel", k) {
      val df = b.tr.span("graphops.call", k)(call(b.spark, g, k, root))
      b.tr.span("exec.action", s"graphops.$k") {
        val rows = df.collect()
        b.tr.rows(rows.length)
        rows
      }
    }

  def run(b: Bench): Result = {
    val genTimes = mutable.ArrayBuffer.empty[Double]
    val ((g, pg), setupS) = Bench.setup(b, SetupReps) { _ =>
      val t0 = System.nanoTime()
      val pg = planted(b.args.seed, N)
      genTimes += Bench.secs(t0)
      val g = tables(b.spark, pg)
      g.nodes.count()
      g.edges.count()
      GraphOps.toGraphX(g) // the kernels' shared GraphX view
      (g, pg)
    } { case (g, _) => g.nodes.unpersist(); g.edges.unpersist() } { _ =>
      // every kernel but louvain, which does not finish at any size
      // tried, on a small graph of the same shape
      val small = tables(b.spark, planted(b.args.seed + 1, 200))
      Layers.Kernels.filter(_ != "louvain")
        .foreach(k => call(b.spark, small, k, 0L).collect())
      small.nodes.unpersist()
      small.edges.unpersist()
    }
    b.counters("bench.gen_s") = Stats.median(genTimes.toSeq)

    // the level-0 node with the most out-links: its BFS depth is a
    // property of the level structure, not of the seed
    val root = pg.edges.filter(e => GraphGen.level(e._1) == 0)
      .groupBy(_._1).maxBy(p => (p._2.length, -p._1))._1
    val core = pg.kCore(CoreK)
    val dist = pg.bfs(root)
    val cycles = pg.cycles.map(_.toSet).toSet
    def verify(k: String, rows: Array[Row], first: Boolean): Unit = k match {
      case "pagerank" =>
        b.ensure(rows.length == N, s"pagerank: ${rows.length} rows")
        val mass = rows.map(_.getDouble(2)).sum
        b.ensure(math.abs(mass - N) / N < 1e-6, s"pagerank mass $mass != $N")
      case "lpa" | "louvain" =>
        b.ensure(rows.length == N, s"$k: ${rows.length} rows")
      case "kcore" =>
        val got = rows.map(_.getLong(0)).toSet
        b.ensure(got == core, s"kcore: ${got.size} nodes, expected ${core.size}")
        b.ensure(pg.core.subsetOf(got), "kcore misses the planted core")
        if (first) b.digest.addAll(got.map("kcore|" + _))
      case "scc" =>
        b.ensure(rows.length == N, s"scc: ${rows.length} rows")
        val comps = rows.groupBy(_.getLong(1)).values
          .map(_.map(_.getLong(0)).toSet).filter(_.size > 1).toSet
        b.ensure(comps == cycles, s"scc: ${comps.size} multi-node " +
          s"components, planted ${cycles.size} cycles")
        if (first) b.digest.addAll(comps.map(c => "scc|" + c.toSeq.sorted))
      case "sssp" =>
        val got = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
        b.ensure(got == dist.map { case (k2, v) => k2 -> v.toDouble },
          s"sssp: ${got.size} reached, BFS reaches ${dist.size}")
        if (first) b.digest.addAll(got.map { case (v, d) => s"sssp|$v|$d" })
    }

    val passMs = Array(mutable.ArrayBuffer.empty[Double],
      mutable.ArrayBuffer.empty[Double])
    val t0 = System.nanoTime()
    var pass = 0
    var lastS = 0.0
    while (Bench.another(b, t0, pass, lastS)) {
      val traced = b.args.trace && pass % 2 == 1
      b.tr.enabled = traced
      var sum = 0.0
      Layers.Kernels.foreach { k =>
        val deadline = if (k == "louvain") LouvainDeadlineMs else DeadlineMs
        val (ms, _) = b.op(k, deadline)(kernel(b, g, k, root))(
          verify(k, _, pass == 0))
        b.sample(k, ms)
        sum += ms
      }
      b.sample("pass", sum)
      passMs(if (traced) 1 else 0) += sum
      lastS = sum / 1000
      pass += 1
    }
    b.tr.enabled = false
    val loopS = Bench.secs(t0)
    b.counters("bench.samples") = pass
    if (b.args.trace)
      b.counters("bench.trace_overhead") =
        Stats.mean(passMs(1).toSeq) / Stats.mean(passMs(0).toSeq) - 1
    b.checkDigest(s"s${b.args.seed}-n$N")
    Result(setupS, b.lat("pass").toSeq, pass * Layers.Kernels.size / loopS)
  }
}
