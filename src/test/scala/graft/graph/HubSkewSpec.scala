package graft.graph

import org.apache.spark.graft.TestMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Hub-skew stress: the frontier joins inside [[GraphOps.bfs]], bounded
  * and unbounded, must stay task-balanced when the graph has a
  * high-degree hub. The reference's ingest shares one `LineNumber` node
  * across every document (`xml2neo.py:93-96`), so real corpora are
  * GUARANTEED to contain such a key; at cluster scale an unsplit hub
  * partition is a straggler task holding the whole stage hostage.
  *
  * Fixture: 2.2M directed edges — 400k (~18%) fan out of a single hub
  * node, 1.8M spread uniformly over 100k background sources. Both kernels
  * run twice with a SparkListener recording per-task shuffle-read bytes:
  * once with AQE skew-join splitting on (assert every shuffle-heavy stage
  * keeps max/median task input ≤ [[HubSkewSpec.BalancedRatio]]) and once
  * with it off (assert some heavy stage exceeds the bound — proving the
  * fixture manufactures real skew and the balanced run isn't vacuous).
  *
  * Thresholds are scaled down to test-corpus bytes (256 KiB advisory /
  * skew threshold vs the 64 MiB-class production defaults); the mechanism
  * under test — skewed-partition detection and split against a
  * many-times-median partition — is the same one a production session
  * gets for free with AQE enabled.
  */
class HubSkewSpec extends SparkSpec {
  import spark.implicits._
  import HubSkewSpec._

  private val HubEdges = 400000L // one src key carrying ~18% of all edges
  private val BgEdges  = 1800000L // uniform over src keys 1..100000

  // hub 0 -> 1..400000; background (1..100000) -> 400001..600000, both
  // derived from hashes of the range index so the fixture is deterministic
  private lazy val graph: GraphTables = {
    val hub = spark.range(1L, HubEdges + 1L)
      .select(lit(0L).as("src"), col("id").as("dst"))
    val bg = spark.range(BgEdges).select(
      (lit(1L) + pmod(hash(col("id")), lit(100000)).cast("long")).as("src"),
      (lit(400001L) + pmod(hash(col("id") * 7L), lit(200000)).cast("long"))
        .as("dst"))
    val edges = hub.unionByName(bg)
      .select(col("src"), col("dst"), lit("HAS_CHILD").as("relType"),
        lit("synthetic").as("docnbr"), lit("b0").as("batch"),
        typedLit(Map.empty[String, String]).as("props"))
      .as[EdgeRow]
    GraphTables(spark.emptyDataset[NodeRow], edges)
  }

  private def hubRoot: DataFrame = Seq((0L, 0L)).toDF("root_id", "node_id")

  // all 2.2M edges hang off the hub within two hops: depth 1 is the hub's
  // fan-out, depth 2 is every background edge (their sources are all depth-1
  // nodes); background targets have no out-edges, so the unbounded search
  // reaches exactly what the 2-hop one does
  private lazy val expectedNodes: Long = {
    val bgDistinctDsts = graph.edges.toDF()
      .filter(col("src") > 0L).select("dst").distinct().count()
    1L + HubEdges + bgDistinctDsts
  }

  test("kHop through a 2.2M-edge hub graph: AQE splits the hub partition") {
    val (rows, on) = measure(spark, skewOn = true) {
      GraphOps.bfs(graph, hubRoot, Some(2)).count()
    }
    assert(rows == expectedNodes, "2-hop node count vs direct aggregation")
    info(s"skew-ON heavy stages (bytes): ${on.map(_.render).mkString("; ")}")
    on.foreach { st =>
      assert(st.ratio <= BalancedRatio,
        s"stage ${st.stageId} imbalanced with skew split ON: ${st.render}")
    }

    val (_, off) = measure(spark, skewOn = false) {
      GraphOps.bfs(graph, hubRoot, Some(2)).count()
    }
    info(s"skew-OFF heavy stages (bytes): ${off.map(_.render).mkString("; ")}")
    assert(off.exists(_.ratio > BalancedRatio),
      "fixture failed to manufacture skew: no heavy stage imbalanced with " +
        "the skew optimizer off")
  }

  test("reachable fixpoint through the hub graph stays balanced") {
    val (rows, on) = measure(spark, skewOn = true) {
      GraphOps.bfs(graph, hubRoot).count()
    }
    assert(rows == expectedNodes, "closure node count vs direct aggregation")
    info(s"skew-ON heavy stages (bytes): ${on.map(_.render).mkString("; ")}")
    on.foreach { st =>
      assert(st.ratio <= BalancedRatio,
        s"stage ${st.stageId} imbalanced with skew split ON: ${st.render}")
    }
  }

  test("kCore peeling through the hub graph: AQE keeps the anti-join " +
      "rounds balanced") {
    // 2-core shape on this fixture: the 300k pure hub-fanout leaves
    // (degree 1) peel in round 1; everything in the background mesh
    // (degree ~19 sources / ~9 sinks) survives, so the kernel runs real
    // multi-round anti-joins with the hub key present throughout
    val (rows, on) = measure(spark, skewOn = true) {
      GraphOps.kCore(spark, graph, 2).count()
    }
    // independent census: a node is in the 2-core iff it keeps degree ≥ 2
    // after the degree-1 leaves (hub-only targets) drop — compute directly
    val und = graph.edges.toDF().select(col("src").as("u"), col("dst").as("v"))
      .unionByName(graph.edges.toDF()
        .select(col("dst").as("u"), col("src").as("v")))
      .distinct()
    val deg1 = und.groupBy("u").agg(count(lit(1)).as("deg"))
      .filter(col("deg") < 2).select("u")
    val survivors = und.join(deg1, Seq("u"), "left_anti")
      .join(deg1.select(col("u").as("v")), Seq("v"), "left_anti")
      .groupBy("u").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2).count()
    assert(rows == survivors, s"kCore size $rows vs direct census $survivors")
    info(s"skew-ON heavy stages (bytes): ${on.map(_.render).mkString("; ")}")
    on.foreach { st =>
      assert(st.ratio <= BalancedRatio,
        s"stage ${st.stageId} imbalanced with skew split ON: ${st.render}")
    }
  }

  test("adamicAdar's maxDegree cap makes the hub a no-op: balanced even " +
      "with the skew optimizer OFF") {
    // the hub (undirected degree 400k) would emit 1.6e11 candidate pairs
    // through the z-keyed self-join; the cap drops its adjacency list
    // BEFORE the join, so no skew-handling is needed downstream — the
    // sharper claim: the plan is balanced with AQE's skew split disabled
    val (pairs, off) = measure(spark, skewOn = false) {
      GraphOps.adamicAdar(spark, graph, maxDegree = 1000).count()
    }
    // the hub never acts as a z (its list is capped away), but it still
    // scores as a pair ENDPOINT through small-degree z lists that contain
    // it — the cap removes the explosion, not the node
    assert(pairs > 0L, "degree cap emptied the result entirely")
    info(s"skew-OFF heavy stages (bytes): ${off.map(_.render).mkString("; ")}")
    off.foreach { st =>
      assert(st.ratio <= BalancedRatio,
        s"stage ${st.stageId} imbalanced despite the degree cap: " +
          st.render)
    }
  }

  test("nodeSimilarity's hub cap keeps the common-neighbor self-join " +
      "balanced with the skew optimizer OFF") {
    // same z-keyed self-join substrate as adamicAdar, same claim: the
    // degree cap drops the hub's 400k-wide adjacency list BEFORE the
    // join, so the candidate space never explodes and no skew handling is
    // needed downstream (its full Jaccard denominator deg still counts —
    // the cap bounds who GENERATES pairs, not the score arithmetic)
    val (pairs, off) = measure(spark, skewOn = false) {
      GraphOps.nodeSimilarity(spark, graph, maxDegree = 1000).count()
    }
    assert(pairs > 0L, "degree cap emptied the result entirely")
    info(s"skew-OFF heavy stages (bytes): ${off.map(_.render).mkString("; ")}")
    off.foreach { st =>
      assert(st.ratio <= BalancedRatio,
        s"stage ${st.stageId} imbalanced despite the degree cap: " +
          st.render)
    }
  }
}

object HubSkewSpec {
  /** Max tolerated max/median per-task shuffle-read within a heavy stage. */
  val BalancedRatio = 3.0

  /** A stage's per-task shuffle-read distribution. */
  final case class StageBalance(stageId: Int, tasks: Vector[Long]) {
    def total: Long = tasks.sum
    def max: Long = tasks.last
    def median: Long = tasks(tasks.size / 2)
    def ratio: Double = max.toDouble / math.max(median, 1L)
    def render: String =
      f"stage=$stageId tasks=${tasks.size} max=$max%,d median=$median%,d " +
        f"ratio=$ratio%.2f"
  }

  private final class ShuffleReadListener extends SparkListener {
    private val byStage =
      scala.collection.mutable.Map.empty[Int, Vector[Long]]
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      if (m != null && t.taskInfo != null && t.taskInfo.successful)
        byStage(t.stageId) = byStage.getOrElse(t.stageId, Vector.empty) :+
          m.shuffleReadMetrics.totalBytesRead
    }
    def snapshot(): Map[Int, Vector[Long]] = synchronized(byStage.toMap)
  }

  /** Runs `action` with the skew-split optimizer toggled, records per-task
    * shuffle-read bytes, and returns the action's result plus the balance of
    * every "heavy" stage (total shuffle-read ≥ half the largest stage's —
    * i.e. the frontier⋈edges joins, not the small bookkeeping shuffles).
    */
  def measure(spark: org.apache.spark.sql.SparkSession, skewOn: Boolean)(
      action: => Long): (Long, Vector[StageBalance]) = {
    val conf = spark.conf
    val tuned = Map(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> skewOn.toString,
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        "262144",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "262144",
      // coalescing would merge the uniform background partitions up toward
      // the hub partition's size, masking the very imbalance the fixture
      // exists to create — keep partition boundaries fixed so the only
      // variable between the two runs is the skew split itself
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = tuned.keys.map(k => k -> conf.getOption(k)).toMap
    val listener = new ShuffleReadListener
    tuned.foreach { case (k, v) => conf.set(k, v) }
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = action
      TestMetrics.drainListenerBus(spark.sparkContext)
      val stages = listener.snapshot()
        .map { case (id, tasks) =>
          StageBalance(id, tasks.filter(_ > 0L).sorted)
        }
        .filter(_.tasks.size >= 4)
        .toVector
      assert(stages.nonEmpty, "no shuffle-reading stage observed")
      val cutoff = stages.map(_.total).max / 2
      (result, stages.filter(_.total >= cutoff).sortBy(_.stageId))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None)    => conf.unset(k)
      }
    }
  }
}
