package graft

import org.apache.spark.sql.functions._

/** Job-count regression net: pins the number of Spark jobs key code paths
  * issue, catching accidental eager actions (a stray `count()`, `isEmpty`,
  * or per-iteration checkpoint) sneaking into query builders — the class of
  * regression that is invisible to correctness tests and shows up only as
  * bench noise.
  *
  * Jobs are counted via job groups + `statusTracker`, which is synchronous
  * with job submission (no listener-bus race).
  */
class JobCountSpec extends SparkSpec {

  /** Counts jobs with AQE disabled: AQE materializes every exchange stage
    * as its own job, which is fine at scale but makes the count depend on
    * runtime re-planning; with it off, one action = one job and the budget
    * is an exact formula over the code's actions.
    */
  private def jobsDuring[A](group: String)(body: => A): (A, Int) = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setJobGroup(group, group)
    val a = try body finally {
      spark.sparkContext.clearJobGroup()
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
    (a, spark.sparkContext.statusTracker.getJobIdsForGroup(group).length)
  }

  private val dir = sf("sf0.001")

  test("reachable() fixpoint stays within its job budget") {
    // pre-build the cached fixture OUTSIDE the measured group
    val g = graph.ParquetGraph.chain(spark, dir)
    val seeds = g.nodes.select(col("id").as("root_id"), col("id").as("node_id"))
    // nation is 5 regions × 5-cycles: the unbounded bfs needs 5 expansion
    // rounds (the 5th returns to the roots and anti-joins to empty).
    // The count that materializes each frontier IS its emptiness probe,
    // and visited flushes once, after round 4. Measured (AQE off): 12
    // jobs. The budget of 25 fails a revert to checkpointing visited
    // EVERY round plus a separate emptiness probe per round.
    val ((rows), jobs) = jobsDuring("reachable-budget") {
      graph.GraphOps.bfs(g, seeds,
        relFilter = col("relType") === "HAS_NEXT").count()
    }
    info(s"unbounded bfs: $jobs jobs")
    assert(rows == 125, s"every nation reaches its whole 5-cycle: $rows")
    assert(jobs <= 25, s"reachable issued $jobs jobs (budget 25)")
  }

  test("bounded bfs (k = 3) keeps the k-hop job count") {
    // pre-build the cached fixture OUTSIDE the measured group
    val g = graph.ParquetGraph.hierarchy(spark, dir)
    val seeds = g.nodes.filter(col("label") === "Region")
      .select(col("id").as("root_id"), col("id").as("node_id"))
    // region → nation → customer → order: hops 1 and 2 materialize with
    // their count as the emptiness probe, hop 3 (the last) is consumed
    // once by the closing aggregate, and k ≤ VisitedCheckpointEvery means
    // no visited flush and no anti-join. Measured (AQE off): 6 jobs with
    // the caller's count; any extra eager action per hop breaks the pin.
    val (rows, jobs) = jobsDuring("bounded-bfs-budget") {
      graph.GraphOps.bfs(g, seeds, Some(3)).count()
    }
    info(s"bounded bfs: $jobs jobs")
    assert(rows == 1680, s"regions reach every order in 3 hops: $rows")
    assert(jobs <= 6, s"bounded bfs issued $jobs jobs (budget 6)")
  }

  test("kTruss spends one materializing job per peel round") {
    // pre-build the cached fixture OUTSIDE the measured group
    val g = graph.ParquetGraph.cliqueStar(spark, dir)
    // cliqueStar's 3-truss: round 1 peels every star-only edge, round 2
    // proves the fixpoint. Each round's triangle enumeration checkpoints
    // its oriented edges (1 job) and the surviving edges materialize with
    // their count as the fixpoint probe (1 job); the setup is one
    // materialize-and-count. Measured (AQE and auto-broadcast off, so
    // no BroadcastExchange adds a collect job): 5 = 1 + 2 rounds × 2.
    // The eager-checkpoint-then-count form spent 8; budget 5 fails it.
    val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (truss, jobs) =
      try jobsDuring("ktruss-budget") {
        graph.GraphOps.kTruss(spark, g, 3)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
    info(s"kTruss(k = 3): $jobs jobs")
    assert(truss.count() == 15, "each region keeps its 3-clique's edges")
    assert(jobs <= 5, s"kTruss issued $jobs jobs (budget 5)")
  }

  test("cheap registered queries execute without stray driver actions") {
    // five cheap queries + w5 (whose size gate must read plan statistics,
    // NOT run an extra count() job per execution)
    val names = Seq("p2_filter_eq", "f7_case_when", "o2_limit",
      "g3_count_distinct", "w5_ntile_pctrank")
    val counts = names.map { name =>
      val (_, jobs) = jobsDuring(s"net-$name") {
        SparkEntry.queries(name)(spark, dir).count()
      }
      name -> jobs
    }
    counts.foreach { case (name, jobs) =>
      assert(jobs <= 6, s"$name issued $jobs jobs (budget 6)")
    }
    val total = counts.map(_._2).sum
    assert(total <= 22, s"net total $total jobs (budget 22): $counts")
  }

  test("kCore peeling spends ONE job per round (r18 count-delta probe)") {
    // pre-build the cached fixture OUTSIDE the measured group
    val g = graph.ParquetGraph.hierChain(spark, dir)
    // hierChain's 2-core: orders peel in round 1, customers in round 2,
    // round 3 proves the fixpoint ⇒ iters = 3. Job budget (AQE off, and
    // auto-broadcast off too — each BroadcastExchange otherwise adds its
    // own collect job per round, obscuring the loop's shape): 1 setup
    // (the degree count materializes und + deg through one action) +
    // 1 per round (the next-table count IS the termination probe) +
    // 1 caller count = 5. The pre-r18 shape — eager und + eager deg +
    // a separate isEmpty probe per round — spent 8; budget 6 fails any
    // revert to two-jobs-per-round.
    val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val ((rows, iters), jobs) =
      try jobsDuring("kcore-budget") {
        val (core, it) = graph.GraphOps.kCoreStats(spark, g, k = 2)
        (core.count(), it)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
    assert(iters == 3, s"hierChain 2-core converges in 3 rounds: $iters")
    assert(rows > 0, "2-core is non-empty (regions + nations survive)")
    assert(jobs <= 6, s"kCore issued $jobs jobs (budget 6)")
  }
}
