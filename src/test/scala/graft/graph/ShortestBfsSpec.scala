package graft.graph

import graft.SparkSpec
import org.apache.spark.graft.TestMetrics

/** Single-`shortestPath` reconstruction via BFS parent frontier
  * (round-14 directive 2, clearing r13's one perf_weak item). Pins:
  *
  *  - the deterministic tie-break survives the rewrite (element-wise
  *    array min ≡ the old serialized-string min on these fixtures);
  *  - single shortestPath agrees with the struct-min over the
  *    allShortestPaths bag (the two executors share a contract);
  *  - the HUB-GRAPH SCALE PIN: on a two-layer hub fan (900 equal-length
  *    paths, 62 nodes) the BFS form moves a fraction of the
  *    enumeration form's shuffle bytes — reconstruction of ONE path
  *    must not pay the bag's combinatorial price.
  */
class ShortestBfsSpec extends SparkSpec {

  private def node(id: Long, nm: String): NodeRow =
    NodeRow(id, "N", nm, "", "", "b1", Seq.empty)

  // r → h01..h30 → m01..m30 → t: every r→t path has length 3 and there
  // are 30 × 30 = 900 of them, all tied — the enumeration's worst case
  private lazy val hub = {
    import spark.implicits._
    val hubs = (1 to 30).map(i => (100L + i, f"h$i%02d"))
    val mids = (1 to 30).map(i => (200L + i, f"m$i%02d"))
    val nodes = (Seq((1L, "r"), (2L, "t")) ++ hubs ++ mids)
      .map { case (id, nm) => node(id, nm) }
    val edges =
      hubs.map { case (h, _) => EdgeRow(1L, h, "E", "", "b1") } ++
        (for ((h, _) <- hubs; (m, _) <- mids)
          yield EdgeRow(h, m, "E", "", "b1")) ++
        mids.map { case (m, _) => EdgeRow(m, 2L, "E", "", "b1") }
    GraphTables(nodes.toDS(), edges.toDS())
  }

  // diamond with a tie: r→x1→t and r→x2→t — the tie-break must pick
  // the lexicographically smaller trail deterministically
  private lazy val diamond = {
    import spark.implicits._
    GraphTables(
      Seq(node(1, "r"), node(2, "x2"), node(3, "x1"), node(4, "t")).toDS(),
      Seq(
        EdgeRow(1L, 2L, "E", "", "b1"),
        EdgeRow(2L, 4L, "E", "", "b1"),
        EdgeRow(1L, 3L, "E", "", "b1"),
        EdgeRow(3L, 4L, "E", "", "b1")).toDS())
  }

  private def run(g: GraphTables, q: String) =
    CypherLite.run(g, q).fold(e => fail(s"$q → $e"), identity)

  test("tie-break: the lexicographically smallest trail wins among " +
      "equal-length paths, deterministically") {
    val r = run(diamond,
      "MATCH p = shortestPath((a:N {name: 'r'})-[:E*1..4]->" +
        "(b:N {name: 't'})) RETURN b.name, length(p), nodes(p)")
      .collect()
    assert(r.map(x => (x.getAs[String]("b_name"),
      x.getAs[Int]("path_len"), x.getAs[String]("path_nodes")))
      .toSeq == Seq(("t", 2, "r,x1,t")))
  }

  test("single shortestPath ≡ struct-min over the allShortestPaths " +
      "bag (shared contract between the two executors)") {
    val single = run(diamond,
      "MATCH p = shortestPath((a:N {name: 'r'})-[:E*1..4]->(b:N)) " +
        "RETURN b.name, length(p), nodes(p) ORDER BY b.name").collect()
      .map(x => (x.getAs[String]("b_name"), x.getAs[Int]("path_len"),
        x.getAs[String]("path_nodes"))).toSeq
    val bag = run(diamond,
      "MATCH p = allShortestPaths((a:N {name: 'r'})-[:E*1..4]->(b:N)) " +
        "RETURN b.name, length(p), nodes(p) ORDER BY b.name").collect()
      .map(x => (x.getAs[String]("b_name"), x.getAs[Int]("path_len"),
        x.getAs[String]("path_nodes"))).toSeq
    val bagMin = bag.groupBy(_._1).map { case (_, rows) =>
      rows.minBy(r => (r._2, r._3))
    }.toSeq.sortBy(_._1)
    assert(single.sortBy(_._1) == bagMin)
    // and the hub's single answer is the all-01 trail
    val h = run(hub,
      "MATCH p = shortestPath((a:N {name: 'r'})-[:E*1..4]->" +
        "(b:N {name: 't'})) RETURN length(p), nodes(p)").collect()
    assert(h.map(x => (x.getAs[Int]("path_len"),
      x.getAs[String]("path_nodes"))).toSeq == Seq((3, "r,h01,m01,t")))
  }

  test("hub-graph scale pin: BFS reconstruction moves a FRACTION of " +
      "the enumeration's shuffle bytes (900 tied paths, one answer)") {
    def q(form: String): String =
      s"MATCH p = $form((a:N {name: 'r'})-[:E*1..4]->" +
        "(b:N {name: 't'})) RETURN b.name, length(p), nodes(p), " +
        "relationships(p)"
    // warm both plans once so neither run pays first-touch costs
    run(hub, q("shortestPath")).collect()
    run(hub, q("allShortestPaths")).collect()
    val bfs = TestMetrics.shuffleBytes(spark.sparkContext) {
      run(hub, q("shortestPath")).collect()
    }._1
    val enum0 = TestMetrics.shuffleBytes(spark.sparkContext) {
      run(hub, q("allShortestPaths")).collect()
    }._1
    info(f"bfs=$bfs%,d bytes  enumeration=$enum0%,d bytes  " +
      f"ratio=${enum0.toDouble / math.max(bfs, 1)}%.1f")
    // the bag materializes 900 trails where the BFS carries ≤ one row
    // per (root, node); demand a ≥ 2× byte gap — contention-immune
    // (bytes, not wall), generous vs the ~10× observed
    assert(bfs * 2 <= enum0,
      s"BFS=$bfs enumeration=$enum0 — reconstruction is paying the " +
        "bag price")
  }

  test("unbounded multi-source bfs returns every depth down a 25-hop " +
      "chain: no round cap truncates it") {
    import spark.implicits._
    // directed chain 0 → 1 → … → 25, sources 0 and 2 under ONE root_id:
    // node i's single distance is i below 2 and i − 2 from there on, up
    // to 23 — past a 20-round cap
    val chain = GraphTables(
      (0L to 25L).map(i => node(i, s"n$i")).toDS(),
      (0L until 25L).map(i => EdgeRow(i, i + 1, "HAS_NEXT", "", "b1")).toDS())
    val seeds = Seq((0L, 0L), (0L, 2L)).toDF("root_id", "node_id")
    val depths = GraphOps.bfs(chain, seeds)
      .select("node_id", "depth").as[(Long, Int)].collect().toMap
    val expected = (0L to 25L)
      .map(i => i -> (if (i < 2) i else i - 2).toInt).toMap
    assert(depths == expected)
  }

  test("subtreeText returns every descendant's text below a 40-level " +
      "chain: no hop cap truncates the subtree") {
    import spark.implicits._
    // root → c1 → … → c40 along HAS_CHILD; each node's ingest path is as
    // long as its depth, so document order is depth order
    val deep = GraphTables(
      (0 to 40).map(i => NodeRow(i.toLong, if (i == 0) "Root" else "N",
        s"c$i", if (i == 0) "" else s"t$i", "d1", "b1", Seq.fill(i)(0)))
        .toDS(),
      (0 until 40).map(i => EdgeRow(i.toLong, i + 1L, "HAS_CHILD", "d1",
        "b1")).toDS())
    val text = GraphOps.subtreeText(deep, "Root", "c0")
      .select("subtree_text").as[String].collect().toSeq
    assert(text == Seq((1 to 40).map(i => s"t$i").mkString(" ")))
  }
}
