package graft.graph

import graft.SparkSpec
import org.apache.spark.graft.TestMetrics

/** Relationship isomorphism ACROSS ranged chain segments (round-14
  * directive 1). On a cyclic graph a mixed chain like
  * `(a)-[:R]->(x)-[:R*1..k]->(y)` can walk back over the single-hop
  * segment's stored edge inside the ranged expansion — Cypher forbids
  * one relationship binding two pattern segments, so such witness paths
  * must not count. The pre-r14 engine enforced the rule only between
  * single-hop pairs; these cases are constructed so the old answer and
  * Neo4j's answer DIFFER (the excluded binding's only witness reuses
  * the bound edge).
  */
class ChainIsoSpec extends SparkSpec {

  // directed triangle A→B→C→A, all type R, plus one parallel edge
  // B→C of type S for the disjoint-type fast-path check
  private lazy val tri = {
    import spark.implicits._
    val names = Map(1L -> "A", 2L -> "B", 3L -> "C")
    GraphTables(
      names.toSeq.map { case (id, nm) =>
        NodeRow(id, "N", nm, "", "", "b1", Seq.empty)
      }.toDS(),
      Seq(
        EdgeRow(1L, 2L, "R", "", "b1"),
        EdgeRow(2L, 3L, "R", "", "b1"),
        EdgeRow(3L, 1L, "R", "", "b1"),
        EdgeRow(2L, 3L, "S", "", "b1")).toDS())
  }

  private def names(q: String, col: String): Seq[String] =
    CypherLite.run(tri, q).fold(e => fail(s"$q → $e"), identity)
      .collect().map(_.getAs[String](col)).toSeq

  test("single × ranged: a witness path reusing the single-hop edge " +
      "inside the ranged walk is excluded (cyclic graph)") {
    // a=A binds edge A→B; from x=B the walks of length 1..3 reach
    // C (1), A (2), and B only via C→A→B — which reuses A→B. Neo4j
    // answers {A, C}; the pre-r14 engine answered {A, B, C}.
    val r = names("MATCH (a:N {name: 'A'})-[:R]->(x)-[:R*1..3]->(y) " +
      "RETURN y.name ORDER BY y.name", "y_name")
    assert(r == Seq("A", "C"))
  }

  test("ranged × ranged: the two segments' witness paths must be " +
      "edge-disjoint") {
    // from A: seg1 length 1..2 reaches B ({AB}) and C ({AB,BC}).
    // From x=C, seg2 reaches A ({CA}) and B ({CA,AB}) — the latter
    // overlaps seg1's {AB,BC}, and (x=C, y=B) has no other witness, so
    // it is excluded. Surviving (y) set: via B → {C, A}; via C → {A}.
    val r = names(
      "MATCH (a:N {name: 'A'})-[:R*1..2]->(x)-[:R*1..2]->(y) " +
        "RETURN DISTINCT y.name ORDER BY y.name", "y_name")
    assert(r == Seq("A", "C"))
  }

  test("disjoint-type mixed chains keep the lean id-pair plan — no " +
      "edge-identity columns, the ranged step stays on the min-depth " +
      "kernel, same results") {
    val q = "MATCH (a:N {name: 'A'})-[:R]->(x)-[:S*1..2]->(y) " +
      "RETURN y.name ORDER BY y.name"
    val df = CypherLite.run(tri, q).fold(e => fail(s"$q → $e"), identity)
    assert(!df.queryExecution.analyzed.toString.contains("eids"),
      "disjoint types must not pay the per-path expansion")
    // the kernel's eager localCheckpoint materializes as an ExistingRDD
    // scan — its presence proves the disjoint ranged step kept the
    // kernel routing (colliding ranged steps switch to the isomorphism
    // expansion, which has no checkpoint at depth ≤ 2)
    assert(df.queryExecution.executedPlan.toString
      .contains("ExistingRDD"))
    assert(df.collect().map(_.getAs[String]("y_name")).toSeq == Seq("C"))
  }

  test("the expansion terminates on cycles at the *1..8 cap — " +
      "within-path edge uniqueness kills the frontier after one loop " +
      "and the answer is depth-stable") {
    // same chain as the first test, widened to the cap: every walk on
    // the 3-cycle repeats an edge after 3 steps, so depths 4..8 add no
    // paths (the frontier empties) and the answer cannot change
    val r = names("MATCH (a:N {name: 'A'})-[:R]->(x)-[:R*1..8]->(y) " +
      "RETURN y.name ORDER BY y.name", "y_name")
    assert(r == Seq("A", "C"))
  }

  test("a ranged chain segment past *1..8 rejects by name") {
    val r = CypherLite.run(tri,
      "MATCH (a:N)-[:R]->(x)-[:R*1..9]->(y) RETURN y.name")
    assert(r.isLeft && r.swap.toOption.get.contains("caps at *1..8"), r)
  }

  private def node(id: Long, nm: String): NodeRow =
    NodeRow(id, "N", nm, "", "", "b1", Seq.empty)

  // layered fan a01..a40 -[R]-> x1..x3 -[R]-> m01..m10 -[R]->
  // n01..n10 -[R]-> t: 120 single-hop bindings SHARE three x-nodes
  // whose *1..3 walks enumerate 10 + 100 + 100 = 210 witness paths
  // against only 21 (from, to) pairs — the single-partner motif's
  // worst case: the per-path form multiplies 120 × 210 rows through
  // the chain join and the binding dedup, the collapse 120 × 21
  private def lnode(id: Long, lab: String, nm: String): NodeRow =
    NodeRow(id, lab, nm, "", "", "b1", Seq.empty)

  private lazy val fan = {
    import spark.implicits._
    val as = (1 to 40).map(i => 300L + i)
    val xs = (1 to 3).map(i => 10L + i)
    val ms = (1 to 10).map(i => 100L + i)
    val ns = (1 to 10).map(i => 200L + i)
    val nodes = as.map(a => lnode(a, "A", s"a$a")) ++
      xs.map(x => lnode(x, "X", s"x$x")) ++
      ms.map(m => lnode(m, "N", s"m$m")) ++
      ns.map(n => lnode(n, "N", s"n$n")) :+ lnode(2L, "N", "t")
    val edges =
      (for (a <- as; x <- xs) yield EdgeRow(a, x, "R", "", "b1")) ++
        (for (x <- xs; m <- ms) yield EdgeRow(x, m, "R", "", "b1")) ++
        (for (m <- ms; n <- ns) yield EdgeRow(m, n, "R", "", "b1")) ++
        ns.map(n => EdgeRow(n, 2L, "R", "", "b1"))
    GraphTables(nodes.toDS(), edges.toDS())
  }

  test("single-partner motif byte pin (r15): the unavoidable-set " +
      "collapse moves fewer shuffle bytes than the per-path form on " +
      "the layered fan, answering identically") {
    val q = "MATCH (a:A)-[:R]->(x:X)-[:R*1..3]->(y) " +
      "RETURN DISTINCT y.name ORDER BY y.name"
    def run(): Seq[String] =
      CypherLite.run(fan, q).fold(e => fail(s"$q → $e"), identity)
        .collect().map(_.getAs[String]("y_name")).toSeq
    // semantic A/B first: the collapse is an optimization, not a
    // different query — both forms must answer the same rows
    val collapsed = run()
    // withValue scopes the flip to THIS thread's plan builds (r16):
    // concurrent suites' chain queries never observe it
    val perPath =
      CypherLite.disableUnavoidableCollapse.withValue(true) { run() }
    assert(collapsed == perPath,
      s"collapse changed the answer: $collapsed vs $perPath")
    // byte A/B (contention-immune — bytes, not wall): per-path ships
    // 300 witness rows per x into the chain join and the post-join
    // binding dedup, the collapse one row per (from, to) pair
    val bCollapse = TestMetrics.shuffleBytes(spark.sparkContext) {
      run()
    }._1
    val bPerPath = CypherLite.disableUnavoidableCollapse.withValue(true) {
      TestMetrics.shuffleBytes(spark.sparkContext) {
        run()
      }._1
    }
    info(f"collapse=$bCollapse%,d bytes  per-path=$bPerPath%,d bytes  " +
      f"ratio=${bPerPath.toDouble / math.max(bCollapse, 1)}%.2f")
    assert(bCollapse * 3 <= bPerPath * 2,
      s"collapse=$bCollapse per-path=$bPerPath — the unavoidable-set " +
        "fold is not paying for itself on the single-partner motif")
  }

  test("ranged × ranged blowup is bounded by the simple-path count: " +
      "4x the witness paths costs at most ~4x the shuffle bytes") {
    import spark.implicits._
    // bipartite fan A -> q1..qM -> t: seg1 *1..2 walks M len-1 paths +
    // M len-2 paths, seg2 again — total witness work scales linearly
    // in M, so a 4x mid-layer must not blow past ~4x bytes (a
    // cartesian per-path × per-path join would go 16x)
    def fan2(m: Int): GraphTables = {
      val mids = (1 to m).map(i => 1000L + i)
      GraphTables(
        ((Seq((1L, "A"), (2L, "t")) ++ mids.map(q => (q, s"q$q")))
          .map { case (id, nm) => node(id, nm) }).toDS(),
        mids.flatMap(q => Seq(EdgeRow(1L, q, "R", "", "b1"),
          EdgeRow(q, 2L, "R", "", "b1"))).toDS())
    }
    val q = "MATCH (a:N {name: 'A'})-[:R*1..2]->(x)-[:R*1..2]->(y) " +
      "RETURN DISTINCT y.name ORDER BY y.name"
    def run(g: GraphTables): Unit =
      CypherLite.run(g, q).fold(e => fail(s"$q → $e"), identity).collect()
    val (small, big) = (fan2(10), fan2(40))
    run(small); run(big) // warm both plans
    val bSmall = TestMetrics.shuffleBytes(spark.sparkContext) {
      run(small)
    }._1
    val bBig = TestMetrics.shuffleBytes(spark.sparkContext) {
      run(big)
    }._1
    info(f"mid=10: $bSmall%,d bytes  mid=40: $bBig%,d bytes  " +
      f"ratio=${bBig.toDouble / math.max(bSmall, 1)}%.2f")
    assert(bBig <= 6 * bSmall,
      s"mid10=$bSmall mid40=$bBig — ranged×ranged bytes outgrew the " +
        "witness-path count (frontier no longer path-bounded)")
  }
}
