package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Golden-graph tests over the reference's own XML corpus (SURVEY.md §5.2.3):
  * ingest invariants, MERGE idempotence, reverse-edge totality, shared
  * dimension-node dedup, cascade-delete inverse, and the flagship 3-hop
  * neighborhood with hand-derived expectations from
  * `/root/reference/boeing_service_bulletin_1.xml`.
  */
class GoldenGraphSpec extends SparkSpec {

  lazy val g: GraphTables =
    XmlIngest.ingest(spark, GraphQueries.XmlGlob, "b1")

  test("ingest yields one root per document with its docnbr") {
    val roots = g.nodes.filter(col("label") === "Boeing_Service_Bulletin")
      .select("docnbr").collect().map(_.getString(0)).sorted
    assert(roots.toSeq == Seq("737-00-1028", "737-00-1029", "737-00-1030"))
  }

  test("hand-derived facts from sb1 hold") {
    // header/number content (boeing_service_bulletin_1.xml:4); Number
    // nodes also arise from work-instruction step numbers (…_1.xml:64,68)
    val num = g.nodes.filter(col("label") === "Number" &&
      col("docnbr") === "737-00-1028").select("content").collect()
    assert(num.map(_.getString(0)).toSet == Set("737-00-1028", "1", "2"))
    // sb1 has 2 titled appendix sections (…_1.xml:73-97) → per-doc Section
    val sections = g.nodes.filter(col("label") === "Section" &&
      col("docnbr") === "737-00-1028").count()
    assert(sections == 2)
  }

  test("every containment edge has its reverse (A15)") {
    val fwd = g.edges.filter(col("relType").startsWith("HAS_"))
      .select(col("src"), col("dst"))
    val rev = g.edges.filter(col("relType") === "IS_PART_OF")
      .select(col("dst").as("src"), col("src").as("dst"))
    assert(fwd.except(rev).count() == 0)
    assert(rev.except(fwd).count() == 0)
  }

  test("LineNumber nodes are deduplicated across airplanes and docs (A16)") {
    val ln = g.nodes.filter(col("label") === "LineNumber")
    assert(ln.count() == ln.select("name").distinct().count())
    // shared node: line numbers common to sb1..sb3 appear exactly once
    assert(ln.filter(col("docnbr") =!= "").count() == 0)
  }

  test("re-ingest + upsert is a no-op (C2 MERGE idempotence)") {
    val again = XmlIngest.ingest(spark, GraphQueries.XmlGlob, "b1")
    val merged = GraphOps.upsert(g, again)
    assert(merged.nodes.count() == g.nodes.count())
    assert(merged.edges.count() == g.edges.count())
  }

  test("dropBatch is a cascade delete and its own inverse boundary (A19)") {
    assert(GraphOps.dropBatch(g, "nope").nodes.count() == g.nodes.count())
    val dropped = GraphOps.dropBatch(g, "b1")
    assert(dropped.nodes.count() == 0)
    assert(dropped.edges.count() == 0)
    // partial delete detaches edges of removed nodes
    val two = GraphOps.upsert(g,
      XmlIngest.ingest(spark, GraphQueries.XmlGlob, "b2"))
    val back = GraphOps.dropBatch(two, "b2")
    assert(back.nodes.count() == g.nodes.count())
  }

  test("flagship 3-hop neighborhood matches the hand-derived golden") {
    val nested = GraphOps.nestByRoot(GraphOps.neighborhoodWhere(g,
      col("label") === "Boeing_Service_Bulletin" &&
        col("docnbr") === "737-00-1028", 3)).collect()
    assert(nested.length == 1)
    val row = nested.head
    assert(row.getAs[String]("root_name") == "boeing_service_bulletin")
    // 38 = hand-counted elements within 3 hops of sb1's root (the airplane
    // fan-out nodes sit at depth 4 and are correctly excluded)
    assert(row.getAs[Long]("n_connected") == 38)
  }

  test("expand does one hop with rel-type and direction control (Q2)") {
    val roots = g.nodes.filter(col("label") === "Boeing_Service_Bulletin")
      .select("id")
    val out = GraphOps.expand(g, roots, relType = Some("HAS_HEADER"))
    assert(out.count() == 3) // one header per document
    val back = GraphOps.expand(g,
      out.select(col("to_id").as("id")), Some("HAS_HEADER"),
      direction = "in")
    assert(back.select("to_id").except(roots).count() == 0)
  }

  test("reachable terminates on cycles and finds the full closure") {
    import spark.implicits._
    // synthetic cyclic graph: 1→2→3→1 plus 3→4
    val nodes = Seq(1L, 2L, 3L, 4L)
      .map(i => NodeRow(i, "N", s"n$i", "", "d", "b", Nil)).toDS()
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .map { case (s, d) => EdgeRow(s, d, "HAS_X", "d", "b") }.toDS()
    val cyclic = GraphTables(nodes, edges)
    val seeds = Seq((1L, 1L)).toDF("root_id", "node_id")
    val closure = GraphOps.bfs(cyclic, seeds)
      .select("node_id").collect().map(_.getLong(0)).toSet
    assert(closure == Set(1L, 2L, 3L, 4L))
    // and on the real corpus it agrees with a deep bounded search
    val sbSeeds = g.nodes.filter(col("label") === "Boeing_Service_Bulletin")
      .select(col("id").as("root_id"), col("id").as("node_id"))
    val viaKhop = GraphOps.bfs(g, sbSeeds, Some(32))
    val viaReach = GraphOps.bfs(g, sbSeeds)
    assert(viaReach.count() == viaKhop.count())
  }

  test("kHop depths are monotone: kHop(k) ⊆ kHop(k+1)") {
    val seeds = g.nodes.filter(col("label") === "Boeing_Service_Bulletin")
      .select(col("id").as("root_id"), col("id").as("node_id"))
    val k2 = GraphOps.bfs(g, seeds, Some(2)).select("root_id", "node_id")
    val k3 = GraphOps.bfs(g, seeds, Some(3)).select("root_id", "node_id")
    assert(k2.except(k3).count() == 0)
    assert(k3.count() > k2.count())
  }

  test("subtree text preserves document order (A6)") {
    val txt = GraphOps.subtreeText(g, "Appendix_A", "appendix_a")
      .filter(col("docnbr") === "737-00-1028")
      .collect().head.getAs[String]("subtree_text")
    // title comes before section 1, which comes before section 2
    val i1 = txt.indexOf("OPERATIONAL READINESS FLIGHT")
    val i2 = txt.indexOf("1. Operational Readiness Flight Recommendations")
    val i3 = txt.indexOf("2. Operational Readiness Flight Profile")
    assert(i1 >= 0 && i2 > i1 && i3 > i2)
  }

  test("GraphX analytics run: degrees, components, pagerank, pregel bfs") {
    assert(GraphOps.degrees(spark, g).count() > 0)
    // the corpus forms one weakly-connected component (shared dimension
    // nodes link all three bulletins)
    val cc = GraphOps.connectedComponents(spark, g)
      .select("component").distinct().count()
    assert(cc == 1)
    val pr = GraphOps.pageRank(spark, g, 5)
    assert(pr.count() == g.nodes.count())
    val seeds = g.nodes.filter(col("label") === "Boeing_Service_Bulletin")
      .select(lit(0L).as("root_id"), col("id").as("node_id"))
    val bfs = GraphOps.bfs(g, seeds)
    assert(bfs.agg(max("depth")).collect().head.getInt(0) >= 3)
  }

  test("TITLE-mode extraction: section nodes with aggregated content (A5/A6)") {
    val g2 = XmlIngest.ingest(spark, GraphQueries.XmlGlob, "t1",
      titleMode = true)
    // sb1's appendix has titled sections OPERATIONAL READINESS FLIGHT with
    // two nested numbered sections (…_1.xml:73-97)
    val labels = g2.nodes.select("label").collect().map(_.getString(0)).toSet
    assert(labels.contains("ServiceBulletin"))
    assert(labels.exists(_.startsWith("Operational_Readiness_Flight")), labels)
    // content is aggregated subtree text, non-empty for every section
    assert(g2.nodes.filter(col("label") =!= "ServiceBulletin" &&
      length(col("content")) === 0).count() == 0)
    // nested titled sections hang off their titled ancestor, not the root
    val sb = g2.nodes.filter(col("label") === "ServiceBulletin")
      .select("id").collect().map(_.getLong(0)).toSet
    val nonRootEdges = g2.edges
      .filter(col("relType").startsWith("HAS_"))
      .filter(!col("src").isin(sb.toSeq: _*))
    assert(nonRootEdges.count() > 0)
    // re-ingest idempotent in title mode too
    val again = XmlIngest.ingest(spark, GraphQueries.XmlGlob, "t1",
      titleMode = true)
    assert(GraphOps.upsert(g2, again).nodes.count() == g2.nodes.count())
  }

  test("TITLE-mode gathers TABLE markup and skips ColSpec (A6)") {
    val xml =
      """<AirplaneSB docnbr="T-1">
        |  <body>
        |    <TITLE>Main Section</TITLE>
        |    <text>alpha</text>
        |    <TABLE><ColSpec width="5"/><Row><Entry>cell</Entry></Row></TABLE>
        |  </body>
        |</AirplaneSB>""".stripMargin
    val (nodes, _) = XmlIngest.parseTitleMode(xml, "t")
    val section = nodes.find(_.label == "Main_Section").get
    assert(section.content.contains("alpha"))
    assert(section.content.contains("<TABLE>"))
    assert(section.content.contains("cell"))
    assert(section.docnbr == "T-1")
  }

  test("synthetic AirplaneSB fixture: docnbr attribute + TABLE content") {
    val xml =
      """<AirplaneSB docnbr="TEST-001">
        |  <TITLE>Test Bulletin</TITLE>
        |  <body>
        |    <TITLE>Sub Part</TITLE>
        |    <text>alpha beta</text>
        |    <TABLE><Row><Entry>x</Entry></Row></TABLE>
        |  </body>
        |</AirplaneSB>""".stripMargin
    val (nodes, edges) = XmlIngest.parseDocument(xml, "tb")
    assert(nodes.forall(_.docnbr == "TEST-001"))
    assert(nodes.exists(n => n.label == "Text" && n.content == "alpha beta"))
    assert(edges.count(_.relType == "IS_PART_OF") ==
      edges.count(_.relType.startsWith("HAS_")))
  }
}
