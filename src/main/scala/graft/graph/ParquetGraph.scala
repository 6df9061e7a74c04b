package graft.graph

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Oracle-backed twins for the graph operator surface (SURVEY.md §2.D).
  *
  * The XML-corpus graph can't be checked by the DuckDB oracle (DuckDB only
  * sees the parquet tables), so each graph algorithm family here runs the
  * SAME `GraphOps` code path over a graph derived deterministically from the
  * parquet corpus, where the expected answer IS expressible in ANSI SQL:
  *
  *  - `hierarchy`: the region → nation → customer → order containment tree
  *    (`HAS_*` edges, mirroring the reference's document-containment shape,
  *    `new-converter.js:27-141`), ids drawn from disjoint 1e9 ranges.
  *  - `chain`: nations linked to the next nationkey within their region,
  *    with a wrap-around edge closing each region into a directed CYCLE —
  *    so the traversal twins also prove cycle-safety, not just tree walks.
  *
  * Every query below exercises a `GraphOps` kernel (frontier k-hop,
  * fixpoint closure, GraphX CC, Pregel BFS, ShortestPaths, nest, upsert,
  * cascade delete) and is graded by a DuckDB oracle that derives the answer
  * independently (joins / window functions / recursive structure on the
  * base tables — never by re-running the engine's plan).
  */
object ParquetGraph {

  // Disjoint vertex-id ranges per entity; safe for keys < 1e9 (TPC-H keys
  // stay far below that at any SF this engine is driven at; a production
  // deployment would widen to 1e12 spacing with the same one-line change).
  val RegionBase = 1000000000L
  val NationBase = 2000000000L
  val CustBase = 3000000000L
  val OrderBase = 4000000000L

  private def nodeDf(df: DataFrame, id: Column, label: String, name: Column,
      batch: String): DataFrame =
    df.select(id.cast("long").as("id"), lit(label).as("label"),
      name.cast("string").as("name"), lit("").as("content"),
      lit("").as("docnbr"), lit(batch).as("batch"),
      typedLit(Seq.empty[Int]).as("path"))

  private def edgeDf(df: DataFrame, src: Column, dst: Column, relType: String,
      batch: String): DataFrame =
    df.select(src.cast("long").as("src"), dst.cast("long").as("dst"),
      lit(relType).as("relType"), lit("").as("docnbr"),
      lit(batch).as("batch"),
      typedLit(Map.empty[String, String]).as("props"))

  /** One build per (session, source, kind), cached AND materialized — the
    * `graphp_*` queries over an sf directory and the `graph_*` queries
    * over the XML corpus ([[GraphQueries.graph]]) share the in-memory
    * relations instead of each re-deriving the graph, and the first timed
    * query doesn't pay the build.
    */
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), GraphTables]()

  private[graph] def cached(s: SparkSession, source: String, kind: String)(
      build: => GraphTables): GraphTables = {
    // evict entries keyed to stopped sessions — their cached blocks died
    // with the context, and the keys would otherwise accumulate forever in
    // a long-lived process that opens/closes sessions
    val it = cache.keySet().iterator()
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
    cache.computeIfAbsent((s, source, kind), _ => {
      val g = build
      val m = GraphTables(g.nodes.cache(), g.edges.cache())
      m.nodes.count()
      m.edges.count()
      m
    })
  }

  def hierarchy(s: SparkSession, d: String): GraphTables =
    cached(s, d, "hierarchy")(buildHierarchy(s, d))

  def chain(s: SparkSession, d: String): GraphTables =
    cached(s, d, "chain")(buildChain(s, d))

  def cliques(s: SparkSession, d: String): GraphTables =
    cached(s, d, "cliques")(buildCliques(s, d))

  def docTree(s: SparkSession, d: String): GraphTables =
    cached(s, d, "doctree")(buildDocTree(s, d))

  /** Cliques ∪ per-region star (hub = the region's lowest-keyed nation →
    * every other nation). The union deliberately DUPLICATES the hub–n2 and
    * hub–n3 edges (once as CLIQUE, once as STAR) and mixes orientations —
    * the clustering-coefficient kernel must canonicalize to the simple
    * undirected projection before counting. Closed form per region of m
    * nations: hub has deg m−1 with exactly one closed neighbor pair
    * (n2–n3) → coeff 2/((m−1)(m−2)); n2/n3 have deg 2 closed by each
    * other → coeff 1; the rest are deg-1 leaves → coeff 0.
    */
  def cliqueStar(s: SparkSession, d: String): GraphTables =
    cached(s, d, "cliquestar") {
      import s.implicits._
      val c = buildCliques(s, d)
      val nation = Tables.nation(s, d)
      val hubbed = nation.withColumn("hub",
        min(col("n_nationkey")).over(
          Window.partitionBy("n_regionkey")))
        .filter(col("n_nationkey") =!= col("hub"))
      val star = edgeDf(hubbed, col("hub") + NationBase,
        col("n_nationkey") + NationBase, "STAR", "base").as[EdgeRow]
      GraphTables(c.nodes, c.edges.unionByName(star))
    }

  /** Hierarchy ∪ chain: the containment tree with the per-region nation
    * cycle layered on top. Gives k-core a fixture with a genuine peeling
    * CASCADE: orders are degree-1 leaves, and removing them drops
    * customers to degree 1, so the 2-core is reached only after two
    * peeling rounds — exactly the iterative behavior the kernel exists
    * for — and its membership (nations + regions) is closed-form in SQL.
    */
  def hierChain(s: SparkSession, d: String): GraphTables =
    cached(s, d, "hierchain") {
      val h = buildHierarchy(s, d)
      val c = buildChain(s, d)
      GraphTables(h.nodes, h.edges.unionByName(c.edges))
    }

  /** Chain ∪ cliques over the nation nodes: per-region directed cycle plus
    * the 3-clique among each region's lowest-keyed nations. Clique members
    * have undirected degree 4, the rest degree 2, so the Adamic-Adar twin
    * sees non-uniform neighbor weights and a mix of 1- and 2-common-
    * neighbor pairs — not a constant-score fixture.
    */
  /** Nation nodes whose content is NULL for odd keys (every other fixture
    * fills content with the non-null empty string) — the null-bearing
    * fixture the IS [NOT] NULL twin grades on. Edge-less: the null test is
    * a node predicate.
    */
  /** Nation nodes with MIXED-case names (odd keys lowercased) — the
    * collation fixture: case-sensitive vs case-insensitive ordering
    * diverge here (lowercase sorts after ALL uppercase in byte order),
    * which is what the ORDER BY toLower(…) twin grades on. Edge-less.
    */
  def mixedCase(s: SparkSession, d: String): GraphTables =
    cached(s, d, "mixedcase") {
      import s.implicits._
      val nation = Tables.nation(s, d)
      val nodes = nation.select(
        (col("n_nationkey") + NationBase).cast("long").as("id"),
        lit("Nation").as("label"),
        when(col("n_nationkey") % 2 === 1, lower(col("n_name")))
          .otherwise(col("n_name")).cast("string").as("name"),
        lit("").as("content"),
        lit("").as("docnbr"), lit("base").as("batch"),
        typedLit(Seq.empty[Int]).as("path")).as[NodeRow]
      GraphTables(nodes, s.emptyDataset[EdgeRow])
    }

  def nullableContent(s: SparkSession, d: String): GraphTables =
    cached(s, d, "nullable") {
      import s.implicits._
      val nation = Tables.nation(s, d)
      val nodes = nation.select(
        (col("n_nationkey") + NationBase).cast("long").as("id"),
        lit("Nation").as("label"),
        col("n_name").cast("string").as("name"),
        when(col("n_nationkey") % 2 === 1, lit(null).cast("string"))
          .otherwise(col("n_name")).as("content"),
        lit("").as("docnbr"), lit("base").as("batch"),
        typedLit(Seq.empty[Int]).as("path")).as[NodeRow]
      GraphTables(nodes, s.emptyDataset[EdgeRow])
    }

  def linkPred(s: SparkSession, d: String): GraphTables =
    cached(s, d, "linkpred") {
      val ch = buildChain(s, d)
      val cl = buildCliques(s, d)
      GraphTables(ch.nodes, ch.edges.unionByName(cl.edges))
    }

  /** Region → nation → customer → order tree. Order nodes/edges carry their
    * own batch tag so the cascade-delete twin can drop exactly that layer.
    */
  private def buildHierarchy(s: SparkSession, d: String): GraphTables = {
    import s.implicits._
    val region = Tables.region(s, d)
    val nation = Tables.nation(s, d)
    val customer = Tables.customer(s, d)
    val orders = Tables.orders(s, d)
    val nodes =
      nodeDf(region, col("r_regionkey") + RegionBase, "Region",
        col("r_name"), "base")
      .unionByName(nodeDf(nation, col("n_nationkey") + NationBase, "Nation",
        col("n_name"), "base"))
      .unionByName(nodeDf(customer, col("c_custkey") + CustBase, "Customer",
        col("c_custkey"), "base"))
      .unionByName(nodeDf(orders, col("o_orderkey") + OrderBase, "Order",
        col("o_orderkey"), "orders"))
      .as[NodeRow]
    val edges =
      edgeDf(nation, col("n_regionkey") + RegionBase,
        col("n_nationkey") + NationBase, "HAS_NATION", "base")
      .unionByName(edgeDf(customer, col("c_nationkey") + NationBase,
        col("c_custkey") + CustBase, "HAS_CUSTOMER", "base"))
      .unionByName(edgeDf(orders, col("o_custkey") + CustBase,
        col("o_orderkey") + OrderBase, "HAS_ORDER", "orders"))
      .as[EdgeRow]
    GraphTables(nodes, edges)
  }

  /** Per-region directed CYCLE over nations: each nation points at the next
    * nationkey in its region, the last wraps to the first. Cycles are what
    * break naive recursive traversals — `reachable`'s anti-join fixpoint and
    * the GraphX kernels must all terminate and answer correctly on them.
    */
  private def buildChain(s: SparkSession, d: String): GraphTables = {
    import s.implicits._
    val nation = Tables.nation(s, d)
    val w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    val linked = nation.withColumn("nxt",
      coalesce(lead(col("n_nationkey"), 1).over(w),
        min(col("n_nationkey")).over(Window.partitionBy("n_regionkey"))))
    val nodes = nodeDf(nation, col("n_nationkey") + NationBase, "Nation",
      col("n_name"), "base").as[NodeRow]
    val edges = edgeDf(linked, col("n_nationkey") + NationBase,
      col("nxt") + NationBase, "HAS_NEXT", "base").as[EdgeRow]
    GraphTables(nodes, edges)
  }

  /** The chain fixture with a REAL cost property on each edge:
    * `props("weight") = dst nationkey % 7 + 1` (string-valued, the
    * EdgeRow props contract). Per-region wrap-around cycles as in
    * [[chain]], so the weighted-shortest-path twin proves both the
    * props→cost read path and cycle safety; the expected distance from
    * each region's lowest-keyed nation is a closed-form prefix sum in
    * SQL (the only path to a node is forward along the chain).
    */
  def weightedChain(s: SparkSession, d: String): GraphTables =
    cached(s, d, "wchain") {
      import s.implicits._
      val c = buildChain(s, d)
      val weighted = c.edges.toDF()
        .withColumn("props", map(lit("weight"),
          (pmod(col("dst") - lit(NationBase), lit(7L)) + 1L)
            .cast("string")))
        .as[EdgeRow]
      GraphTables(c.nodes, weighted)
    }

  /** Per-region 3-clique layer: the three lowest-keyed nations of each
    * region fully connected pairwise. Gives the triangle-count kernel a
    * fixture whose expected output IS SQL-derivable — exactly one triangle
    * per region, touching exactly its three members.
    */
  private def buildCliques(s: SparkSession, d: String): GraphTables = {
    import s.implicits._
    val nation = Tables.nation(s, d)
    val w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    val top3 = nation.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("n_regionkey").as("rk"),
        (col("n_nationkey") + NationBase).as("id"), col("rn"))
    // renamed-column self-join on the using-column `rk` (qualified refs
    // would trip the ambiguous-self-join detector)
    val a = top3.select(col("rk"), col("id").as("src"), col("rn").as("ra"))
    val b = top3.select(col("rk"), col("id").as("dst"), col("rn").as("rb"))
    val pairs = a.join(b, Seq("rk")).filter(col("ra") < col("rb"))
    val nodes = nodeDf(nation, col("n_nationkey") + NationBase, "Nation",
      col("n_name"), "base").as[NodeRow]
    val edges = pairs.select(col("src"), col("dst"),
        lit("CLIQUE").as("relType"), lit("").as("docnbr"),
        lit("base").as("batch"),
        typedLit(Map.empty[String, String]).as("props")).as[EdgeRow]
    GraphTables(nodes, edges)
  }

  /** Region→nation tree with the DOCUMENT columns populated (the other
    * fixtures leave content/path/docnbr blank): each nation node carries
    * content = its name, path = [n_nationkey] (document order), and
    * docnbr = its region's name — so [[GraphOps.subtreeText]]'s
    * path-ordered concatenation is independently derivable in SQL as
    * `string_agg(n_name, ' ' ORDER BY n_nationkey)`.
    */
  private def buildDocTree(s: SparkSession, d: String): GraphTables = {
    import s.implicits._
    val region = Tables.region(s, d)
    val nation = Tables.nation(s, d).join(region,
      col("n_regionkey") === col("r_regionkey"))
    val rootNodes = region.select(
      (col("r_regionkey") + RegionBase).cast("long").as("id"),
      lit("Region").as("label"), col("r_name").cast("string").as("name"),
      lit("").as("content"), col("r_name").cast("string").as("docnbr"),
      lit("base").as("batch"), typedLit(Seq.empty[Int]).as("path"))
    val childNodes = nation.select(
      (col("n_nationkey") + NationBase).cast("long").as("id"),
      lit("Nation").as("label"), col("n_name").cast("string").as("name"),
      col("n_name").cast("string").as("content"),
      col("r_name").cast("string").as("docnbr"), lit("base").as("batch"),
      array(col("n_nationkey").cast("int")).as("path"))
    val nodes = rootNodes.unionByName(childNodes).as[NodeRow]
    val edges = edgeDf(nation, col("n_regionkey") + RegionBase,
      col("n_nationkey") + NationBase, "HAS_NATION", "base").as[EdgeRow]
    GraphTables(nodes, edges)
  }

  private def nationNames(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d).select((col("n_nationkey") + NationBase).as("id"),
      col("n_name"))

  /** The region ROAD chain written through the Cypher surface with BOTH
    * a numeric `weight` and a categorical `grade` edge property — the
    * substrate the relationship-property-predicate twins read back
    * (same script shape as `graphp_cypher_weighted_road`, |region| = 5
    * bounded driver rows; data stays distributed).
    */
  private def roadPropsGraph(s: SparkSession, d: String): GraphTables =
    cached(s, d, "roadprops")(buildRoadPropsGraph(s, d))

  private def buildRoadPropsGraph(s: SparkSession, d: String)
      : GraphTables = {
    val regions = Tables.region(s, d)
      .select("r_name", "r_regionkey").collect()
      .map(r => (r.getString(0), r.getAs[Number](1).intValue))
      .sortBy(_._1)
    val script = regions.sliding(2).collect {
      case Array((pName, _), (cName, cKey)) =>
        ("MATCH (a:Region {name: $p}), (b:Region {name: $c}) " +
          "MERGE (a)-[:ROAD {weight: $w, grade: $g}]->(b)",
          Map("p" -> pName, "c" -> cName,
            "w" -> (cKey % 3 + 1).toString,
            "g" -> (if (cKey % 2 == 0) "even" else "odd")))
    }.toSeq
    CypherLite.runScript(hierarchy(s, d), script)
      .fold(err => throw new IllegalArgumentException(err), _._1)
  }

  /** The DeepWalk corpus the two walk queries share: 5 walks × ≤3 steps
    * from every region root over the hierarchy graph, plus the root's
    * region name for grading. Cheap enough to recompute per query (the
    * graph itself is `cached`).
    */
  private def walkNames(s: SparkSession, d: String): DataFrame = {
    val g = hierarchy(s, d)
    val regions = g.nodes.filter(col("label") === "Region")
    GraphOps.randomWalks(s, g, regions.select(col("id").as("root_id")),
        walksPerRoot = 5, maxLen = 3)
      .join(regions.select(col("id").as("root_id"),
        col("name").as("root_name")), "root_id")
  }

  /** DuckDB replay of [[walkNames]]: the same hash-indexed neighbor choice
    * over the base-arithmetic edge relation with a per-src rank window,
    * ending in a CTE `wk(root_name, walk, step, node)`.
    */
  private val duckWalksSql: String = {
    def pick(rootE: String, walkE: String, pos: Int, curE: String) =
      graft.text.PortableHash.duck(
        s"concat(CAST($rootE AS VARCHAR), '|', CAST($walkE AS VARCHAR)," +
          s" '|$pos|', CAST($curE AS VARCHAR))")
    s"""WITH e AS (
       |  SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rnk,
       |    count(*) OVER (PARTITION BY src) AS deg
       |  FROM (
       |    SELECT CAST(1000000000 + n_regionkey AS BIGINT) AS src,
       |           CAST(2000000000 + n_nationkey AS BIGINT) AS dst
       |    FROM nation
       |    UNION ALL
       |    SELECT CAST(2000000000 + c_nationkey AS BIGINT),
       |           CAST(3000000000 + c_custkey AS BIGINT) FROM customer
       |    UNION ALL
       |    SELECT CAST(3000000000 + o_custkey AS BIGINT),
       |           CAST(4000000000 + o_orderkey AS BIGINT) FROM orders)),
       |r AS (SELECT CAST(1000000000 + r_regionkey AS BIGINT) AS root,
       |             r_name, CAST(w AS BIGINT) AS walk
       |      FROM region, (SELECT unnest(generate_series(0, 4)) AS w)),
       |s1 AS (SELECT r.root, r.r_name, r.walk, e.dst AS n1 FROM r JOIN e
       |  ON e.src = r.root
       |  AND e.rnk = ${pick("r.root", "r.walk", 0, "r.root")} % e.deg),
       |s2 AS (SELECT s1.*, e.dst AS n2 FROM s1 JOIN e
       |  ON e.src = s1.n1
       |  AND e.rnk = ${pick("s1.root", "s1.walk", 1, "s1.n1")} % e.deg),
       |s3 AS (SELECT s2.*, e.dst AS n3 FROM s2 JOIN e
       |  ON e.src = s2.n2
       |  AND e.rnk = ${pick("s2.root", "s2.walk", 2, "s2.n2")} % e.deg),
       |wk AS (SELECT root, root_name, walk, step, node FROM (
       |  SELECT root, r_name AS root_name, walk, 0 AS step, root AS node
       |  FROM r
       |  UNION ALL SELECT root, r_name, walk, 1, n1 FROM s1
       |  UNION ALL SELECT root, r_name, walk, 2, n2 FROM s2
       |  UNION ALL SELECT root, r_name, walk, 3, n3 FROM s3))""".stripMargin
  }

  /** The hash-indexed pick expression both walk-oracle families share:
    * `H(root|walk|pos|cur)` over VARCHAR-cast operands.
    */
  private def duckWalkPick(rootE: String, walkE: String, pos: Int,
      curE: String): String =
    graft.text.PortableHash.duck(
      s"concat(CAST($rootE AS VARCHAR), '|', CAST($walkE AS VARCHAR)," +
        s" '|$pos|', CAST($curE AS VARCHAR))")

  /** One property-weighted transition in DuckDB: candidates = out-edges
    * of `cur` from a CTE `ed(src, dst, wt)`, picked by `H mod Σwt` into
    * the dst-ordered cumulative interval — the mirror of
    * [[GraphOps.weightedWalks]]'s step. `prv` carries the departing node
    * into the filter scope (the hash is over the node being LEFT).
    */
  private def duckWeightedStep(prevCte: String, pos: Int): String =
    s"""(SELECT root, walk, dst AS cur FROM (
       |  SELECT s.root, s.walk, s.cur AS prv, ed.dst, ed.wt,
       |    sum(ed.wt) OVER (PARTITION BY s.root, s.walk ORDER BY ed.dst)
       |      AS cum,
       |    sum(ed.wt) OVER (PARTITION BY s.root, s.walk) AS tot
       |  FROM $prevCte s JOIN ed ON ed.src = s.cur)
       |  WHERE ${duckWalkPick("root", "walk", pos, "prv")} % tot
       |      >= cum - wt
       |    AND ${duckWalkPick("root", "walk", pos, "prv")} % tot < cum)"""
      .stripMargin

  /** One node2vec transition in DuckDB: candidates = out-neighbors of
    * `cur`, weighted 1 (return to prev) / 4 (prev-adjacent) / 2 (far),
    * picked by `H mod Σw` landing in the dst-ordered cumulative interval
    * — the exact mirror of [[GraphOps.biasedWalks]]'s step. Expects CTEs
    * `ed(src, dst)` and a previous stage exposing (root, walk, prev, cur).
    */
  private def duckBiasedStep(prevCte: String, pos: Int): String =
    s"""(SELECT root, walk, cur AS prev, dst AS cur FROM (
       |  SELECT root, walk, prev, cur, dst, wt,
       |    sum(wt) OVER (PARTITION BY root, walk ORDER BY dst) AS cum,
       |    sum(wt) OVER (PARTITION BY root, walk) AS tot
       |  FROM (
       |    SELECT s.root, s.walk, s.prev, s.cur, ed.dst,
       |      CASE WHEN ed.dst = s.prev THEN 1
       |           WHEN pe.src IS NOT NULL THEN 4 ELSE 2 END AS wt
       |    FROM $prevCte s JOIN ed ON ed.src = s.cur
       |    LEFT JOIN ed pe ON pe.src = s.prev AND pe.dst = ed.dst))
       |  WHERE ${duckWalkPick("root", "walk", pos, "cur")} % tot
       |      >= cum - wt
       |    AND ${duckWalkPick("root", "walk", pos, "cur")} % tot < cum)"""
      .stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Q9 degrees twin: per-node out/in/total degree over the hierarchy.
    QueryDef.sql(
      "graphp_degrees",
      """SELECT label, name, out_degree, in_degree,
        |  out_degree + in_degree AS degree
        |FROM (
        |  SELECT 'Region' AS label, r_name AS name,
        |    CAST((SELECT count(*) FROM nation
        |          WHERE n_regionkey = r_regionkey) AS INT) AS out_degree,
        |    0 AS in_degree
        |  FROM region
        |  UNION ALL
        |  SELECT 'Nation', n_name,
        |    CAST((SELECT count(*) FROM customer
        |          WHERE c_nationkey = n_nationkey) AS INT), 1
        |  FROM nation
        |  UNION ALL
        |  SELECT 'Customer', CAST(c_custkey AS VARCHAR),
        |    CAST((SELECT count(*) FROM orders
        |          WHERE o_custkey = c_custkey) AS INT), 1
        |  FROM customer
        |  UNION ALL
        |  SELECT 'Order', CAST(o_orderkey AS VARCHAR), 0, 1 FROM orders)
        |ORDER BY label, name""".stripMargin) { (s, d) =>
      GraphOps.degrees(s, hierarchy(s, d)).orderBy("label", "name")
    },

    // Q3/J11 k-hop twin: frontier expansion from each region root, node
    // counts per (root, depth) — depth 1 = nations, depth 2 = customers.
    QueryDef.sql(
      "graphp_khop_counts",
      """SELECT root_name, depth, n_nodes FROM (
        |  SELECT r_name AS root_name, 0 AS depth,
        |    CAST(1 AS BIGINT) AS n_nodes FROM region
        |  UNION ALL
        |  SELECT r_name, 1, count(*) FROM region
        |  JOIN nation ON n_regionkey = r_regionkey GROUP BY r_name
        |  UNION ALL
        |  SELECT r_name, 2, count(*) FROM region
        |  JOIN nation ON n_regionkey = r_regionkey
        |  JOIN customer ON c_nationkey = n_nationkey GROUP BY r_name)
        |ORDER BY root_name, depth""".stripMargin) { (s, d) =>
      val g = hierarchy(s, d)
      val seeds = g.nodes.filter(col("label") === "Region")
        .select(col("id").as("root_id"), col("id").as("node_id"))
      val rootNames = g.nodes.filter(col("label") === "Region")
        .select(col("id").as("root_id"), col("name").as("root_name"))
      GraphOps.bfs(g, seeds, Some(2))
        .join(rootNames, "root_id")
        .groupBy("root_name", "depth")
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("root_name", "depth")
    },

    // J11 unbounded-closure twin on a CYCLIC graph: the anti-join fixpoint
    // must terminate and find the whole per-region cycle from every start.
    QueryDef.sql(
      "graphp_closure_cyclic",
      """SELECT a.n_name AS root_name, CAST(count(*) AS BIGINT) AS n_reachable
        |FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey
        |GROUP BY a.n_name ORDER BY root_name""".stripMargin) { (s, d) =>
      val g = chain(s, d)
      val seeds =
        g.nodes.select(col("id").as("root_id"), col("id").as("node_id"))
      GraphOps.bfs(g, seeds, relFilter = col("relType") === "HAS_NEXT")
        .groupBy("root_id").agg(count(lit(1)).as("n_reachable"))
        .join(nationNames(s, d).withColumnRenamed("id", "root_id"), "root_id")
        .select(col("n_name").as("root_name"), col("n_reachable"))
        .orderBy("root_name")
    },

    // Q9 connected-components twin: GraphX CC labels every nation with the
    // lowest vertex id in its component = min nationkey in its region cycle.
    QueryDef.sql(
      "graphp_components",
      """SELECT n_name AS name,
        |  CAST(2000000000 + min(n_nationkey) OVER (PARTITION BY n_regionkey)
        |    AS BIGINT) AS component
        |FROM nation ORDER BY name""".stripMargin) { (s, d) =>
      GraphOps.connectedComponents(s, chain(s, d))
        .join(nationNames(s, d), "id")
        .select(col("n_name").as("name"), col("component"))
        .orderBy("name")
    },

    // J11 Pregel-BFS twin: min-depth from the first nation of each region
    // around the cycle = rank-within-region - 1.
    QueryDef.sql(
      "graphp_pregel_bfs",
      """SELECT n_name AS name,
        |  CAST(row_number() OVER (PARTITION BY n_regionkey
        |    ORDER BY n_nationkey) - 1 AS INT) AS depth
        |FROM nation ORDER BY name""".stripMargin) { (s, d) =>
      val g = chain(s, d)
      // one constant root over every source: a single min-depth per node
      val seeds = Tables.nation(s, d)
        .groupBy("n_regionkey").agg(min("n_nationkey").as("k"))
        .select(lit(0L).as("root_id"), (col("k") + NationBase).as("node_id"))
      GraphOps.bfs(g, seeds)
        .select(col("node_id").as("id"), col("depth"))
        .join(nationNames(s, d), "id")
        .select(col("n_name").as("name"), col("depth"))
        .orderBy("name")
    },

    // Q9 shortest-paths twin: directed distance to the region's last nation
    // (the landmark) along the cycle = region size - rank.
    QueryDef.sql(
      "graphp_shortest_paths",
      """WITH pos AS (
        |  SELECT n_name, n_regionkey,
        |    row_number() OVER (PARTITION BY n_regionkey
        |      ORDER BY n_nationkey) AS rn,
        |    count(*) OVER (PARTITION BY n_regionkey) AS sz
        |  FROM nation),
        |lm AS (
        |  SELECT n_regionkey AS rk, max_by(n_name, n_nationkey) AS lm_name
        |  FROM nation GROUP BY 1)
        |SELECT pos.n_name AS name, lm_name AS landmark,
        |  CAST(sz - rn AS INT) AS distance
        |FROM pos JOIN lm ON pos.n_regionkey = lm.rk
        |ORDER BY name""".stripMargin) { (s, d) =>
      val g = chain(s, d)
      val landmarks = Tables.nation(s, d)
        .groupBy("n_regionkey").agg(max("n_nationkey").as("k"))
        .select((col("k") + NationBase).as("id"))
        .collect().map(_.getLong(0)).toSeq // ≤ |regions| rows — bounded
      GraphOps.shortestPaths(s, g, landmarks)
        .join(nationNames(s, d), "id")
        .join(nationNames(s, d)
          .withColumnRenamed("id", "landmark")
          .withColumnRenamed("n_name", "landmark_name"), "landmark")
        .select(col("n_name").as("name"),
          col("landmark_name").as("landmark"), col("distance"))
        .orderBy("name")
    },

    // Q9 harmonic-centrality twin (new r8): landmark-sampled harmonic
    // centrality on the cyclic chain with each region's FIRST nation as
    // its landmark — around the directed cycle d(v→lm) is the wrap
    // distance sz−rn+1, so H(v) = 1/(sz−rn+1) exactly (other regions'
    // landmarks unreachable → 0; the landmark itself d=0 → 0). Grades
    // unreachable-landmark handling and the micro-unit quantization.
    QueryDef.sql(
      "graphp_harmonic",
      """WITH pos AS (
        |  SELECT n_name, n_regionkey,
        |    row_number() OVER (PARTITION BY n_regionkey
        |      ORDER BY n_nationkey) AS rn,
        |    count(*) OVER (PARTITION BY n_regionkey) AS sz
        |  FROM nation)
        |SELECT n_name AS name,
        |  CAST(CASE WHEN rn = 1 THEN 0
        |       ELSE round(1000000.0 / (sz - rn + 1)) END AS DOUBLE)
        |    / CAST(1000000 AS DOUBLE) AS harmonic
        |FROM pos ORDER BY name""".stripMargin) { (s, d) =>
      val landmarks = Tables.nation(s, d)
        .groupBy("n_regionkey").agg(min("n_nationkey").as("k"))
        .select((col("k") + NationBase).as("id"))
        .collect().map(_.getLong(0)).toSeq // ≤ |regions| rows — bounded
      GraphOps.harmonicCentrality(s, chain(s, d), landmarks)
        .select(col("name"), col("harmonic"))
        .orderBy("name")
    },

    // Q9 closeness twin: landmark-restricted closeness on the directed
    // cycle, same landmark set as graphp_harmonic. Each node reaches
    // exactly ONE landmark (its own region's) at the wrap distance, so
    // C = 1/(sz − rn + 1) exactly — a ratio of small ints both engines
    // compute bit-identically in IEEE double; the landmark itself
    // (d = 0 excluded) answers 0.
    QueryDef.sql(
      "graphp_closeness",
      """WITH pos AS (
        |  SELECT n_name, n_regionkey,
        |    row_number() OVER (PARTITION BY n_regionkey
        |      ORDER BY n_nationkey) AS rn,
        |    count(*) OVER (PARTITION BY n_regionkey) AS sz
        |  FROM nation)
        |SELECT n_name AS name,
        |  CASE WHEN rn = 1 THEN CAST(0 AS DOUBLE)
        |       ELSE CAST(1 AS DOUBLE) / (sz - rn + 1) END AS closeness
        |FROM pos ORDER BY name""".stripMargin) { (s, d) =>
      val landmarks = Tables.nation(s, d)
        .groupBy("n_regionkey").agg(min("n_nationkey").as("k"))
        .select((col("k") + NationBase).as("id"))
        .collect().map(_.getLong(0)).toSeq // ≤ |regions| rows — bounded
      GraphOps.closenessCentrality(s, chain(s, d), landmarks)
        .select(col("name"), col("closeness"))
        .orderBy("name")
    },

    // Q9 personalized-PageRank twin (new r8): PPR from the globally
    // min-keyed nation on the directed cycle layer. Finite-iteration rank
    // VALUES aren't engine-portable, but two invariants are exact: (a)
    // vertices outside the source's region are unreachable and hold rank
    // EXACTLY 0.0 (teleport returns only to the source; 0.85·0 stays a
    // hard IEEE zero), and (b) within the source's region mass decays
    // strictly with wrap distance, so the rank ordering IS the distance
    // ordering — graded as pos = rank_order ≡ row_number by nationkey
    // (the source is the region's min key, so key order = hop order).
    QueryDef.sql(
      "graphp_ppr",
      """SELECT n_name AS name,
        |  CAST(CASE WHEN n_regionkey = (SELECT n_regionkey FROM nation
        |                                WHERE n_nationkey =
        |                                  (SELECT min(n_nationkey)
        |                                   FROM nation))
        |       THEN row_number() OVER (PARTITION BY n_regionkey
        |                               ORDER BY n_nationkey)
        |       ELSE 0 END AS INT) AS pos
        |FROM nation ORDER BY name""".stripMargin) { (s, d) =>
      val srcKey = Tables.nation(s, d)
        .agg(min("n_nationkey")).collect()(0).getInt(0).toLong // 1 row
      val pr = GraphOps.personalizedPageRank(s, chain(s, d),
        NationBase + srcKey, iters = 20)
      val regions = Tables.nation(s, d)
        .select(col("n_name").as("name"), col("n_regionkey"))
      val w = Window.partitionBy("n_regionkey").orderBy(col("rank").desc)
      pr.join(regions, "name")
        .select(col("name"),
          when(col("rank") === 0.0, lit(0))
            .otherwise(row_number().over(w)).cast("int").as("pos"))
        .orderBy("name")
    },

    // Q9 node-similarity twin (new r8): neighborhood Jaccard on the
    // chain∪cliques layer; the oracle re-derives the same undirected
    // adjacency relationally (lead window + row_number self-join, the
    // graphp_link_predict skeleton) and scores pairs directly —
    // J = common/(deg_a + deg_b − common) is a ratio of small exact
    // integers, bit-identical in both engines with no quantization.
    QueryDef.sql(
      "graphp_node_similarity",
      """WITH ch AS (
        |  SELECT n_nationkey AS src,
        |    coalesce(lead(n_nationkey) OVER w,
        |      min(n_nationkey) OVER (PARTITION BY n_regionkey)) AS dst
        |  FROM nation
        |  WINDOW w AS (PARTITION BY n_regionkey ORDER BY n_nationkey)),
        |t3 AS (
        |  SELECT n_regionkey AS rk, n_nationkey AS id, row_number() OVER
        |    (PARTITION BY n_regionkey ORDER BY n_nationkey) AS rn
        |  FROM nation),
        |cl AS (SELECT a.id AS src, b.id AS dst FROM t3 a
        |       JOIN t3 b ON a.rk = b.rk AND a.rn < b.rn
        |       WHERE a.rn <= 3 AND b.rn <= 3),
        |e AS (SELECT src, dst FROM ch UNION ALL SELECT src, dst FROM cl),
        |und AS (SELECT DISTINCT u, v FROM (
        |  SELECT src AS u, dst AS v FROM e
        |  UNION ALL SELECT dst, src FROM e) WHERE u <> v),
        |deg AS (SELECT u, count(*) AS deg FROM und GROUP BY u),
        |pairs AS (
        |  SELECT a.v AS ia, b.v AS ib, count(*) AS n_common
        |  FROM und a JOIN und b ON a.u = b.u AND a.v < b.v
        |  GROUP BY a.v, b.v)
        |SELECT na.n_name AS name_a, nb.n_name AS name_b, n_common,
        |  CAST(n_common AS DOUBLE)
        |    / CAST(da.deg + db.deg - n_common AS DOUBLE) AS jaccard
        |FROM pairs JOIN deg da ON ia = da.u
        |           JOIN deg db ON ib = db.u
        |           JOIN nation na ON ia = na.n_nationkey
        |           JOIN nation nb ON ib = nb.n_nationkey
        |ORDER BY name_a, name_b""".stripMargin) { (s, d) =>
      val names = nationNames(s, d)
      GraphOps.nodeSimilarity(s, linkPred(s, d))
        .join(names.select(col("id").as("a"), col("n_name").as("name_a")),
          "a")
        .join(names.select(col("id").as("b"), col("n_name").as("name_b")),
          "b")
        .select("name_a", "name_b", "n_common", "jaccard")
        .orderBy("name_a", "name_b")
    },

    // Q9 weighted-shortest-path twin: min-sum distances from each region's
    // first nation around its directed cycle, edge weight derived from the
    // destination key (dst % 7 + 1). The path to every node is unique and
    // positive-weighted, so the Pregel fixpoint must equal the per-region
    // running sum of weights in nationkey order.
    QueryDef.sql(
      "graphp_weighted_paths",
      """WITH pos AS (SELECT n_name, n_nationkey, n_regionkey,
        |    row_number() OVER (PARTITION BY n_regionkey
        |      ORDER BY n_nationkey) AS rn
        |  FROM nation)
        |SELECT n_name AS name, CAST(
        |    sum(CASE WHEN rn = 1 THEN 0 ELSE n_nationkey % 7 + 1 END)
        |      OVER (PARTITION BY n_regionkey ORDER BY n_nationkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  AS BIGINT) AS distance
        |FROM pos ORDER BY name""".stripMargin) { (s, d) =>
      val roots = Tables.nation(s, d)
        .groupBy("n_regionkey").agg(min("n_nationkey").as("k"))
        .select((col("k") + NationBase).as("id"))
        .collect().map(_.getLong(0)).toSet // ≤ |regions| rows — bounded
      GraphOps.weightedDistances(s, chain(s, d), roots,
        (col("dst") - NationBase) % 7 + 1)
        .join(nationNames(s, d), "id")
        .select(col("n_name").as("name"),
          col("distance").cast("long").as("distance"))
        .orderBy("name")
    },

    // Q4+Q5 neighborhood+nest twin: the reference's (m, connected) nested
    // serving contract (`first-graph.py:168-176`) over region roots.
    QueryDef.sql(
      "graphp_nest",
      """SELECT r_name AS root_name, CAST(count(*) AS BIGINT) AS n_connected,
        |  string_agg('Nation:' || n_name, ','
        |    ORDER BY 'Nation:' || n_name) AS connected
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY root_name""".stripMargin) { (s, d) =>
      GraphOps.nestByRoot(
        GraphOps.neighborhoodWhere(hierarchy(s, d),
          col("label") === "Region", 1))
        .orderBy("root_name")
    },

    // B6 CypherLite twin: the LLM-emitted query class answered by the
    // engine's front end, graded relationally.
    QueryDef.sql(
      "graphp_cypher",
      """SELECT r_name AS m_name, 1 AS depth, 'Nation' AS c_label,
        |  n_name AS c_name, '' AS c_content
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |ORDER BY m_name, depth, c_label, c_name, c_content""".stripMargin) {
      (s, d) =>
        CypherLite.run(hierarchy(s, d),
          "MATCH (m:Region)-[*1..1]->(connected) RETURN m, connected")
          .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // Q9 pagerank twin: on a directed cycle every vertex has in/out degree 1,
    // so PageRank's fixed-point iteration keeps all ranks IDENTICAL at every
    // step regardless of iteration count (rank_{k+1} = 0.15 + 0.85·rank_k for
    // every vertex simultaneously). The derivable invariant is uniformity:
    // each nation's rank divided by its region's max rank is exactly 1.0 —
    // division of bit-identical doubles, no rounding tolerance needed.
    QueryDef.sql(
      "graphp_pagerank",
      """SELECT r_name AS region, CAST(count(*) AS BIGINT) AS n_nations,
        |  CAST(1 AS DOUBLE) AS min_ratio, CAST(1 AS DOUBLE) AS max_ratio
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY region""".stripMargin) { (s, d) =>
      val pr = GraphOps.pageRank(s, chain(s, d), iters = 10)
      val regionOf = Tables.nation(s, d)
        .join(Tables.region(s, d),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_name").as("name"), col("r_name").as("region"))
      val w = Window.partitionBy("region")
      pr.join(regionOf, "name")
        .withColumn("ratio", col("rank") / max("rank").over(w))
        .groupBy("region")
        .agg(count(lit(1)).as("n_nations"), min("ratio").as("min_ratio"),
          max("ratio").as("max_ratio"))
        .orderBy("region")
    },

    // Q9 triangle-count twin on the clique layer: exactly one triangle per
    // region, touching exactly its three clique members.
    QueryDef.sql(
      "graphp_triangles",
      """SELECT n_name AS name,
        |  CAST(CASE WHEN row_number() OVER (PARTITION BY n_regionkey
        |    ORDER BY n_nationkey) <= 3 THEN 1 ELSE 0 END AS INT) AS triangles
        |FROM nation ORDER BY name""".stripMargin) { (s, d) =>
      GraphOps.triangleCounts(s, cliques(s, d))
        .select(col("name"), col("triangles").cast("int").as("triangles"))
        .orderBy("name")
    },

    // Q9 k-core twin on the hierarchy∪chain layer. The 2-core requires a
    // peeling CASCADE (orders are degree-1 leaves; their removal drops
    // customers to degree 1, removed the NEXT round), and its membership
    // is closed-form: the nation cycle + region hubs survive, everything
    // below a nation peels.
    QueryDef.sql(
      "graphp_kcore",
      """SELECT label, name FROM (
        |  SELECT 'Nation' AS label, n_name AS name FROM nation
        |  UNION ALL
        |  SELECT 'Region', r_name FROM region)
        |ORDER BY label, name""".stripMargin) { (s, d) =>
      val g = hierChain(s, d)
      GraphOps.kCore(s, g, 2)
        .join(g.nodes.toDF(), "id")
        .select(col("label"), col("name"))
        .orderBy("label", "name")
    },

    // Q9 betweenness twin on the cycle layer (new r9). Landmarks = each
    // region's min-keyed nation (as graphp_harmonic). On a directed
    // m-cycle, shortest paths are unique, so from the landmark the node at
    // wrap distance k carries dependency δ = m−1−k (every strictly-farther
    // target routes through it): with rn = 1-based key order, betweenness
    // = m − rn for non-landmarks and 0 for the landmark (its own-source
    // dependency is excluded by definition) — all exact small integers.
    QueryDef.sql(
      "graphp_betweenness",
      """WITH pos AS (
        |  SELECT n_name, n_regionkey,
        |    row_number() OVER (PARTITION BY n_regionkey
        |      ORDER BY n_nationkey) AS rn,
        |    count(*) OVER (PARTITION BY n_regionkey) AS m
        |  FROM nation)
        |SELECT n_name AS name,
        |  CAST(CASE WHEN rn = 1 THEN 0 ELSE m - rn END AS DOUBLE)
        |    AS betweenness
        |FROM pos ORDER BY name""".stripMargin) { (s, d) =>
      val landmarks = Tables.nation(s, d)
        .groupBy("n_regionkey").agg(min("n_nationkey").as("k"))
        .select((col("k") + NationBase).as("id"))
        .collect().map(_.getLong(0)).toSeq // ≤ |regions| rows — bounded
      GraphOps.betweenness(s, chain(s, d), landmarks)
        .select(col("name"), col("betweenness"))
        .orderBy("name")
    },

    // Q9 local-clustering-coefficient twin on the clique∪star layer
    // (new r9). Closed form per region of m nations (see [[cliqueStar]]):
    // the hub scores 2/((m−1)(m−2)) over degree m−1 with exactly 1
    // triangle; the two non-hub clique members score 1.0 at degree 2;
    // every other nation is a degree-1 star leaf scoring 0. Also proves
    // the kernel's canonicalization: the fixture carries duplicate
    // hub–n2/hub–n3 edges under two relTypes, which must not double-count.
    QueryDef.sql(
      "graphp_clustering",
      s"""WITH m AS (SELECT n_regionkey AS rk, count(*) AS m
         |           FROM nation GROUP BY 1),
         |r AS (SELECT n_name, n_regionkey AS rk,
         |    row_number() OVER (PARTITION BY n_regionkey
         |      ORDER BY n_nationkey) AS rn
         |  FROM nation)
         |SELECT n_name AS name,
         |  CAST(CASE WHEN rn = 1 THEN m - 1 WHEN rn <= 3 THEN 2
         |    ELSE 1 END AS INT) AS degree,
         |  CAST(CASE WHEN rn <= 3 THEN 1 ELSE 0 END AS BIGINT) AS triangles,
         |  CASE WHEN rn = 1 THEN ${graft.Det.duckPortableRound(
              "CAST(2 AS DOUBLE) / ((m - 1) * (m - 2))", 6)}
         |    WHEN rn <= 3 THEN CAST(1 AS DOUBLE)
         |    ELSE CAST(0 AS DOUBLE) END AS coeff
         |FROM r JOIN m USING (rk) ORDER BY name""".stripMargin) { (s, d) =>
      GraphOps.clusteringCoefficient(s, cliqueStar(s, d))
        .select(col("name"), col("degree"), col("triangles"), col("coeff"))
        .orderBy("name")
    },

    // Q9 k-truss twin (new r9). 3-truss of the cliqueStar layer, closed
    // form: every edge among a region's three lowest-keyed nations closes
    // exactly one triangle (support 1 ≥ k−2 = 1) and survives; every
    // star-only edge (hub → 4th..mth nation) closes none and peels away —
    // and peeling them does not disturb the clique triangle, so the
    // fixpoint is exactly the per-region 3-clique edge set. The fixture's
    // duplicate hub edges and mixed orientations (see [[cliqueStar]])
    // additionally prove the kernel canonicalizes before counting. Node
    // id order is nationkey order, so lo/hi maps to rn order in the SQL.
    QueryDef.sql(
      "graphp_ktruss",
      """WITH r AS (SELECT n_name, n_regionkey AS rk,
        |    row_number() OVER (PARTITION BY n_regionkey
        |      ORDER BY n_nationkey) AS rn,
        |    count(*) OVER (PARTITION BY n_regionkey) AS m
        |  FROM nation)
        |SELECT a.n_name AS lo_name, b.n_name AS hi_name
        |FROM r a JOIN r b ON a.rk = b.rk AND a.rn < b.rn
        |WHERE b.rn <= 3 AND a.m >= 3
        |ORDER BY lo_name, hi_name""".stripMargin) { (s, d) =>
      val g = cliqueStar(s, d)
      val t = GraphOps.kTruss(s, g, 3)
      val names = g.nodes.toDF().select(col("id"), col("name"))
      t.join(names.select(col("id").as("lo"), col("name").as("lo_name")),
          "lo")
        .join(names.select(col("id").as("hi"), col("name").as("hi_name")),
          "hi")
        .select(col("lo_name"), col("hi_name"))
        .orderBy("lo_name", "hi_name")
    },

    // Q9 SCC twin on the hierarchy∪chain layer: each region's nation cycle
    // is one strongly connected component (mutual reachability around the
    // directed cycle), while the tree edges above/below are acyclic — so
    // restricted to nations, the SCC id is closed-form: the min nation id
    // of the region. Undirected CC would collapse everything to one blob;
    // SCC proving the cycles separate is the directed-analytics evidence.
    // Q9 HITS twin (new r8) on the clique layer: each region's 3-member
    // transitive tournament (1→2, 1→3, 2→3) has the CLOSED-FORM HITS
    // fixpoint h ∝ (φ, 1, 0), a ∝ (0, 1, φ) with φ the golden ratio
    // (dominant eigenvector of A·Aᵀ = [[2,1],[1,1]]⊕[0]); L1-normalized
    // over the 5 identical cliques the per-rank constants are
    // (1/φ)/5 = 0.123607 and (1/φ²)/5 = 0.076393 exactly (to 6dp).
    // Non-clique nations must answer 0/0 — a kernel that dropped
    // isolated nodes or mixed up edge direction hash-misses. 12
    // iterations converge to ~1e-10, far inside the rounding margin.
    QueryDef.sql(
      "graphp_hits",
      """WITH r AS (SELECT n_name, row_number() OVER
        |    (PARTITION BY n_regionkey ORDER BY n_nationkey) AS rn
        |  FROM nation)
        |SELECT n_name AS name,
        |  CAST(CASE WHEN rn = 1 THEN 0.123607 WHEN rn = 2 THEN 0.076393
        |       ELSE 0.0 END AS DOUBLE) AS hub,
        |  CAST(CASE WHEN rn = 3 THEN 0.123607 WHEN rn = 2 THEN 0.076393
        |       ELSE 0.0 END AS DOUBLE) AS auth
        |FROM r ORDER BY name""".stripMargin) { (s, d) =>
      GraphOps.hits(s, cliques(s, d), iters = 12)
        .select(col("name"),
          graft.Det.portableRound(col("hub"), 6).as("hub"),
          graft.Det.portableRound(col("auth"), 6).as("auth"))
        .orderBy("name")
    },

    QueryDef.sql(
      "graphp_scc",
      """SELECT n.n_name AS name, m.n_name AS scc
        |FROM nation n
        |JOIN (SELECT n_regionkey AS rk, min(n_nationkey) AS mk
        |      FROM nation GROUP BY 1) g ON n.n_regionkey = g.rk
        |JOIN nation m ON m.n_nationkey = g.mk
        |ORDER BY name""".stripMargin) { (s, d) =>
      val g = hierChain(s, d)
      val nations = g.nodes.toDF().filter(col("label") === "Nation")
      GraphOps.stronglyConnected(s, g)
        .join(nations.select(col("id"), col("name")), "id")
        .join(nations.select(col("id").as("component"),
          col("name").as("scc")), "component")
        .select("name", "scc")
        .orderBy("name")
    },

    // Q9 Adamic-Adar link-prediction twin on the chain∪cliques layer. The
    // oracle re-derives the same undirected adjacency from the nation table
    // (window lead for the cycle, row_number self-join for the cliques) and
    // scores pairs independently; micro-unit quantization (Det discipline)
    // makes the Σ 1/ln(deg) sum order-independent on both engines.
    QueryDef.sql(
      "graphp_link_predict",
      """WITH ch AS (
        |  SELECT n_nationkey AS src,
        |    coalesce(lead(n_nationkey) OVER w,
        |      min(n_nationkey) OVER (PARTITION BY n_regionkey)) AS dst
        |  FROM nation
        |  WINDOW w AS (PARTITION BY n_regionkey ORDER BY n_nationkey)),
        |t3 AS (
        |  SELECT n_regionkey AS rk, n_nationkey AS id, row_number() OVER
        |    (PARTITION BY n_regionkey ORDER BY n_nationkey) AS rn
        |  FROM nation),
        |cl AS (SELECT a.id AS src, b.id AS dst FROM t3 a
        |       JOIN t3 b ON a.rk = b.rk AND a.rn < b.rn
        |       WHERE a.rn <= 3 AND b.rn <= 3),
        |e AS (SELECT src, dst FROM ch UNION ALL SELECT src, dst FROM cl),
        |und AS (SELECT DISTINCT u, v FROM (
        |  SELECT src AS u, dst AS v FROM e
        |  UNION ALL SELECT dst, src FROM e) WHERE u <> v),
        |deg AS (SELECT u, count(*) AS deg FROM und GROUP BY u),
        |adj AS (SELECT und.u AS z, und.v AS n, deg.deg FROM und
        |        JOIN deg USING (u)),
        |pairs AS (
        |  SELECT a.n AS ia, b.n AS ib, count(*) AS n_common,
        |    CAST(sum(CAST(floor(CAST(1000000 AS DOUBLE) /
        |        ln(CAST(a.deg AS DOUBLE)) + 0.5) AS BIGINT)) AS DOUBLE) /
        |      CAST(1000000 AS DOUBLE) AS aa_score
        |  FROM adj a JOIN adj b ON a.z = b.z AND a.n < b.n
        |  GROUP BY a.n, b.n)
        |SELECT na.n_name AS name_a, nb.n_name AS name_b, n_common, aa_score
        |FROM pairs JOIN nation na ON ia = na.n_nationkey
        |           JOIN nation nb ON ib = nb.n_nationkey
        |ORDER BY name_a, name_b""".stripMargin) { (s, d) =>
      val names = nationNames(s, d)
      GraphOps.adamicAdar(s, linkPred(s, d))
        .join(names.select(col("id").as("a"), col("n_name").as("name_a")),
          "a")
        .join(names.select(col("id").as("b"), col("n_name").as("name_b")),
          "b")
        .select("name_a", "name_b", "n_common", "aa_score")
        .orderBy("name_a", "name_b")
    },

    // B6 CypherLite twin: relType-constrained variable hops. The hop bound
    // is 2 but the expansion is restricted to HAS_CUSTOMER edges, so depth 2
    // finds nothing (orders hang off customers via HAS_ORDER) — proving the
    // type filter actually pruned the traversal, not just the output.
    QueryDef.sql(
      "graphp_cypher_reltype",
      """SELECT n_name AS m_name, 1 AS depth, 'Customer' AS c_label,
        |  CAST(c_custkey AS VARCHAR) AS c_name, '' AS c_content
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |ORDER BY m_name, depth, c_label, c_name, c_content""".stripMargin) {
      (s, d) =>
        CypherLite.run(hierarchy(s, d),
          "MATCH (m:Nation)-[:HAS_CUSTOMER*1..2]->(connected) " +
            "RETURN m, connected")
          .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: multi-type relationship alternation `:A|B`. On
    // the hierarchy∪chain graph a nation's 2-hop frontier along
    // HAS_CUSTOMER|HAS_NEXT is its own customers, its successor nation,
    // the successor's customers, and the successor's successor (regions
    // hold 5 nations, so next² never wraps back to the root) — while the
    // HAS_ORDER layer under every customer stays untouched, proving the
    // alternation restricts the traversal itself. Derived relationally
    // from the same lead()-with-wraparound window that builds the chain.
    QueryDef.sql(
      "graphp_cypher_multi_rel",
      """WITH nx AS (
        |  SELECT n_nationkey AS k, n_name,
        |    coalesce(lead(n_nationkey) OVER (PARTITION BY n_regionkey
        |        ORDER BY n_nationkey),
        |      min(n_nationkey) OVER (PARTITION BY n_regionkey)) AS nxt
        |  FROM nation),
        |cc AS (SELECT c_nationkey AS k, count(*) AS nc
        |  FROM customer GROUP BY 1)
        |SELECT nx.n_name AS m_name,
        |  CAST(coalesce(c1.nc, 0) + coalesce(c2.nc, 0) + 2 AS BIGINT)
        |    AS n_connected
        |FROM nx
        |LEFT JOIN cc c1 ON c1.k = nx.k
        |LEFT JOIN cc c2 ON c2.k = nx.nxt
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierChain(s, d),
        "MATCH (m:Nation)-[:HAS_CUSTOMER|HAS_NEXT*1..2]->(connected) " +
          "RETURN m.name, count(connected)")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: IS [NOT] NULL null tests, both polarities in
    // one DNF clause over the null-bearing fixture (odd nationkeys carry
    // NULL content). An implementation that treated NULL like an empty
    // string would flip every odd-key row's branch.
    QueryDef.sql(
      "graphp_cypher_is_null",
      """SELECT n_name AS m_name FROM nation
        |WHERE n_nationkey % 2 = 0 AND n_name >= 'J'
        |   OR n_nationkey % 2 = 1 AND n_name < 'J'
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(nullableContent(s, d),
        "MATCH (m:Nation) WHERE m.content IS NOT NULL AND m.name >= 'J' " +
          "OR m.content IS NULL AND m.name < 'J' RETURN m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: legacy `exists(m.prop)` (pre-Neo4j-4.x
    // property-existence, still what older-corpus LLMs emit) — desugars to
    // IS NOT NULL; the NOT form composes through the negation path. Same
    // null-bearing fixture as the IS NULL twin, opposite clause shape.
    QueryDef.sql(
      "graphp_cypher_exists_fn",
      """SELECT n_name AS m_name FROM nation
        |WHERE n_nationkey % 2 = 0 OR n_name >= 'T'
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(nullableContent(s, d),
        "MATCH (m:Nation) WHERE exists(m.content) OR " +
          "NOT exists(m.content) AND m.name >= 'T' RETURN m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: AS aliases on RETURN items + ORDER BY the
    // aggregate alias (the `ORDER BY cnt DESC` staple). Ordering runs on
    // the canonical columns before the rename, so the twin also proves an
    // alias cannot change which rows survive the LIMIT (count ties at the
    // cut are broken by the grouping key on both engines).
    QueryDef.sql(
      "graphp_cypher_alias",
      """SELECT n_name AS nation, CAST(count(*) AS BIGINT) AS n_customers
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_customers DESC, nation LIMIT 7""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation)-[:HAS_CUSTOMER]->(c) " +
          "RETURN m.name AS nation, count(c) AS n_customers " +
          "ORDER BY n_customers DESC LIMIT 7")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: sum(c.prop) — customers are NAMED by their
    // custkey, so the numeric aggregate sums real keys per nation through
    // the try_cast lens (the same lens numeric WHERE literals use).
    QueryDef.sql(
      "graphp_cypher_sum",
      """SELECT n_name AS m_name,
        |  CAST(sum(c_custkey) AS DOUBLE) AS total_key
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation)-[:HAS_CUSTOMER]->(c) " +
          "RETURN m.name, sum(c.name) AS total_key ORDER BY m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: `MATCH p = shortestPath(…)` with the unbounded
    // `*` form, on the cyclic chain layer — distance from NATION_0 to each
    // nation in its region is the position gap around the directed cycle
    // ((pos_b − pos_a) mod region size, closed-form from the same
    // lead()-window that builds the chain). Nations in other regions are
    // unreachable and must be absent; the root's cycle back to itself is
    // no path. An implementation whose BFS double-counts revisits or
    // stops early would shift every wrap-around distance.
    QueryDef.sql(
      "graphp_cypher_shortest_path",
      """WITH r AS (SELECT n_name, n_regionkey,
        |    row_number() OVER (PARTITION BY n_regionkey
        |      ORDER BY n_nationkey) AS pos,
        |    count(*) OVER (PARTITION BY n_regionkey) AS k
        |  FROM nation),
        |a AS (SELECT * FROM r WHERE n_name = 'NATION_0')
        |SELECT b.n_name AS b_name,
        |  CAST((((b.pos - a.pos) % b.k) + b.k) % b.k AS INT) AS path_len
        |FROM r b JOIN a ON b.n_regionkey = a.n_regionkey
        |WHERE b.n_name <> a.n_name
        |ORDER BY b_name""".stripMargin) { (s, d) =>
      CypherLite.run(chain(s, d),
        "MATCH p = shortestPath((a:Nation {name: 'NATION_0'})" +
          "-[:HAS_NEXT*]->(b:Nation)) " +
          "RETURN b.name, length(p) ORDER BY b.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: the NOT prefix on comparisons, mixed into an
    // AND group — negation applies per comparison (after evaluation),
    // not to the whole clause.
    QueryDef.sql(
      "graphp_cypher_not",
      """SELECT n_name AS m_name FROM nation
        |WHERE NOT (n_name < 'NATION_2') AND NOT (n_name = 'NATION_5')
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation) WHERE NOT m.name < 'NATION_2' " +
          "AND NOT m.name = 'NATION_5' RETURN m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: incoming direction `<-[]-` — the expansion runs
    // over the REVERSED edge relation, so a nation's in-neighbor via
    // HAS_NATION is its region. Graded against the plain child→parent join.
    QueryDef.sql(
      "graphp_cypher_incoming",
      """SELECT n_name AS m_name, r_name AS c_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY m_name, c_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation)<-[:HAS_NATION]-(c) RETURN m.name, c.name " +
          "ORDER BY m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: incoming MULTI-hop `<-[*1..2]-` — every
    // customer's reverse 2-hop neighborhood is exactly {its nation, its
    // region}, so the count is the constant 2 (proving the reversed
    // traversal actually chains across depths).
    QueryDef.sql(
      "graphp_cypher_incoming_deep",
      """SELECT CAST(c_custkey AS VARCHAR) AS m_name, 2 AS cnt
        |FROM customer WHERE CAST(c_custkey AS VARCHAR) < '100'
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Customer)<-[*1..2]-(c) WHERE m.name < '100' " +
          "RETURN m.name, count(c) AS cnt ORDER BY m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: undirected `-[]-` — one hop either way from a
    // nation reaches its region (reverse HAS_NATION) plus its customers
    // (forward HAS_CUSTOMER); zero-customer nations still answer 1.
    QueryDef.sql(
      "graphp_cypher_undirected",
      """SELECT n_name AS m_name,
        |  (SELECT count(*) FROM customer
        |   WHERE c_nationkey = n_nationkey) + 1 AS cnt
        |FROM nation ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation)-[]-(c) RETURN m.name, count(c) AS cnt " +
          "ORDER BY m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: relationship variable + type(r) — the schema
    // census `MATCH (m)-[r]->(c) RETURN type(r), count(*)`, the first
    // query LLMs emit when exploring an unknown graph. One row per edge
    // type with its frequency; graded against per-table row counts.
    QueryDef.sql(
      "graphp_cypher_type_census",
      """SELECT * FROM (
        |  SELECT 'HAS_NATION' AS r_type,
        |         (SELECT count(*) FROM nation) AS cnt
        |  UNION ALL
        |  SELECT 'HAS_CUSTOMER', (SELECT count(*) FROM customer)
        |  UNION ALL
        |  SELECT 'HAS_ORDER', (SELECT count(*) FROM orders)
        |) ORDER BY cnt DESC, r_type""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m)-[r]->(c) RETURN type(r), count(*) AS cnt " +
          "ORDER BY count(*) DESC")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: WHERE type(r) — the comparison targets the
    // traversed edge's type (bindings-level filter on `r_type`), so an
    // untyped pattern restricted to HAS_NATION counts nations per region.
    QueryDef.sql(
      "graphp_cypher_where_type",
      """SELECT r_name AS m_name, count(*) AS n_nations
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m)-[r]->(c) WHERE type(r) = 'HAS_NATION' " +
          "RETURN m.name, count(r) AS n_nations ORDER BY m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: type(r) as a plain projection riding the
    // binding columns alongside both endpoints' properties.
    QueryDef.sql(
      "graphp_cypher_type_proj",
      """SELECT DISTINCT r_name AS m_name, 'HAS_NATION' AS r_type,
        |       n_name AS c_name
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |ORDER BY m_name, r_type, c_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Region)-[r]->(c:Nation) " +
          "RETURN DISTINCT m.name, type(r), c.name ORDER BY m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: WHERE comparisons on the matched node, graded
    // against the same range predicate in SQL (binary string collation on
    // both engines).
    QueryDef.sql(
      "graphp_cypher_where",
      """SELECT 'Nation' AS m_label, n_name AS m_name, '' AS m_content
        |FROM nation WHERE n_name >= 'E' AND n_name < 'P'
        |ORDER BY m_label, m_name, m_content""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation) WHERE m.name >= 'E' AND m.name < 'P' RETURN m")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: RETURN m, count(connected) — the aggregate form an
    // LLM emits for "how many X under Y". Depth 2 from each region reaches
    // its nations (HAS_NATION) and their customers (HAS_CUSTOMER), so the
    // count is nations + customers per region, derived relationally.
    QueryDef.sql(
      "graphp_cypher_count",
      """WITH conn AS (
        |  SELECT r_name FROM region JOIN nation ON n_regionkey = r_regionkey
        |  UNION ALL
        |  SELECT r_name FROM region JOIN nation ON n_regionkey = r_regionkey
        |    JOIN customer ON c_nationkey = n_nationkey)
        |SELECT r_name AS m_name, CAST(count(*) AS BIGINT) AS n_connected
        |FROM conn GROUP BY r_name ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Region)-[*1..2]->(connected) RETURN m, count(connected)")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // A10 append twin: upserting a DISJOINT layer (one Meta node per region
    // + a HAS_META edge) exercises the pure-append branch of the MERGE —
    // every incoming row survives the anti-join. Graded on the combined
    // node-by-label + edge-by-relType census.
    QueryDef.sql(
      "graphp_append",
      """SELECT entity, n FROM (
        |  SELECT 'node:Region' AS entity, CAST(count(*) AS BIGINT) AS n
        |    FROM region
        |  UNION ALL SELECT 'node:Nation', count(*) FROM nation
        |  UNION ALL SELECT 'node:Customer', count(*) FROM customer
        |  UNION ALL SELECT 'node:Order', count(*) FROM orders
        |  UNION ALL SELECT 'node:Meta', count(*) FROM region
        |  UNION ALL SELECT 'edge:HAS_NATION', count(*) FROM nation
        |  UNION ALL SELECT 'edge:HAS_CUSTOMER', count(*) FROM customer
        |  UNION ALL SELECT 'edge:HAS_ORDER', count(*) FROM orders
        |  UNION ALL SELECT 'edge:HAS_META', count(*) FROM region)
        |ORDER BY entity""".stripMargin) { (s, d) =>
      import s.implicits._
      val MetaBase = 5000000000L
      val region = Tables.region(s, d)
      val metaNodes = region.select(
          (col("r_regionkey") + MetaBase).cast("long").as("id"),
          lit("Meta").as("label"),
          concat(lit("meta-"), col("r_name")).as("name"),
          lit("").as("content"), lit("").as("docnbr"),
          lit("meta").as("batch"),
          typedLit(Seq.empty[Int]).as("path")).as[NodeRow]
      val metaEdges = region.select(
          (col("r_regionkey") + RegionBase).cast("long").as("src"),
          (col("r_regionkey") + MetaBase).cast("long").as("dst"),
          lit("HAS_META").as("relType"), lit("").as("docnbr"),
          lit("meta").as("batch"),
          typedLit(Map.empty[String, String]).as("props")).as[EdgeRow]
      val appended = GraphOps.upsert(hierarchy(s, d),
        GraphTables(metaNodes, metaEdges))
      appended.nodes.groupBy("label")
        .agg(count(lit(1)).as("n"))
        .select(concat(lit("node:"), col("label")).as("entity"), col("n"))
        .unionByName(appended.edges.groupBy("relType")
          .agg(count(lit(1)).as("n"))
          .select(concat(lit("edge:"), col("relType")).as("entity"),
            col("n")))
        .orderBy("entity")
    },

    // Streaming graph ingest seam (the reference's C2 MERGE write path
    // under continuous arrival): the hierarchy graph arrives as an
    // envelope FILE STREAM in two interleaved slices, each drained by a
    // checkpointed AvailableNow pass through foreachBatch → upsert →
    // versioned store commit. Graded on the FINAL STATE: label/relType
    // census of the store-loaded graph must equal the batch-derived
    // answer — the stream-ingested graph IS the batch-ingested graph.
    QueryDef.sql(
      "graphp_stream_ingest",
      """SELECT entity, n FROM (
        |  SELECT 'node:Region' AS entity, CAST(count(*) AS BIGINT) AS n
        |    FROM region
        |  UNION ALL SELECT 'node:Nation', count(*) FROM nation
        |  UNION ALL SELECT 'node:Customer', count(*) FROM customer
        |  UNION ALL SELECT 'node:Order', count(*) FROM orders
        |  UNION ALL SELECT 'edge:HAS_NATION', count(*) FROM nation
        |  UNION ALL SELECT 'edge:HAS_CUSTOMER', count(*) FROM customer
        |  UNION ALL SELECT 'edge:HAS_ORDER', count(*) FROM orders)
        |ORDER BY entity""".stripMargin) { (s, d) =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft_stream_ingest_q").toString
      val env = StreamingGraphIngest.toEnvelope(hierarchy(s, d))
      val sliceKey = pmod(coalesce(col("id"), col("src") + col("dst")),
        lit(2))
      // ONE partitioned write emits both slices (the partition column
      // lives in the dir name, not the files, so the envelope schema is
      // unchanged), then maxFilesPerTrigger = ⌈files/2⌉ makes ONE
      // AvailableNow drain run EXACTLY TWO micro-batches (two
      // upsert→commit cycles — the incremental saveDelta path) without
      // paying a second streaming-query lifecycle; the multi-drain
      // checkpoint-resume contract is pinned by StreamingGraphIngestSpec.
      // coalesce, NOT repartition (r18, guide §2.4): bounding writer
      // tasks needs no exchange — the old round-robin repartition(4)
      // paid a full envelope shuffle + its sort-before-repartition, and
      // its 4-task write was the query's slowest job (~780 ms); the
      // coalesce keeps the envelope's natural write parallelism (capped
      // at 16) and the trigger size is computed from the files actually
      // written, so the two-batch split holds under ANY partition layout.
      env.withColumn("slice", sliceKey).coalesce(16)
        .write.partitionBy("slice").parquet(s"$dir/env")
      val nEnvFiles = StreamingGraphIngest.parquetFileCount(s, s"$dir/env")
      StreamingGraphIngest.drainIngest(s, s"$dir/env", s"$dir/store",
        s"$dir/ckpt", maxFilesPerTrigger = Some((nEnvFiles + 1) / 2))
      val g = GraphStore.load(s, s"$dir/store")
      g.nodes.groupBy("label").agg(count(lit(1)).as("n"))
        .select(concat(lit("node:"), col("label")).as("entity"), col("n"))
        .unionByName(g.edges.groupBy("relType")
          .agg(count(lit(1)).as("n"))
          .select(concat(lit("edge:"), col("relType")).as("entity"),
            col("n")))
        .orderBy("entity")
    },

    // Weighted shortest-path twin over a REAL edge property: costs live
    // in EdgeRow.props("weight") (dst key % 7 + 1), roots are each
    // region's lowest-keyed nation, paths run forward along the per-
    // region cycle — so the true distance is the closed-form prefix sum
    // the oracle computes with a window. Proves the props→try_cast→
    // Pregel relaxation path end to end, including cycle safety
    // (positive weights: the wrap-around can never undercut the prefix).
    QueryDef.sql(
      "graphp_weighted_sp",
      """WITH r AS (
        |  SELECT n_name, n_nationkey, n_regionkey,
        |    row_number() OVER (PARTITION BY n_regionkey
        |      ORDER BY n_nationkey) AS rn,
        |    CAST(n_nationkey % 7 + 1 AS DOUBLE) AS w
        |  FROM nation)
        |SELECT n_name AS name,
        |  CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE w END) OVER (
        |    PARTITION BY n_regionkey ORDER BY n_nationkey
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS distance
        |FROM r ORDER BY name""".stripMargin) { (s, d) =>
      val g = weightedChain(s, d)
      // ≤ |regions| root picks — bounded driver round-trip, same policy
      // as the landmark kernels
      val roots = Tables.nation(s, d)
        .groupBy("n_regionkey").agg(min("n_nationkey").as("lo"))
        .select((col("lo") + NationBase).cast("long")).as[Long](
          org.apache.spark.sql.Encoders.scalaLong)
        .collect().toSet
      GraphOps.shortestPathWeighted(s, g, roots)
        .join(nationNames(s, d), "id")
        .select(col("n_name").as("name"), col("distance"))
        .orderBy("name")
    },

    // C10 write → Q9 analytics composition (new r11): edge WEIGHTS are
    // written through the Cypher surface (edge-prop MERGE clauses with
    // $param values, batched by runScript into one edge upsert), then
    // READ BACK by the weighted Pregel kernel. A ROAD chain threads the
    // regions in name order, each edge costing (dst regionkey % 3 + 1);
    // the oracle is the closed-form prefix sum. Non-ROAD hierarchy edges
    // only point DOWN (region→nation→…), so they cannot shortcut the
    // region-to-region distances.
    QueryDef.sql(
      "graphp_cypher_weighted_road",
      """WITH r AS (
        |  SELECT r_name, CAST(r_regionkey % 3 + 1 AS DOUBLE) AS w,
        |    row_number() OVER (ORDER BY r_name) AS rn
        |  FROM region)
        |SELECT r_name AS name,
        |  CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE w END) OVER (
        |    ORDER BY r_name ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |    AS distance
        |FROM r ORDER BY name""".stripMargin) { (s, d) =>
      // |region| = 5 rows — the same bounded driver loop as the script
      // twin; statements are per-pair, data stays distributed
      val regions = Tables.region(s, d)
        .select("r_name", "r_regionkey").collect()
        .map(r => (r.getString(0), r.getAs[Number](1).intValue))
        .sortBy(_._1)
      val script = regions.sliding(2).collect {
        case Array((pName, _), (cName, cKey)) =>
          ("MATCH (a:Region {name: $p}), (b:Region {name: $c}) " +
            "MERGE (a)-[:ROAD {weight: $w}]->(b)",
            Map("p" -> pName, "c" -> cName,
              "w" -> (cKey % 3 + 1).toString))
      }.toSeq
      val (after, _) = CypherLite.runScript(hierarchy(s, d), script)
        .fold(err => throw new IllegalArgumentException(err), identity)
      val rootId = regions.head._2.toLong + RegionBase
      GraphOps.shortestPathWeighted(s, after, Set(rootId))
        .join(after.nodes.filter(col("label") === "Region")
          .select(col("id"), col("name")), "id")
        .select(col("name"), col("distance"))
        .orderBy("name")
    },

    // C10 write → read-surface composition (new r12): the same
    // Cypher-written ROAD chain as graphp_cypher_weighted_road, with a
    // numeric `weight` AND a categorical `grade` edge property — read
    // back through the NEW relationship-property WHERE on a single-hop
    // pattern (`WHERE r.weight >= 2`, numeric through the try_cast
    // lens). The oracle recomputes the surviving chain edges from the
    // same closed-form weights, so a props round-trip bug or a
    // comparison-lens bug hash-misses.
    QueryDef.sql(
      "graphp_cypher_relprop_where",
      """WITH r AS (
        |  SELECT r_name, r_regionkey,
        |    row_number() OVER (ORDER BY r_name) AS rn
        |  FROM region)
        |SELECT p.r_name AS a_name, c.r_name AS b_name
        |FROM r p JOIN r c ON c.rn = p.rn + 1
        |WHERE c.r_regionkey % 3 + 1 >= 2
        |ORDER BY a_name""".stripMargin) { (s, d) =>
      CypherLite.run(roadPropsGraph(s, d),
        "MATCH (a:Region)-[r:ROAD]->(b:Region) WHERE r.weight >= 2 " +
          "RETURN a.name AS a_name, b.name AS b_name ORDER BY a.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r13, directive 4): relationship predicates
    // on a VARIABLE-LENGTH pattern — `WHERE ALL(x IN relationships(p)
    // WHERE x.weight < 3)` over the Cypher-written weighted ROAD chain.
    // The quantifier compiles to an edge-relation pre-filter (the
    // expansion only walks passing edges), so every (a, b, len) row is a
    // path whose EVERY edge passes. Unanchored start: the AMERICA→ASIA
    // edge (weight 3) must sever the chain into two islands of
    // qualifying paths. The oracle replays the closed-form weights
    // through a recursive CTE with the same per-edge filter.
    QueryDef.sql(
      "graphp_cypher_path_all",
      """WITH RECURSIVE e AS (
        |  SELECT lag(r_name) OVER (ORDER BY r_name) AS src,
        |    r_name AS dst, r_regionkey % 3 + 1 AS w
        |  FROM region),
        |p AS (
        |  SELECT src AS a, dst AS b, 1 AS len
        |  FROM e WHERE src IS NOT NULL AND w < 3
        |  UNION ALL
        |  SELECT p.a, e.dst, p.len + 1
        |  FROM p JOIN e ON e.src = p.b
        |  WHERE p.len < 4 AND e.w < 3)
        |SELECT a AS a_name, b AS b_name, CAST(len AS INT) AS path_len
        |FROM p ORDER BY a_name, b_name, path_len""".stripMargin) {
      (s, d) =>
      CypherLite.run(roadPropsGraph(s, d),
        "MATCH p = (a:Region)-[r:ROAD*1..4]->(b:Region) " +
          "WHERE ALL(x IN relationships(p) WHERE x.weight < 3) " +
          "RETURN a.name, b.name, length(p) ORDER BY a_name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r13): the path-content accessors — `RETURN
    // nodes(p), relationships(p)` on a ranged MULTI-TYPE pattern over
    // the region→nation→customer hierarchy. Each row serializes its
    // path's node names and relationship types comma-joined IN PATH
    // ORDER (the list contract `collect()` uses, but ordered by path
    // position — which is the semantics). The alternation makes the rel
    // list informative: depth-1 paths read HAS_NATION, depth-2 paths
    // HAS_NATION,HAS_CUSTOMER. The oracle rebuilds every path string
    // from the base tables, so an order-of-append bug, a wrong-name
    // join, or a depth mixup all hash-miss.
    QueryDef.sql(
      "graphp_cypher_path_nodes",
      """WITH d1 AS (
        |  SELECT r.r_name || ',' || n.n_name AS path_nodes,
        |    'HAS_NATION' AS path_rels, 1 AS path_len
        |  FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        |  WHERE r.r_name = 'ASIA'),
        |d2 AS (
        |  SELECT r.r_name || ',' || n.n_name || ',' ||
        |      CAST(c.c_custkey AS VARCHAR) AS path_nodes,
        |    'HAS_NATION,HAS_CUSTOMER' AS path_rels, 2 AS path_len
        |  FROM region r
        |  JOIN nation n ON n.n_regionkey = r.r_regionkey
        |  JOIN customer c ON c.c_nationkey = n.n_nationkey
        |  WHERE r.r_name = 'ASIA')
        |SELECT path_nodes, path_rels, CAST(path_len AS INT) AS path_len
        |FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
        |ORDER BY path_nodes""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH p = (a:Region {name: 'ASIA'})" +
          "-[:HAS_NATION|HAS_CUSTOMER*1..2]->(b) " +
          "RETURN nodes(p), relationships(p), length(p) " +
          "ORDER BY nodes(p)")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r13): shortestPath PATH RECONSTRUCTION —
    // `RETURN nodes(p), relationships(p)` switches the executor from
    // the depth kernels to the bounded enumeration and answers the
    // actual path, not just its length ("show me the route", the
    // serving ask the length-only form can't answer). Over the ROAD
    // chain every pair has a unique path, so the oracle can rebuild
    // each (endpoint, length, node-trail, type-trail) row exactly via
    // a recursive CTE; the tie-break determinism contract (smallest
    // serialization among equal lengths) is pinned separately in
    // PathQuantSpec on a hand diamond.
    QueryDef.sql(
      "graphp_cypher_shortest_nodes",
      """WITH RECURSIVE e AS (
        |  SELECT lag(r_name) OVER (ORDER BY r_name) AS src,
        |    r_name AS dst
        |  FROM region),
        |p AS (
        |  SELECT src AS a, dst AS b, 1 AS len,
        |    src || ',' || dst AS pn, 'ROAD' AS pr
        |  FROM e WHERE src = 'AFRICA'
        |  UNION ALL
        |  SELECT p.a, e.dst, p.len + 1, p.pn || ',' || e.dst,
        |    p.pr || ',ROAD'
        |  FROM p JOIN e ON e.src = p.b WHERE p.len < 4)
        |SELECT b AS b_name, CAST(len AS INT) AS path_len,
        |  pn AS path_nodes, pr AS path_rels
        |FROM p ORDER BY b_name""".stripMargin) { (s, d) =>
      CypherLite.run(roadPropsGraph(s, d),
        "MATCH p = shortestPath((a:Region {name: 'AFRICA'})" +
          "-[:ROAD*1..4]->(b:Region)) " +
          "RETURN b.name, length(p), nodes(p), " +
          "relationships(p) ORDER BY b.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r13): DIRECTION on the path forms —
    // an INCOMING quantified ranged pattern with reconstruction
    // (`(b)<-[r:ROAD*1..3]-(a)`: the reversed edge relation, a
    // projection, no extra shuffle; nodes(p) serializes from the
    // pattern's left endpoint) over the ROAD chain anchored at EUROPE:
    // exactly the three upstream suffixes of the chain come back.
    QueryDef.sql(
      "graphp_cypher_path_incoming",
      """WITH RECURSIVE e AS (
        |  SELECT r_name AS src, lag(r_name) OVER (ORDER BY r_name)
        |    AS dst
        |  FROM region),
        |p AS (
        |  SELECT src AS x, dst AS y, 1 AS len, src || ',' || dst AS pn
        |  FROM e WHERE src = 'EUROPE' AND dst IS NOT NULL
        |  UNION ALL
        |  SELECT p.x, e.dst, p.len + 1, p.pn || ',' || e.dst
        |  FROM p JOIN e ON e.src = p.y
        |  WHERE p.len < 3 AND e.dst IS NOT NULL)
        |SELECT y AS a_name, pn AS path_nodes, CAST(len AS INT)
        |  AS path_len
        |FROM p ORDER BY path_nodes""".stripMargin) { (s, d) =>
      CypherLite.run(roadPropsGraph(s, d),
        "MATCH p = (b:Region {name: 'EUROPE'})<-[r:ROAD*1..3]-" +
          "(a:Region) RETURN a.name, nodes(p), length(p) " +
          "ORDER BY nodes(p)")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r13): UNDIRECTED shortestPath with
    // reconstruction — from the chain's END every other region is
    // reachable only backwards; the (endpoint, length, trail) rows are
    // the chain suffixes walked against the arrows.
    QueryDef.sql(
      "graphp_cypher_shortest_undirected",
      """WITH r AS (
        |  SELECT r_name, row_number() OVER (ORDER BY r_name) AS rn
        |  FROM region),
        |me AS (SELECT max(rn) AS mrn FROM r)
        |SELECT t.r_name AS b_name, CAST(me.mrn - t.rn AS INT)
        |    AS path_len,
        |  (SELECT string_agg(r2.r_name, ',' ORDER BY r2.rn DESC)
        |   FROM r r2 WHERE r2.rn BETWEEN t.rn AND me.mrn) AS path_nodes
        |FROM r t, me WHERE t.rn <> me.mrn
        |ORDER BY b_name""".stripMargin) { (s, d) =>
      CypherLite.run(roadPropsGraph(s, d),
        "MATCH p = shortestPath((a:Region {name: 'MIDDLE EAST'})" +
          "-[:ROAD*1..4]-(b:Region)) " +
          "RETURN b.name, length(p), nodes(p) ORDER BY b.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r13): the relationship property-map
    // inspection accessors — `RETURN keys(r), properties(r)` over the
    // Cypher-written ROAD chain (edges carry weight + grade). Both
    // serialize sorted-by-key (keys comma-joined, properties as
    // `{k: v, …}`), so the oracle rebuilds the exact strings from the
    // closed-form weights/grades: a sort-order drift, a dropped key, or
    // a map-entry separator change all hash-miss.
    QueryDef.sql(
      "graphp_cypher_rel_accessors",
      """WITH r AS (
        |  SELECT r_name, r_regionkey,
        |    row_number() OVER (ORDER BY r_name) AS rn
        |  FROM region)
        |SELECT c.r_name AS b_name,
        |  'grade,weight' AS r_keys,
        |  '{grade: ' ||
        |    (CASE WHEN c.r_regionkey % 2 = 0 THEN 'even' ELSE 'odd' END)
        |    || ', weight: ' ||
        |    CAST(c.r_regionkey % 3 + 1 AS VARCHAR) || '}' AS r_properties
        |FROM r p JOIN r c ON c.rn = p.rn + 1
        |ORDER BY b_name""".stripMargin) { (s, d) =>
      CypherLite.run(roadPropsGraph(s, d),
        "MATCH (a:Region)-[r:ROAD]->(b:Region) " +
          "RETURN b.name AS b_name, keys(r), properties(r) " +
          "ORDER BY b_name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r14, directive 3): the STORED-endpoint
    // projections — startNode(r).name / endNode(r).name on an
    // UNDIRECTED single-hop match around ASIA. The undirected binding
    // set contains both the incoming (AMERICA→ASIA) and outgoing
    // (ASIA→EUROPE) stored edges; the endpoint accessors must reveal
    // each edge's AS-WRITTEN orientation, not the traversal's. An
    // implementation that projected the pattern's own (m, x) sides
    // would answer (ASIA, AMERICA) for the incoming row and hash-miss.
    QueryDef.sql(
      "graphp_cypher_endpoints",
      """WITH r AS (
        |  SELECT r_name, row_number() OVER (ORDER BY r_name) AS rn
        |  FROM region),
        |asia AS (SELECT rn FROM r WHERE r_name = 'ASIA')
        |SELECT p.r_name AS src_name, c.r_name AS dst_name
        |FROM r p JOIN r c ON c.rn = p.rn + 1, asia
        |WHERE p.rn = asia.rn OR c.rn = asia.rn
        |ORDER BY src_name""".stripMargin) { (s, d) =>
      CypherLite.run(roadPropsGraph(s, d),
        "MATCH (m:Region {name: 'ASIA'})-[r:ROAD]-(x:Region) " +
          "RETURN startNode(r).name AS src_name, " +
          "endNode(r).name AS dst_name ORDER BY src_name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r15, directive 4): the WHOLE-node endpoint
    // projections — startNode(r) / endNode(r) serialized through the
    // properties(n) sorted-key machinery, on the same UNDIRECTED match
    // around ASIA as the dotted twin above. The undirected binding set
    // holds one incoming and one outgoing stored edge, so a traversal-
    // side serialization (the pattern's own (m, x) sides) would answer
    // {name: ASIA} for the incoming row's start and hash-miss. The
    // dotted dst_name rides the SAME endpoint join as dst_node — both
    // forms of one side cost a single hash join.
    QueryDef.sql(
      "graphp_cypher_endpoint_nodes",
      """WITH r AS (
        |  SELECT r_name, row_number() OVER (ORDER BY r_name) AS rn
        |  FROM region),
        |asia AS (SELECT rn FROM r WHERE r_name = 'ASIA')
        |SELECT '{name: ' || p.r_name || '}' AS src_node,
        |  '{name: ' || c.r_name || '}' AS dst_node,
        |  c.r_name AS dst_name
        |FROM r p JOIN r c ON c.rn = p.rn + 1, asia
        |WHERE p.rn = asia.rn OR c.rn = asia.rn
        |ORDER BY src_node""".stripMargin) { (s, d) =>
      CypherLite.run(roadPropsGraph(s, d),
        "MATCH (m:Region {name: 'ASIA'})-[r:ROAD]-(x:Region) " +
          "RETURN startNode(r) AS src_node, endNode(r) AS dst_node, " +
          "endNode(r).name AS dst_name ORDER BY src_node")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r14, directive 4): node-side keys(n) /
    // properties(n) — hop-less over the document tree, whose nation
    // nodes populate all three user properties (content = name,
    // docnbr = the region). Sorted-key serialization; the oracle
    // rebuilds the exact strings, so a dropped column, an absent-
    // filter bug, or a lineage column (batch/path) leaking into the
    // map all hash-miss.
    QueryDef.sql(
      "graphp_cypher_node_accessors",
      """SELECT n_name AS name,
        |  'content,docnbr,name' AS n_keys,
        |  '{content: ' || n_name || ', docnbr: ' || r_name ||
        |    ', name: ' || n_name || '}' AS n_props
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY name""".stripMargin) { (s, d) =>
      CypherLite.run(docTree(s, d),
        "MATCH (n:Nation) RETURN n.name AS name, keys(n) AS n_keys, " +
          "properties(n) AS n_props ORDER BY name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r14): the connected-side accessor —
    // keys(c)/properties(c) under a hop pattern (one extra node join
    // on c_id; the expansion's node image lacks docnbr, so a shortcut
    // through c_name/c_content alone would miss the docnbr key and
    // hash-miss on every row).
    QueryDef.sql(
      "graphp_cypher_conn_accessors",
      """SELECT n_name AS name, 'content,docnbr,name' AS c_keys,
        |  '{content: ' || n_name || ', docnbr: ' || r_name ||
        |    ', name: ' || n_name || '}' AS c_props
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |ORDER BY name""".stripMargin) { (s, d) =>
      CypherLite.run(docTree(s, d),
        "MATCH (r0:Region {name: 'ASIA'})-[:HAS_NATION]->(c) " +
          "RETURN c.name AS name, keys(c) AS c_keys, " +
          "properties(c) AS c_props ORDER BY name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r14): the ROOT-side accessor under a hop
    // pattern — keys(m) rides the root select (not the bindings), so
    // the same serialized map repeats per binding; the region's nodes
    // carry docnbr + name but no content, exercising the absent-filter
    // on a different column subset than the nation twins.
    QueryDef.sql(
      "graphp_cypher_root_accessors",
      """SELECT 'docnbr,name' AS m_keys, n_name AS name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |ORDER BY name""".stripMargin) { (s, d) =>
      CypherLite.run(docTree(s, d),
        "MATCH (r0:Region {name: 'ASIA'})-[:HAS_NATION]->(c) " +
          "RETURN keys(r0) AS m_keys, c.name AS name ORDER BY name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r14): scalar string functions over the
    // CONNECTED variable — `toLower(c.name)` + `left(c.content, 3)` on
    // a hop pattern, transformed BEFORE DISTINCT/ORDER BY (the ORDER BY
    // keys the transformed alias, deciding row order where raw names
    // would tie differently under case).
    QueryDef.sql(
      "graphp_cypher_conn_scalar",
      """SELECT lower(n_name) AS lname, left(n_name, 3) AS pfx
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |ORDER BY lname""".stripMargin) { (s, d) =>
      CypherLite.run(docTree(s, d),
        "MATCH (r0:Region {name: 'ASIA'})-[:HAS_NATION]->(c) " +
          "RETURN toLower(c.name) AS lname, left(c.content, 3) AS pfx " +
          "ORDER BY lname")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r14): searched CASE under a hop pattern —
    // the categorization staple composed with an expansion ("each
    // region, its tier, and its nations"): the CASE rides the root
    // select, so the tier repeats per binding and DISTINCT/ORDER BY
    // see the categorized value.
    QueryDef.sql(
      "graphp_cypher_case_hop",
      """SELECT CASE WHEN r_name = 'ASIA' THEN 'home' ELSE 'away' END
        |    AS tier,
        |  n_name AS name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (r0:Region)-[:HAS_NATION]->(c) " +
          "RETURN CASE WHEN r0.name = 'ASIA' THEN 'home' " +
          "ELSE 'away' END AS tier, c.name AS name ORDER BY name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r14): the size() WHERE lens — a numeric
    // string-length predicate on the node scan ("long names"), the
    // filter staple of document-quality prompts. Two-digit nation
    // names are exactly the ones longer than 8 characters.
    QueryDef.sql(
      "graphp_cypher_where_size",
      """SELECT n_name AS m_name FROM nation
        |WHERE length(n_name) > 8
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (n:Nation) WHERE size(n.name) > 8 " +
          "RETURN n.name ORDER BY n.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 write surface (new r13): the direct relationship-property
    // update — `MATCH (a)-[r:ROAD]->(b) WHERE r.grade = 'even' SET
    // r.toll = '1'` over the Cypher-written chain, read back through
    // the rel-prop projection: even edges carry the new key, odd edges
    // project null for it (never touched), every stored key survives.
    QueryDef.sql(
      "graphp_cypher_set_rel",
      """WITH r AS (
        |  SELECT r_name, r_regionkey,
        |    row_number() OVER (ORDER BY r_name) AS rn
        |  FROM region)
        |SELECT c.r_name AS b_name,
        |  CASE WHEN c.r_regionkey % 2 = 0 THEN 'even' ELSE 'odd' END
        |    AS r_grade,
        |  CASE WHEN c.r_regionkey % 2 = 0 THEN '1' END AS r_toll
        |FROM r p JOIN r c ON c.rn = p.rn + 1
        |ORDER BY b_name""".stripMargin) { (s, d) =>
      val mutated = CypherLite.runWrite(roadPropsGraph(s, d),
        "MATCH (a:Region)-[r:ROAD]->(b:Region) WHERE r.grade = 'even' " +
          "SET r.toll = '1'", Map.empty)
        .fold(err => throw new IllegalArgumentException(err), _._1)
      CypherLite.run(mutated,
        "MATCH (a:Region)-[r:ROAD]->(b:Region) " +
          "RETURN b.name AS b_name, r.grade, r.toll ORDER BY b_name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r13): the mixed-direction CO-OCCURRENCE
    // chain — `(a)-[:CLIQUE]->(x)<-[:CLIQUE]-(b)` over the directed
    // clique bank, with Cypher's relationship isomorphism across
    // segments (one stored edge binds at most one segment: the a = b
    // bounce through a single edge is NO binding). Per region the rank-3
    // member is the only x with two distinct in-edges, so its count is
    // exactly the ordered pairs of its two in-neighbors; rank-2 (one
    // in-edge) contributes nothing — an isomorphism regression would
    // add it with count 1 and hash-miss.
    QueryDef.sql(
      "graphp_cypher_chain_cooccur",
      """WITH t AS (
        |  SELECT n_name, n_regionkey,
        |    row_number() OVER (PARTITION BY n_regionkey
        |      ORDER BY n_nationkey) AS rn
        |  FROM nation),
        |t3 AS (SELECT * FROM t WHERE rn <= 3),
        |e AS (
        |  SELECT a.n_name AS src, b.n_name AS dst
        |  FROM t3 a JOIN t3 b
        |    ON a.n_regionkey = b.n_regionkey AND a.rn < b.rn)
        |SELECT e1.dst AS x_name, CAST(count(*) AS BIGINT) AS n_a
        |FROM e e1 JOIN e e2 ON e1.dst = e2.dst
        |WHERE e1.src <> e2.src
        |GROUP BY e1.dst ORDER BY x_name""".stripMargin) { (s, d) =>
      CypherLite.run(linkPred(s, d),
        "MATCH (a:Nation)-[:CLIQUE]->(x:Nation)<-[:CLIQUE]-(b:Nation) " +
          "RETURN x.name, count(a) ORDER BY x.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r13): per-segment RELATIONSHIP filters on
    // chain patterns — a numeric `r1.weight >= 2` WHERE conjunct on the
    // first segment plus an inline `{grade: 'even'}` map on the second,
    // both compiled onto their segment's edge scan (filter-only; the
    // id-pair expansion never carries edge payloads). The oracle
    // replays the closed-form weights/grades through the same two-join
    // chain, so a filter landing on the wrong segment hash-misses.
    QueryDef.sql(
      "graphp_cypher_chain_relfilter",
      """WITH r AS (
        |  SELECT r_name, r_regionkey,
        |    row_number() OVER (ORDER BY r_name) AS rn
        |  FROM region)
        |SELECT a.r_name AS a_name, c.r_name AS c_name
        |FROM r a JOIN r b ON b.rn = a.rn + 1
        |  JOIN r c ON c.rn = b.rn + 1
        |WHERE (b.r_regionkey % 3 + 1) >= 2 AND c.r_regionkey % 2 = 0
        |ORDER BY a_name""".stripMargin) { (s, d) =>
      CypherLite.run(roadPropsGraph(s, d),
        "MATCH (a:Region)-[r1:ROAD]->(b:Region)" +
          "-[:ROAD {grade: 'even'}]->(c:Region) " +
          "WHERE r1.weight >= 2 RETURN a.name, c.name ORDER BY a.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r13): coalesce(r.prop, 'default') — the
    // missing-key default on the edge-property map, composed with a
    // write: even edges carry the written toll, odd edges never got
    // the key and must answer the default (a null-leak through the
    // projection would hash-miss on every odd row).
    QueryDef.sql(
      "graphp_cypher_rel_coalesce",
      """WITH r AS (
        |  SELECT r_name, r_regionkey,
        |    row_number() OVER (ORDER BY r_name) AS rn
        |  FROM region)
        |SELECT c.r_name AS b_name,
        |  CASE WHEN c.r_regionkey % 2 = 0 THEN '1' ELSE '0' END
        |    AS r_toll
        |FROM r p JOIN r c ON c.rn = p.rn + 1
        |ORDER BY b_name""".stripMargin) { (s, d) =>
      val mutated = CypherLite.runWrite(roadPropsGraph(s, d),
        "MATCH (a:Region)-[r:ROAD]->(b:Region) WHERE r.grade = 'even' " +
          "SET r.toll = '1'", Map.empty)
        .fold(err => throw new IllegalArgumentException(err), _._1)
      CypherLite.run(mutated,
        "MATCH (a:Region)-[r:ROAD]->(b:Region) " +
          "RETURN b.name AS b_name, coalesce(r.toll, '0') " +
          "ORDER BY b_name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 write surface (new r13): the MAP-form relationship updates —
    // `SET r += {…}` (merge: written keys overwrite, others keep) and
    // `SET r = {…}` (replace: the whole props map is overwritten,
    // unnamed stored keys DROP). Both run over the Cypher-written chain
    // and read back through properties(r), whose sorted-by-key
    // serialization makes every surviving/overwritten/dropped key
    // visible to the hash: odd edges merge {grade: ODD, toll: 3} onto
    // their stored weight, even edges are replaced wholesale.
    QueryDef.sql(
      "graphp_cypher_set_rel_map",
      """WITH r AS (
        |  SELECT r_name, r_regionkey,
        |    row_number() OVER (ORDER BY r_name) AS rn
        |  FROM region)
        |SELECT c.r_name AS b_name,
        |  CASE WHEN c.r_regionkey % 2 = 0 THEN '{cleared: 1}'
        |    ELSE '{grade: ODD, toll: 3, weight: ' ||
        |      CAST(c.r_regionkey % 3 + 1 AS VARCHAR) || '}' END
        |    AS r_properties
        |FROM r p JOIN r c ON c.rn = p.rn + 1
        |ORDER BY b_name""".stripMargin) { (s, d) =>
      val g0 = roadPropsGraph(s, d)
      val g1 = CypherLite.runWrite(g0,
        "MATCH (a:Region)-[r:ROAD]->(b:Region) WHERE r.grade = 'odd' " +
          "SET r += {toll: $t, grade: 'ODD'}", Map("t" -> "3"))
        .fold(err => throw new IllegalArgumentException(err), _._1)
      val g2 = CypherLite.runWrite(g1,
        "MATCH (a:Region)-[r:ROAD]->(b:Region) WHERE r.grade = 'even' " +
          "SET r = {cleared: '1'}", Map.empty)
        .fold(err => throw new IllegalArgumentException(err), _._1)
      CypherLite.run(g2,
        "MATCH (a:Region)-[r:ROAD]->(b:Region) " +
          "RETURN b.name AS b_name, properties(r) ORDER BY b_name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 write surface (new r13): relationship-property REMOVE —
    // `MATCH (a)-[r:ROAD]->(b) WHERE r.grade = 'even' REMOVE r.weight`
    // drops the key from exactly the matched edges (odd edges keep
    // their weights; Cypher's absent-key no-op rule holds by
    // construction of map_filter).
    QueryDef.sql(
      "graphp_cypher_remove_rel",
      """WITH r AS (
        |  SELECT r_name, r_regionkey,
        |    row_number() OVER (ORDER BY r_name) AS rn
        |  FROM region)
        |SELECT c.r_name AS b_name,
        |  CASE WHEN c.r_regionkey % 2 = 0 THEN NULL
        |    ELSE CAST(c.r_regionkey % 3 + 1 AS VARCHAR) END AS r_weight
        |FROM r p JOIN r c ON c.rn = p.rn + 1
        |ORDER BY b_name""".stripMargin) { (s, d) =>
      val mutated = CypherLite.runWrite(roadPropsGraph(s, d),
        "MATCH (a:Region)-[r:ROAD]->(b:Region) WHERE r.grade = 'even' " +
          "REMOVE r.weight", Map.empty)
        .fold(err => throw new IllegalArgumentException(err), _._1)
      CypherLite.run(mutated,
        "MATCH (a:Region)-[r:ROAD]->(b:Region) " +
          "RETURN b.name AS b_name, r.weight ORDER BY b_name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 write surface (new r13): relationship DELETE — `MATCH
    // (a)-[r:ROAD]->(b) WHERE r.grade = 'odd' DELETE r` severs the odd
    // chain links (nodes stay); the surviving edge list read back must
    // be exactly the even links.
    QueryDef.sql(
      "graphp_cypher_delete_rel",
      """WITH r AS (
        |  SELECT r_name, r_regionkey,
        |    row_number() OVER (ORDER BY r_name) AS rn
        |  FROM region)
        |SELECT p.r_name AS a_name, c.r_name AS b_name
        |FROM r p JOIN r c ON c.rn = p.rn + 1
        |WHERE c.r_regionkey % 2 = 0
        |ORDER BY a_name""".stripMargin) { (s, d) =>
      val mutated = CypherLite.runWrite(roadPropsGraph(s, d),
        "MATCH (a:Region)-[r:ROAD]->(b:Region) WHERE r.grade = 'odd' " +
          "DELETE r", Map.empty)
        .fold(err => throw new IllegalArgumentException(err), _._1)
      CypherLite.run(mutated,
        "MATCH (a:Region)-[r:ROAD]->(b:Region) " +
          "RETURN a.name AS a_name, b.name AS b_name ORDER BY a_name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r13): the quantifier composed with
    // shortestPath — `shortestPath((a)-[:ROAD*]->(b)) WHERE ALL(x IN
    // relationships(p) WHERE x.weight < 3)` is the shortest path IN THE
    // SUBGRAPH of passing edges (the same scan-side pre-filter as the
    // ranged-pattern ALL, composed with the unbounded BFS fixpoint).
    // The w=3 AMERICA→ASIA edge severs the chain: AFRICA reaches only
    // AMERICA; ASIA reaches EUROPE and MIDDLE EAST. The oracle replays
    // the filtered chain through a recursive CTE.
    QueryDef.sql(
      "graphp_cypher_shortest_quant",
      """WITH RECURSIVE e AS (
        |  SELECT lag(r_name) OVER (ORDER BY r_name) AS src,
        |    r_name AS dst, r_regionkey % 3 + 1 AS w
        |  FROM region),
        |f AS (SELECT src, dst FROM e WHERE src IS NOT NULL AND w < 3),
        |p AS (
        |  SELECT src AS a, dst AS b, 1 AS len FROM f
        |  UNION ALL
        |  SELECT p.a, f.dst, p.len + 1 FROM p JOIN f ON f.src = p.b)
        |SELECT a AS a_name, b AS b_name, CAST(len AS INT) AS path_len
        |FROM p ORDER BY a_name, b_name""".stripMargin) { (s, d) =>
      CypherLite.run(roadPropsGraph(s, d),
        "MATCH p = shortestPath((a:Region)-[:ROAD*]->(b:Region)) " +
          "WHERE ALL(x IN relationships(p) WHERE x.weight < 3) " +
          "RETURN a.name, b.name, length(p) ORDER BY a.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r13): the ANY quantifier — unlike ALL (an
    // edge pre-filter), ANY/NONE/SINGLE walk every type-matched edge
    // carrying true/null counter columns and test them at output.
    // ANY(grade = 'even') from AFRICA: the first edge is odd, so the
    // len-1 path must drop while len 2..4 survive (they contain the
    // even ASIA edge). The oracle accumulates the same closed-form hit
    // counter through a recursive CTE.
    QueryDef.sql(
      "graphp_cypher_path_any",
      """WITH RECURSIVE e AS (
        |  SELECT lag(r_name) OVER (ORDER BY r_name) AS src,
        |    r_name AS dst,
        |    CASE WHEN r_regionkey % 2 = 0 THEN 1 ELSE 0 END AS hit
        |  FROM region),
        |p AS (
        |  SELECT src AS a, dst AS b, 1 AS len, hit AS hits
        |  FROM e WHERE src IS NOT NULL
        |  UNION ALL
        |  SELECT p.a, e.dst, p.len + 1, p.hits + e.hit
        |  FROM p JOIN e ON e.src = p.b
        |  WHERE p.len < 4)
        |SELECT b AS b_name, CAST(len AS INT) AS path_len
        |FROM p WHERE a = 'AFRICA' AND hits >= 1
        |ORDER BY path_len""".stripMargin) { (s, d) =>
      CypherLite.run(roadPropsGraph(s, d),
        "MATCH p = (a:Region {name: 'AFRICA'})-[:ROAD*1..4]->(b:Region) " +
          "WHERE ANY(x IN relationships(p) WHERE x.grade = 'even') " +
          "RETURN b.name, length(p) ORDER BY path_len")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r13, directive 4): the along-the-path
    // reduce() sum — `reduce(s = 0, x IN relationships(p) | s +
    // x.weight)` from the anchored AFRICA root, one row per path with
    // its cumulative weight (bag semantics). The oracle accumulates the
    // same closed-form weights through a recursive CTE, so a
    // per-step accumulation bug (or a string-to-double lens bug)
    // hash-misses.
    QueryDef.sql(
      "graphp_cypher_path_reduce",
      """WITH RECURSIVE e AS (
        |  SELECT lag(r_name) OVER (ORDER BY r_name) AS src,
        |    r_name AS dst, CAST(r_regionkey % 3 + 1 AS DOUBLE) AS w
        |  FROM region),
        |p AS (
        |  SELECT src AS a, dst AS b, 1 AS len, w AS total
        |  FROM e WHERE src IS NOT NULL
        |  UNION ALL
        |  SELECT p.a, e.dst, p.len + 1, p.total + e.w
        |  FROM p JOIN e ON e.src = p.b
        |  WHERE p.len < 4)
        |SELECT b AS b_name, CAST(len AS INT) AS path_len, total
        |FROM p WHERE a = 'AFRICA' ORDER BY total""".stripMargin) {
      (s, d) =>
      CypherLite.run(roadPropsGraph(s, d),
        "MATCH p = (a:Region {name: 'AFRICA'})-[:ROAD*1..4]->(b:Region) " +
          "RETURN b.name, length(p), reduce(s = 0, x IN " +
          "relationships(p) | s + x.weight) AS total ORDER BY total")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r12): RETURN r.prop — the edge property
    // PROJECTED per binding (and grouped: the r.grade census), closing
    // the loop on the rel-prop surface: written by the Cypher MERGE,
    // filtered by WHERE r.prop, now read back as output columns.
    QueryDef.sql(
      "graphp_cypher_relprop_proj",
      """WITH r AS (
        |  SELECT r_name, r_regionkey,
        |    row_number() OVER (ORDER BY r_name) AS rn
        |  FROM region),
        |e AS (
        |  SELECT c.r_name AS b_name,
        |    CASE WHEN c.r_regionkey % 2 = 0 THEN 'even' ELSE 'odd' END
        |      AS grade,
        |    CAST(c.r_regionkey % 3 + 1 AS VARCHAR) AS w
        |  FROM r p JOIN r c ON c.rn = p.rn + 1)
        |SELECT grade, CAST(count(*) AS BIGINT) AS n_roads FROM e
        |GROUP BY grade
        |UNION ALL
        |SELECT b_name || '#' || w, CAST(1 AS BIGINT) FROM e
        |ORDER BY grade""".stripMargin) { (s, d) =>
      val g = roadPropsGraph(s, d)
      // grouped: the grade census (r.prop as a grouping key under an
      // aggregate); per-binding: each chain edge's (target, weight)
      val census = CypherLite.run(g,
        "MATCH (a:Region)-[r:ROAD]->(b:Region) " +
          "RETURN r.grade AS grade, count(r) AS n_roads")
        .fold(err => throw new IllegalArgumentException(err), identity)
      val perEdge = CypherLite.run(g,
        "MATCH (a:Region)-[r:ROAD]->(b:Region) " +
          "RETURN b.name, r.weight ORDER BY b.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
        .select(concat(col("c_name"), lit("#"), col("r_weight"))
          .as("grade"), lit(1L).as("n_roads"))
      census.unionByName(perEdge).orderBy("grade")
    },

    // C10 read surface (new r12): sum(r.prop) — the edge-property
    // aggregate grouped by another edge property ("total weight per
    // grade", the weighted schema census) over the same Cypher-written
    // chain; numeric lens through try_cast, exactly like c-side sums.
    QueryDef.sql(
      "graphp_cypher_relprop_agg",
      """WITH r AS (
        |  SELECT r_name, r_regionkey,
        |    row_number() OVER (ORDER BY r_name) AS rn
        |  FROM region)
        |SELECT CASE WHEN c.r_regionkey % 2 = 0 THEN 'even' ELSE 'odd' END
        |    AS grade,
        |  CAST(sum(c.r_regionkey % 3 + 1) AS DOUBLE) AS total
        |FROM r p JOIN r c ON c.rn = p.rn + 1
        |GROUP BY 1 ORDER BY grade""".stripMargin) { (s, d) =>
      CypherLite.run(roadPropsGraph(s, d),
        "MATCH (a:Region)-[r:ROAD]->(b:Region) " +
          "RETURN r.grade AS grade, sum(r.weight) AS total ORDER BY grade")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r12): the edge-property aggregate through
    // the WITH pipeline — `WITH a.name, sum(r.weight) AS total WHERE
    // total >= 2` (per-root weighted degree, HAVING-filtered), the
    // "roots whose outgoing weight clears a budget" idiom.
    QueryDef.sql(
      "graphp_cypher_relprop_having",
      """WITH r AS (
        |  SELECT r_name, r_regionkey,
        |    row_number() OVER (ORDER BY r_name) AS rn
        |  FROM region)
        |SELECT p.r_name AS m_name,
        |  CAST(c.r_regionkey % 3 + 1 AS DOUBLE) AS total
        |FROM r p JOIN r c ON c.rn = p.rn + 1
        |WHERE c.r_regionkey % 3 + 1 >= 2
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(roadPropsGraph(s, d),
        "MATCH (a:Region)-[r:ROAD]->(b:Region) " +
          "WITH a.name, sum(r.weight) AS total WHERE total >= 2 " +
          "RETURN a.name, total ORDER BY a.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 write → read-surface composition (new r12): the inline
    // relationship property map (`-[r:ROAD {grade: 'even'}]->`) — the
    // pattern-level spelling of the same per-edge predicate, desugared
    // into the binding filter. Same written chain, categorical key.
    QueryDef.sql(
      "graphp_cypher_relprop_map",
      """WITH r AS (
        |  SELECT r_name, r_regionkey,
        |    row_number() OVER (ORDER BY r_name) AS rn
        |  FROM region)
        |SELECT c.r_name AS b_name
        |FROM r p JOIN r c ON c.rn = p.rn + 1
        |WHERE c.r_regionkey % 2 = 0
        |ORDER BY b_name""".stripMargin) { (s, d) =>
      CypherLite.run(roadPropsGraph(s, d),
        "MATCH (a:Region)-[r:ROAD {grade: 'even'}]->(b:Region) " +
          "RETURN b.name AS b_name ORDER BY b.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // Q9 sampling: deterministic random-walk corpus (DeepWalk) from every
    // region root — 5 walks × ≤3 steps down the containment tree, each
    // step choosing out-neighbor H(root|walk|pos|cur) mod outdeg. The
    // oracle replays the identical hash-indexed choice over the
    // base-arithmetic edge relation with a rank window, so every sampled
    // node id must match exactly — grading both the walk mechanics and
    // the cross-engine determinism of the content-addressed sampler.
    QueryDef.sql(
      "graphp_random_walks",
      s"""$duckWalksSql
         |SELECT root_name, walk, step, node FROM wk
         |ORDER BY root_name, walk, step""".stripMargin) { (s, d) =>
      walkNames(s, d)
        .select(col("root_name"), col("walk"), col("step"), col("node"))
        .orderBy("root_name", "walk", "step")
    },

    // The consumer stage of the walk corpus: skip-gram (center, context)
    // pair extraction — the training pairs DeepWalk feeds to word2vec.
    // Every ordered same-walk pair within 2 positions, counted; the
    // oracle self-joins the identical replayed corpus, so pair
    // multiplicities must match exactly.
    QueryDef.sql(
      "graphp_walk_skipgrams",
      s"""$duckWalksSql
         |SELECT a.node AS center, b.node AS context,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM wk a JOIN wk b
         |  ON a.root_name = b.root_name AND a.walk = b.walk
         |  AND abs(a.step - b.step) BETWEEN 1 AND 2
         |GROUP BY 1, 2 ORDER BY center, context""".stripMargin) { (s, d) =>
      // corpus materialized once (r18, guide §6): the skip-gram self-join
      // otherwise replays the whole 3-step walk-generation join chain on
      // BOTH sides — same policy as graphp_walk_negatives below
      GraphOps.skipGramPairs(walkNames(s, d).localCheckpoint(), window = 2)
        .orderBy("center", "context")
    },

    // Stage 3 of the embedding training-set pipeline: 2 deterministic
    // negatives per skip-gram pair, drawn from the corpus's unigram
    // occurrence distribution by hashing into the occurrence index.
    // The oracle replays corpus, pairs, and draws identically — every
    // sampled negative id must match, making the whole
    // walks→pairs→negatives chain oracle-exact end to end.
    QueryDef.sql(
      "graphp_walk_negatives",
      s"""$duckWalksSql,
         |pairs AS (
         |  SELECT DISTINCT a.node AS center, b.node AS context
         |  FROM wk a JOIN wk b
         |    ON a.root = b.root AND a.walk = b.walk
         |    AND abs(a.step - b.step) BETWEEN 1 AND 2),
         |corpus AS (SELECT node,
         |    row_number() OVER (ORDER BY root, walk, step) - 1 AS pos
         |  FROM wk),
         |tot AS (SELECT count(*) AS n_occ FROM corpus),
         |drawn AS (
         |  SELECT p.center, p.context, j, ${graft.text.PortableHash.duck(
          "concat(CAST(p.center AS VARCHAR), '|'," +
            " CAST(p.context AS VARCHAR), '|', CAST(j AS VARCHAR))")}
         |    % tot.n_occ AS pos
         |  FROM pairs p CROSS JOIN tot,
         |    (SELECT unnest(generate_series(0, 1)) AS j))
         |SELECT d.center, d.context, d.j, c.node AS negative
         |FROM drawn d JOIN corpus c USING (pos)
         |ORDER BY center, context, j""".stripMargin) { (s, d) =>
      val walks = walkNames(s, d).localCheckpoint() // corpus + pair consumer
      GraphOps.negativeSamples(walks,
          GraphOps.skipGramPairs(walks, window = 2), k = 2)
        .orderBy("center", "context", "j")
    },

    // Second-order biased walks (node2vec): 4 walks × 3 steps from each
    // region's lowest-keyed nation over a BIDIRECTIONAL top-3 clique —
    // the fixture where the bias genuinely acts: every post-first step
    // chooses between returning to prev (weight 1) and the triangle-
    // closing common neighbor (weight 4). The oracle replays the
    // cumulative-interval pick exactly; at these weights ~1/5 of steps
    // backtrack, and the sampled rate is part of the graded rows.
    QueryDef.sql(
      "graphp_node2vec_walks",
      s"""WITH t3 AS (SELECT rk, id, rn FROM (
         |    SELECT n_regionkey AS rk,
         |      CAST(2000000000 + n_nationkey AS BIGINT) AS id,
         |      row_number() OVER (PARTITION BY n_regionkey
         |        ORDER BY n_nationkey) AS rn
         |    FROM nation) WHERE rn <= 3),
         |ed AS (SELECT a.id AS src, b.id AS dst FROM t3 a JOIN t3 b
         |  ON a.rk = b.rk AND a.id <> b.id),
         |dg AS (SELECT src, count(*) AS deg FROM ed GROUP BY src),
         |rkd AS (SELECT src, dst,
         |    row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rnk
         |  FROM ed),
         |r0 AS (SELECT id AS root, CAST(w AS BIGINT) AS walk FROM t3,
         |  (SELECT unnest(generate_series(0, 3)) AS w) WHERE rn = 1),
         |s1 AS (SELECT r0.root, r0.walk, r0.root AS prev, rkd.dst AS cur
         |  FROM r0 JOIN dg ON dg.src = r0.root
         |  JOIN rkd ON rkd.src = r0.root
         |  AND rkd.rnk = ${duckWalkPick("r0.root", "r0.walk", 0,
          "r0.root")} % dg.deg),
         |s2 AS ${duckBiasedStep("s1", 1)},
         |s3 AS ${duckBiasedStep("s2", 2)}
         |SELECT root, walk, step, node FROM (
         |  SELECT root, walk, 0 AS step, root AS node FROM r0
         |  UNION ALL SELECT root, walk, 1, cur FROM s1
         |  UNION ALL SELECT root, walk, 2, cur FROM s2
         |  UNION ALL SELECT root, walk, 3, cur FROM s3)
         |ORDER BY root, walk, step""".stripMargin) { (s, d) =>
      import s.implicits._
      val nation = Tables.nation(s, d)
      val w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
      val t3 = nation.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("n_regionkey").as("rk"),
          (col("n_nationkey") + NationBase).cast("long").as("id"),
          col("rn"))
        .localCheckpoint() // three consumers: 2 edge sides + the roots
      val a = t3.select(col("rk"), col("id").as("src"))
      val b = t3.select(col("rk"), col("id").as("dst"))
      val edges = a.join(b, Seq("rk")).filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"), lit("CLIQUE").as("relType"),
          lit("").as("docnbr"), lit("base").as("batch"),
          typedLit(Map.empty[String, String]).as("props")).as[EdgeRow]
      val g = GraphTables(s.emptyDataset[NodeRow], edges)
      val roots = t3.filter(col("rn") === 1).select(col("id").as("root_id"))
      GraphOps.biasedWalks(s, g, roots, walksPerRoot = 4, maxLen = 3,
          wReturn = 1, wCommon = 4, wFar = 2)
        .select(col("root_id").as("root"), col("walk"), col("step"),
          col("node"))
        .orderBy("root", "walk", "step")
    },

    // Edge-property-weighted walks: the hierarchy's HAS_NATION edges
    // carry a props weight (nationkey % 3 + 1) while HAS_CUSTOMER edges
    // carry none — so step 1 grades the weighted cumulative-interval
    // pick and step 2 grades the default-weight path degenerating to the
    // uniform interval. Same data-carried-weight surface the Cypher
    // write path sets (graphp_cypher_weighted_road writes, this samples).
    QueryDef.sql(
      "graphp_weighted_walks",
      s"""WITH ed AS (
         |  SELECT CAST(1000000000 + n_regionkey AS BIGINT) AS src,
         |         CAST(2000000000 + n_nationkey AS BIGINT) AS dst,
         |         CAST(n_nationkey % 3 + 1 AS BIGINT) AS wt FROM nation
         |  UNION ALL
         |  SELECT CAST(2000000000 + c_nationkey AS BIGINT),
         |         CAST(3000000000 + c_custkey AS BIGINT), CAST(1 AS BIGINT)
         |  FROM customer),
         |r0 AS (SELECT CAST(1000000000 + r_regionkey AS BIGINT) AS root,
         |              CAST(w AS BIGINT) AS walk,
         |              CAST(1000000000 + r_regionkey AS BIGINT) AS cur
         |       FROM region, (SELECT unnest(generate_series(0, 3)) AS w)),
         |s1 AS ${duckWeightedStep("r0", 0)},
         |s2 AS ${duckWeightedStep("s1", 1)}
         |SELECT root, walk, step, node FROM (
         |  SELECT root, walk, 0 AS step, cur AS node FROM r0
         |  UNION ALL SELECT root, walk, 1, cur FROM s1
         |  UNION ALL SELECT root, walk, 2, cur FROM s2)
         |ORDER BY root, walk, step""".stripMargin) { (s, d) =>
      import s.implicits._
      val g = hierarchy(s, d)
      val weighted = g.edges.toDF()
        .withColumn("props",
          when(col("relType") === "HAS_NATION",
            map(lit("weight"),
              (pmod(col("dst") - lit(NationBase), lit(3L)) + 1L)
                .cast("string")))
            .otherwise(typedLit(Map.empty[String, String])))
        .as[EdgeRow]
      val roots = g.nodes.filter(col("label") === "Region")
        .select(col("id").as("root_id"))
      GraphOps.weightedWalks(s, GraphTables(g.nodes, weighted), roots,
          walksPerRoot = 4, maxLen = 2)
        .select(col("root_id").as("root"), col("walk"), col("step"),
          col("node"))
        .orderBy("root", "walk", "step")
    },

    // GNN minibatch sampling (GraphSAGE): the 2-layer sampled computation
    // graph from the region seeds — ≤3 nations per region, then ≤2
    // customers per sampled nation, each layer a hash-ranked top-k per
    // source. The oracle replays the identical ranking, so the sampled
    // edge set must match exactly at every layer.
    QueryDef.sql(
      "graphp_sage_sample",
      s"""WITH ed AS (
         |    SELECT CAST(1000000000 + n_regionkey AS BIGINT) AS src,
         |           CAST(2000000000 + n_nationkey AS BIGINT) AS dst
         |    FROM nation
         |    UNION ALL
         |    SELECT CAST(2000000000 + c_nationkey AS BIGINT),
         |           CAST(3000000000 + c_custkey AS BIGINT) FROM customer
         |    UNION ALL
         |    SELECT CAST(3000000000 + o_custkey AS BIGINT),
         |           CAST(4000000000 + o_orderkey AS BIGINT) FROM orders),
         |l1 AS (SELECT 1 AS layer, src, dst FROM (
         |  SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY
         |      ${graft.text.PortableHash.duck("concat('1|', " +
          "CAST(src AS VARCHAR), '|', CAST(dst AS VARCHAR))")}, dst) AS rn
         |  FROM ed WHERE src IN (
         |    SELECT CAST(1000000000 + r_regionkey AS BIGINT) FROM region))
         |  WHERE rn <= 3),
         |l2 AS (SELECT 2 AS layer, src, dst FROM (
         |  SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY
         |      ${graft.text.PortableHash.duck("concat('2|', " +
          "CAST(src AS VARCHAR), '|', CAST(dst AS VARCHAR))")}, dst) AS rn
         |  FROM ed WHERE src IN (SELECT DISTINCT dst FROM l1))
         |  WHERE rn <= 2)
         |SELECT layer, src, dst
         |FROM (SELECT * FROM l1 UNION ALL SELECT * FROM l2)
         |ORDER BY layer, src, dst""".stripMargin) { (s, d) =>
      val g = hierarchy(s, d)
      GraphOps.sampleNeighborhood(s, g,
          g.nodes.filter(col("label") === "Region").select("id"),
          fanouts = Seq(3, 2))
        .orderBy("layer", "src", "dst")
    },

    // Q2 expand twin: single-hop typed expansion from every nation —
    // per-nation out-neighbor count along HAS_CUSTOMER.
    QueryDef.sql(
      "graphp_expand",
      """SELECT n_name AS name, CAST(count(c_custkey) AS BIGINT) AS n_out
        |FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY name""".stripMargin) { (s, d) =>
      val g = hierarchy(s, d)
      val nations = g.nodes.filter(col("label") === "Nation")
      val out = GraphOps.expand(g, nations.select("id"),
        Some("HAS_CUSTOMER"))
        .groupBy("from_id").agg(count(lit(1)).as("n_out"))
      nations.select(col("id").as("from_id"), col("name"))
        .join(out, Seq("from_id"), "left_outer")
        .select(col("name"), coalesce(col("n_out"), lit(0L)).as("n_out"))
        .orderBy("name")
    },

    // Q2 expand twin, "in" direction: every customer's in-neighbors along
    // HAS_CUSTOMER are exactly its nation — the reversed-edge code path,
    // graded per nation.
    QueryDef.sql(
      "graphp_expand_in",
      """SELECT n_name AS name, CAST(count(*) AS BIGINT) AS n_in
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY name""".stripMargin) { (s, d) =>
      val g = hierarchy(s, d)
      val customers = g.nodes.filter(col("label") === "Customer")
      GraphOps.expand(g, customers.select("id"), Some("HAS_CUSTOMER"),
          direction = "in")
        .join(nationNames(s, d)
          .withColumnRenamed("id", "to_id"), "to_id")
        .groupBy(col("n_name").as("name"))
        .agg(count(lit(1)).as("n_in"))
        .orderBy("name")
    },

    // A18 content-update (SET) twin: update content for nations below 'K',
    // leave the rest untouched; graded on the full (name, content) relation.
    QueryDef.sql(
      "graphp_set_content",
      """SELECT n_name AS name,
        |  CASE WHEN n_name < 'K' THEN 'upd:' || n_name ELSE '' END AS content
        |FROM nation ORDER BY name""".stripMargin) { (s, d) =>
      val g = hierarchy(s, d)
      val updates = g.nodes
        .filter(col("label") === "Nation" && col("name") < "K")
        .select(col("id"), concat(lit("upd:"), col("name")).as("new_content"))
      GraphOps.updateContent(g, updates).nodes
        .filter(col("label") === "Nation")
        .select(col("name"), col("content"))
        .orderBy("name")
    },

    // Q7/A11 upsert twin: MERGE of the graph into itself is an exact no-op.
    QueryDef.sql(
      "graphp_upsert",
      """SELECT label, n_nodes FROM (
        |  SELECT 'Region' AS label, CAST(count(*) AS BIGINT) AS n_nodes
        |  FROM region
        |  UNION ALL SELECT 'Nation', count(*) FROM nation
        |  UNION ALL SELECT 'Customer', count(*) FROM customer
        |  UNION ALL SELECT 'Order', count(*) FROM orders)
        |ORDER BY label""".stripMargin) { (s, d) =>
      val g = hierarchy(s, d)
      GraphOps.upsert(g, g).nodes
        .groupBy("label").agg(count(lit(1)).as("n_nodes"))
        .orderBy("label")
    },

    // Q8/A19 cascade-delete twin: dropping the order batch removes order
    // nodes AND every edge touching them; the rest of the tree survives.
    QueryDef.sql(
      "graphp_drop_cascade",
      """SELECT item, n FROM (
        |  SELECT 'node:Region' AS item, CAST(count(*) AS BIGINT) AS n
        |  FROM region
        |  UNION ALL SELECT 'node:Nation', count(*) FROM nation
        |  UNION ALL SELECT 'node:Customer', count(*) FROM customer
        |  UNION ALL SELECT 'edge:HAS_NATION', count(*) FROM nation
        |  UNION ALL SELECT 'edge:HAS_CUSTOMER', count(*) FROM customer)
        |ORDER BY item""".stripMargin) { (s, d) =>
      val g2 = GraphOps.dropBatch(hierarchy(s, d), "orders")
      g2.nodes.groupBy(concat(lit("node:"), col("label")).as("item"))
        .agg(count(lit(1)).as("n"))
        .unionByName(
          g2.edges.groupBy(concat(lit("edge:"), col("relType")).as("item"))
            .agg(count(lit(1)).as("n")))
        .orderBy("item")
    },

    // Q9 label-propagation twin on the clique layer — the last GraphX
    // family to gain an oracle. LPA's per-step tie-breaks inside a clique
    // are not deterministic, but two invariants ARE derivable: (1) labels
    // only ever travel along edges, so a clique member's final community is
    // one of its OWN region's three clique ids — mapping the community back
    // to its region must give the member's own region; (2) isolated
    // vertices (region rank > 3) receive no messages and keep their initial
    // label, their own id. Both graded relationally; the nondeterministic
    // part (WHICH clique member wins) is projected to NULL.
    QueryDef.sql(
      "graphp_label_propagation",
      """WITH ranked AS (
        |  SELECT n_name, n_nationkey, n_regionkey,
        |    row_number() OVER (PARTITION BY n_regionkey
        |      ORDER BY n_nationkey) AS rn
        |  FROM nation)
        |SELECT n_name AS name, CAST(n_regionkey AS BIGINT) AS community_region,
        |  CASE WHEN rn <= 3 THEN CAST(NULL AS BOOLEAN) ELSE TRUE END AS kept_own
        |FROM ranked ORDER BY name""".stripMargin) { (s, d) =>
      val lpa = GraphOps.labelPropagation(s, cliques(s, d), iters = 5)
      val nations = Tables.nation(s, d)
        .withColumn("rn", row_number().over(
          Window.partitionBy("n_regionkey").orderBy("n_nationkey")))
        .select((col("n_nationkey") + NationBase).as("id"),
          col("n_name"), col("rn"))
      val communityRegion = Tables.nation(s, d)
        .select((col("n_nationkey") + NationBase).as("community"),
          col("n_regionkey").cast("long").as("community_region"))
      lpa.join(nations, "id")
        .join(communityRegion, "community")
        .select(col("n_name").as("name"), col("community_region"),
          when(col("rn") <= 3, lit(null).cast("boolean"))
            .otherwise(col("community") === col("id")).as("kept_own"))
        .orderBy("name")
    },

    // Q9 Louvain twin on the clique layer. Unlike LPA (whose winning label
    // is tie-break luck, graded by invariants above), Louvain under the
    // exact modularity accept-guard + min-member-id canonicalization is
    // FULLY deterministic here: modularity of disjoint K3s is maximized by
    // one community per clique (Q = 1 − 1/R), so every clique member lands
    // in its region's clique community — reported as the region's lowest
    // nation id — and message-less isolated vertices stay singleton. The
    // whole assignment is closed-form SQL.
    QueryDef.sql(
      "graphp_louvain",
      """WITH ranked AS (
        |  SELECT n_name, n_nationkey, n_regionkey,
        |    row_number() OVER (PARTITION BY n_regionkey
        |      ORDER BY n_nationkey) AS rn,
        |    min(n_nationkey) OVER (PARTITION BY n_regionkey) AS lo
        |  FROM nation)
        |SELECT n_name AS name,
        |  CAST(2000000000 + CASE WHEN rn <= 3 THEN lo
        |    ELSE n_nationkey END AS BIGINT) AS community
        |FROM ranked ORDER BY name""".stripMargin) { (s, d) =>
      GraphOps.louvain(s, cliques(s, d))
        .select(col("name"), col("community"))
        .orderBy("name")
    },

    // Q6 subtree-text twin: path-ordered descendant concatenation over the
    // docTree fixture, whose synthetic path/content make document order
    // independently derivable (= nationkey order within the region).
    QueryDef.sql(
      "graphp_subtree_text",
      """SELECT CAST(1000000000 + r_regionkey AS BIGINT) AS root_id,
        |  r_name AS docnbr,
        |  string_agg(n_name, ' ' ORDER BY n_nationkey) AS subtree_text
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |WHERE r_name = (SELECT min(r_name) FROM region)
        |GROUP BY 1, 2 ORDER BY root_id""".stripMargin) { (s, d) =>
      val rootName = Tables.region(s, d)
        .agg(min("r_name")).collect()(0).getString(0) // 1 row — bounded
      GraphOps.subtreeText(docTree(s, d), "Region", rootName)
        .orderBy("root_id")
    },

    // B6 CypherLite twin: RETURN m.<prop> property projection — the
    // narrow-select form an LLM emits for "list the names of …".
    QueryDef.sql(
      "graphp_cypher_return_prop",
      """SELECT n_name AS m_name, 'Nation' AS m_label
        |FROM nation WHERE n_name >= 'E' AND n_name < 'P'
        |ORDER BY m_name, m_label""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation) WHERE m.name >= 'E' AND m.name < 'P' " +
          "RETURN m.name, m.label")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: ORDER BY … DESC LIMIT — the top-k form. The sort
    // key must drive WHICH rows survive the limit on both engines.
    QueryDef.sql(
      "graphp_cypher_order_by",
      """SELECT n_name AS m_name FROM nation
        |ORDER BY m_name DESC LIMIT 10""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation) RETURN m.name ORDER BY m.name DESC LIMIT 10")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: SKIP + LIMIT pagination — page 2 of the ordered
    // nation listing; the front end rejects SKIP without ORDER BY.
    QueryDef.sql(
      "graphp_cypher_skip",
      """SELECT n_name AS m_name FROM nation
        |ORDER BY m_name DESC LIMIT 10 OFFSET 5""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation) RETURN m.name ORDER BY m.name DESC SKIP 5 LIMIT 10")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: Cypher string predicates — STARTS WITH compiles
    // to a sargable prefix (LIKE 'v%'), CONTAINS to an infix match; the
    // oracle grades both against DuckDB's LIKE forms. The underscore is
    // ESCAPE'd — bare `_` is a single-char LIKE wildcard, and the oracle
    // must assert the LITERAL prefix STARTS WITH matches, not a lookalike.
    QueryDef.sql(
      "graphp_cypher_string_ops",
      """SELECT 'Nation' AS m_label, n_name AS m_name, '' AS m_content
        |FROM nation
        |WHERE n_name LIKE 'NATION\_1%' ESCAPE '\' AND n_name LIKE '%2%'
        |ORDER BY m_label, m_name, m_content""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation) WHERE m.name STARTS WITH 'NATION_1' " +
          "AND m.name CONTAINS '2' RETURN m")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: OR + AND precedence in WHERE (AND binds tighter),
    // graded against the explicitly parenthesized SQL equivalent.
    QueryDef.sql(
      "graphp_cypher_or",
      """SELECT 'Nation' AS m_label, n_name AS m_name, '' AS m_content
        |FROM nation
        |WHERE n_name < 'C' OR (n_name >= 'U' AND n_name <> 'UNITED STATES')
        |ORDER BY m_label, m_name, m_content""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation) WHERE m.name < 'C' OR m.name >= 'U' " +
          "AND m.name <> 'UNITED STATES' RETURN m")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: RETURN m.prop under a hop pattern — the
    // projection must be honored AND the pattern must actually match
    // (Cypher existence semantics). TPC-H leaves ~1/3 of customers
    // order-less, so the EXISTS prunes for real.
    QueryDef.sql(
      "graphp_cypher_hop_prop",
      """SELECT CAST(c_custkey AS VARCHAR) AS m_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Customer)-[:HAS_ORDER*1..1]->(c) RETURN m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: count(connected) grouped by a RETURN property —
    // Cypher's grouping rule makes every non-aggregate item a key, so
    // grouping five regions by their shared label collapses them into ONE
    // row whose count is the whole 2-hop expansion (nations + customers).
    QueryDef.sql(
      "graphp_cypher_count_by_prop",
      """SELECT 'Region' AS m_label,
        |  CAST((SELECT count(*) FROM nation) +
        |       (SELECT count(*) FROM customer) AS BIGINT) AS n_connected""".stripMargin) {
      (s, d) =>
        CypherLite.run(hierarchy(s, d),
          "MATCH (m:Region)-[*1..2]->(connected) " +
            "RETURN m.label, count(connected)")
          .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: WHERE on the CONNECTED variable with RETURN m —
    // Cypher existence semantics over the filtered bindings, graded against
    // the SQL EXISTS formulation. Customer node names are custkeys as
    // strings, so the lexicographic band ['100','101') selects keys 100 and
    // 1000-1009 — ~11 of 1500 customers at sf0.01, sparse enough that most
    // nations genuinely prune (the EXISTS does real work on both engines).
    QueryDef.sql(
      "graphp_cypher_conn_where",
      """SELECT n_name AS m_name FROM nation
        |WHERE EXISTS (SELECT 1 FROM customer
        |  WHERE c_nationkey = n_nationkey
        |    AND CAST(c_custkey AS VARCHAR) >= '100'
        |    AND CAST(c_custkey AS VARCHAR) < '101')
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation)-[:HAS_CUSTOMER*1..1]->(c) " +
          "WHERE c.name >= '100' AND c.name < '101' RETURN m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: mixed m/c property projection under a
    // connected-variable WHERE — one row per surviving (m, c) binding.
    QueryDef.sql(
      "graphp_cypher_conn_ret",
      """SELECT r_name AS m_name, n_name AS c_name
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |WHERE n_name >= 'E' AND n_name < 'P'
        |ORDER BY m_name, c_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Region)-[*1..1]->(c) " +
          "WHERE c.name >= 'E' AND c.name < 'P' RETURN m.name, c.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: inline property map on the CONNECTED pattern —
    // `(c:Nation {name: '…'})` — the Cypher-idiomatic anchor form LLMs
    // emit constantly; desugars to AND-distributed equality conditions.
    QueryDef.sql(
      "graphp_cypher_conn_props",
      """SELECT r_name AS m_name, n_name AS c_name
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |WHERE n_name = 'NATION_7'
        |ORDER BY m_name, c_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Region)-[*1..1]->(c:Nation {name: 'NATION_7'}) " +
          "RETURN m.name, c.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: count(c) restricted by a connected-variable WHERE
    // on the node's LABEL — `c.label = '…'` is how a query narrows the
    // bare connected pattern's type, here counting only the depth-2
    // customers out of each region's 2-hop expansion.
    QueryDef.sql(
      "graphp_cypher_conn_count",
      """SELECT r_name AS m_name, CAST(count(*) AS BIGINT) AS n_connected
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY r_name ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Region)-[*1..2]->(c) WHERE c.label = 'Customer' " +
          "RETURN m.name, count(c)")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: `(c:Label)` pattern sugar combined with an OR'd
    // WHERE. The label constraint must AND-distribute into BOTH OR-groups:
    // customer names are digit strings, which sort before every letter, so
    // `c.name < 'B'` alone matches ALL customers — if the sugar attached to
    // only one branch, each region's count would jump by its customer
    // population and the hash would miss.
    QueryDef.sql(
      "graphp_cypher_conn_label",
      """SELECT r_name AS m_name, CAST(count(*) AS BIGINT) AS n_connected
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |WHERE n_name >= 'E' OR n_name < 'B'
        |GROUP BY r_name ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Region)-[*1..2]->(c:Nation) " +
          "WHERE c.name >= 'E' OR c.name < 'B' RETURN m.name, count(c)")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: ORDER BY count(c) DESC LIMIT — top-k groups by
    // the aggregate ("which nations have the most customers"), the classic
    // analytics shape an LLM emits against the schema prompt. Ties on the
    // count are broken by the grouping key (both engines sort
    // (n_connected DESC, m_name)), so LIMIT keeps a deterministic set.
    QueryDef.sql(
      "graphp_cypher_topk_groups",
      """SELECT n_name AS m_name, CAST(count(*) AS BIGINT) AS n_connected
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_connected DESC, m_name LIMIT 5""".stripMargin) {
      (s, d) =>
        CypherLite.run(hierarchy(s, d),
          "MATCH (m:Nation)-[:HAS_CUSTOMER*1..1]->(c) " +
            "RETURN m.name, count(c) ORDER BY count(c) DESC LIMIT 5")
          .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: OPTIONAL MATCH — the left-outer hop expansion at
    // volume. The synthetic corpus gives every customer at least one order,
    // so the optional pattern is made to prune via the binding WHERE: a
    // customer none of whose orderkeys end in '7' (~1/3 of them at any SF,
    // 0.9^orders each) returns one row with a NULL connected column, the
    // rest one row per surviving binding. Graded against the SQL LEFT JOIN
    // with the predicate in the ON clause — the Cypher-semantics reading.
    QueryDef.sql(
      "graphp_cypher_optional",
      """SELECT CAST(c_custkey AS VARCHAR) AS m_name,
        |  CAST(o_orderkey AS VARCHAR) AS c_name
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |  AND CAST(o_orderkey AS VARCHAR) LIKE '%7'
        |ORDER BY m_name, c_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Customer) OPTIONAL MATCH (m)-[:HAS_ORDER*1..1]->(c) " +
          "WHERE c.name ENDS WITH '7' RETURN m.name, c.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: WHERE under OPTIONAL MATCH filters the pattern
    // BINDINGS, not the roots (Cypher attaches the WHERE to the OPTIONAL
    // MATCH clause): exactly one nation matches, so one region keeps its
    // binding and the other four return with a NULL connected column —
    // the inner-join reading would return one row total and hash-miss.
    QueryDef.sql(
      "graphp_cypher_optional_where",
      """SELECT r_name AS m_name, n_name AS c_name
        |FROM region LEFT JOIN nation
        |  ON n_regionkey = r_regionkey AND n_name = 'NATION_13'
        |ORDER BY m_name, c_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Region) OPTIONAL MATCH (m)-[*1..1]->(c) " +
          "WHERE c.name = 'NATION_13' RETURN m.name, c.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: RETURN DISTINCT — bag → set projection. On the
    // clique layer each region's rank-2 and rank-3 nations are reached
    // from 1 and 2 sources respectively (15 directed bindings, 10 distinct
    // targets), so DISTINCT collapses rows for real; without it the twin
    // would hash-miss with 5 duplicate rows.
    QueryDef.sql(
      "graphp_cypher_distinct",
      """WITH t3 AS (
        |  SELECT n_regionkey AS rk, n_name, row_number() OVER
        |    (PARTITION BY n_regionkey ORDER BY n_nationkey) AS rn
        |  FROM nation)
        |SELECT DISTINCT b.n_name AS c_name
        |FROM t3 a JOIN t3 b ON a.rk = b.rk AND a.rn < b.rn
        |WHERE a.rn <= 3 AND b.rn <= 3
        |ORDER BY c_name""".stripMargin) { (s, d) =>
      CypherLite.run(linkPred(s, d),
        "MATCH (m:Nation)-[:CLIQUE*1..1]->(c) RETURN DISTINCT c.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: count(DISTINCT c) — counts distinct connected
    // NODES by identity, not (m, c) bindings. Same clique fixture: 15
    // bindings but 10 distinct targets; a plain-count implementation of
    // the DISTINCT form would answer 15 and hash-miss.
    QueryDef.sql(
      "graphp_cypher_count_distinct",
      """WITH t3 AS (
        |  SELECT n_regionkey AS rk, n_nationkey AS id, row_number() OVER
        |    (PARTITION BY n_regionkey ORDER BY n_nationkey) AS rn
        |  FROM nation)
        |SELECT 'Nation' AS m_label,
        |  CAST(count(DISTINCT b.id) AS BIGINT) AS n_connected
        |FROM t3 a JOIN t3 b ON a.rk = b.rk AND a.rn < b.rn
        |WHERE a.rn <= 3 AND b.rn <= 3""".stripMargin) { (s, d) =>
      CypherLite.run(linkPred(s, d),
        "MATCH (m:Nation)-[:CLIQUE*1..1]->(c) " +
          "RETURN m.label, count(DISTINCT c)")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: the GLOBAL aggregate form — every RETURN item an
    // aggregate, no grouping keys, ONE summary row ("how many X are
    // there", the single most common LLM Cypher emission). The WHERE
    // filters before aggregating; min/max keep string collation.
    QueryDef.sql(
      "graphp_cypher_global_agg",
      """SELECT CAST(count(*) AS BIGINT) AS n_nations,
        |  min(n_name) AS first_name, max(n_name) AS last_name
        |FROM nation WHERE n_name LIKE '%1%'""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation) WHERE m.name CONTAINS '1' " +
          "RETURN count(m) AS n_nations, min(m.name) AS first_name, " +
          "max(m.name) AS last_name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: GLOBAL aggregates over a hop pattern — count(c)
    // counts bindings (nations at depth 1 + customers at depth 2, each
    // once under min-depth dedup), count(DISTINCT m) counts matched roots
    // with ≥1 binding (the semi-join cardinality).
    QueryDef.sql(
      "graphp_cypher_global_hop",
      """SELECT
        |  CAST((SELECT count(*) FROM nation) +
        |       (SELECT count(*) FROM customer) AS BIGINT) AS n_bindings,
        |  CAST((SELECT count(DISTINCT n_regionkey) FROM nation)
        |    AS BIGINT) AS n_regions""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Region)-[*1..2]->(c) RETURN count(c) AS n_bindings, " +
          "count(DISTINCT m) AS n_regions")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: global count(r) — the total-relationship census
    // on the typed-bindings substrate (one row per EDGE). The hierarchy's
    // edge count is exactly |nation| + |customer| + |orders|.
    QueryDef.sql(
      "graphp_cypher_global_edges",
      """SELECT CAST((SELECT count(*) FROM nation) +
        |  (SELECT count(*) FROM customer) +
        |  (SELECT count(*) FROM orders) AS BIGINT) AS n_edges
        |""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m)-[r]->(c) RETURN count(r) AS n_edges")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: `=~` regex predicate — Cypher's WHOLE-string
    // match. 'NATION_.' full-matches exactly the ten single-digit
    // nations; a substring-semantics (bare rlike) regression would also
    // match every two-digit nation's prefix and return 25 rows.
    QueryDef.sql(
      "graphp_cypher_regex",
      """SELECT n_name AS m_name FROM nation
        |WHERE regexp_full_match(n_name, 'NATION_.')
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation) WHERE m.name =~ 'NATION_.' RETURN m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: MULTI-KEY ORDER BY with mixed significance —
    // LIMIT 7 crosses a region boundary (5 nations each), so the first
    // key picks the last region and the SECOND key decides which two of
    // the next region's nations survive; an implementation that dropped
    // or reordered the secondary key would keep different rows and
    // hash-miss.
    QueryDef.sql(
      "graphp_cypher_multikey_order",
      """SELECT r_name AS m_name, n_name AS c_name
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |ORDER BY m_name DESC, c_name DESC LIMIT 7""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Region)-[:HAS_NATION*1..1]->(c) RETURN m.name, c.name " +
          "ORDER BY m.name DESC, c.name DESC LIMIT 7")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: whole-query UNION — set semantics dedupe the
    // branches' combined rows. The branches overlap for real: nations
    // before 'C' ∪ nations containing '2' share NATION_2x members, so a
    // bag-semantics regression would keep the duplicates and hash-miss.
    QueryDef.sql(
      "graphp_cypher_union",
      """SELECT n_name AS m_name FROM nation WHERE n_name < 'NATION_2'
        |UNION
        |SELECT n_name AS m_name FROM nation WHERE n_name LIKE '%2%'
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation) WHERE m.name < 'NATION_2' RETURN m.name " +
          "UNION MATCH (m:Nation) WHERE m.name CONTAINS '2' RETURN m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: UNION ALL — bag semantics keep every branch row.
    // Region names appear in both branches, so the result holds each
    // twice; a set-semantics regression would collapse them and hash-miss.
    QueryDef.sql(
      "graphp_cypher_union_all",
      """SELECT r_name AS m_name FROM region
        |UNION ALL
        |SELECT r_name AS m_name FROM region
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Region) RETURN m.name " +
          "UNION ALL MATCH (m:Region) RETURN m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: CROSS-VARIABLE comparison `c.name < m.name` —
    // both sides of the WHERE are bound pattern variables, compared
    // column-to-column per (m, c) binding. On the per-region nation cycle
    // the qualifying edges are exactly those whose successor's name sorts
    // lexicographically before the source's (wrap-around edges plus the
    // NATION_1x-before-NATION_9 string-order inversions) — a literal-RHS
    // misparse would match nothing and hash-miss.
    QueryDef.sql(
      "graphp_cypher_crossvar",
      """WITH linked AS (
        |  SELECT n_name,
        |    coalesce(
        |      lead(n_name) OVER w,
        |      first_value(n_name) OVER w) AS nxt
        |  FROM nation
        |  WINDOW w AS (PARTITION BY n_regionkey ORDER BY n_nationkey))
        |SELECT n_name AS m_name, nxt AS c_name FROM linked
        |WHERE nxt < n_name ORDER BY m_name, c_name""".stripMargin) { (s, d) =>
      CypherLite.run(chain(s, d),
        "MATCH (m:Nation)-[:HAS_NEXT*1..1]->(c:Nation) " +
          "WHERE c.name < m.name RETURN m.name, c.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: cross-variable comparison on the ROOT fast path
    // (`m.content = m.name`, no hop pattern) over the null-bearing
    // fixture — odd-keyed nations carry NULL content, the comparison is
    // null, and the row drops (Cypher's null rule); even keys compare
    // equal and survive. Exercises the pushed-down root-scan DNF with a
    // column RHS.
    QueryDef.sql(
      "graphp_cypher_crossvar_root",
      """SELECT n_name AS m_name FROM nation
        |WHERE n_nationkey % 2 = 0 ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(nullableContent(s, d),
        "MATCH (m:Nation) WHERE m.content = m.name RETURN m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: PARENTHESIZED WHERE groups — (ends-1 OR ends-2)
    // AND starts-NATION_1 keeps {NATION_1, NATION_11, NATION_12}. The
    // unparenthesized precedence reading (AND binds tighter) would also
    // keep NATION_21 and hash-miss — the witness that parens bind.
    QueryDef.sql(
      "graphp_cypher_parens",
      """SELECT n_name AS m_name FROM nation
        |WHERE (n_name LIKE '%1' OR n_name LIKE '%2')
        |  AND n_name LIKE 'NATION\_1%' ESCAPE '\'
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation) WHERE (m.name ENDS WITH '1' OR " +
          "m.name ENDS WITH '2') AND m.name STARTS WITH 'NATION_1' " +
          "RETURN m.name ORDER BY m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: toLower/toUpper WHERE wrappers — Cypher's
    // case-insensitive-match staple. Node names are upper-case
    // 'NATION_k', so BOTH lower-case comparisons match only through the
    // fold (an implementation that dropped the wrapper, or folded the
    // literal instead, returns zero rows or the wrong band); the
    // toUpper conjunct grades the second wrapper through the same atom.
    QueryDef.sql(
      "graphp_cypher_casefold",
      """SELECT n_name AS m_name FROM nation
        |WHERE (lower(n_name) LIKE '%nation\_1%' ESCAPE '\'
        |  AND upper(n_name) LIKE '%3')
        |  OR lower(n_name) = 'nation_2'
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation) WHERE (toLower(m.name) CONTAINS 'nation_1' " +
          "AND toUpper(m.name) ENDS WITH '3') OR " +
          "toLower(m.name) = 'nation_2' RETURN m.name ORDER BY m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: NOT over a parenthesized group — De Morgan
    // pushed to the atoms (exact in three-valued logic). Names containing
    // '1' but NOT ending in '1' or '2': a reading that negated only the
    // first disjunct (or dropped the conjunction) changes the row set.
    QueryDef.sql(
      "graphp_cypher_not_group",
      """SELECT n_name AS m_name FROM nation
        |WHERE NOT (n_name LIKE '%1' OR n_name LIKE '%2')
        |  AND n_name LIKE '%1%'
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation) WHERE NOT (m.name ENDS WITH '1' OR " +
          "m.name ENDS WITH '2') AND m.name CONTAINS '1' " +
          "RETURN m.name ORDER BY m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: coalesce(c.prop, 'default') under OPTIONAL
    // MATCH — the null-default staple. One nation matches the binding
    // WHERE, so four regions answer the default and one the real name; an
    // implementation that coalesced after DISTINCT/ORDER (or dropped the
    // default) changes values or order. The AS alias must surface too.
    QueryDef.sql(
      "graphp_cypher_coalesce",
      """SELECT r_name AS m_name, coalesce(n_name, 'none') AS who
        |FROM region LEFT JOIN nation
        |  ON n_regionkey = r_regionkey AND n_name = 'NATION_13'
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Region) OPTIONAL MATCH (m)-[*1..1]->(c) " +
          "WHERE c.name = 'NATION_13' " +
          "RETURN m.name, coalesce(c.name, 'none') AS who " +
          "ORDER BY m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: labels(c) — Cypher's label-list accessor; the
    // single-label model serializes the list to the label itself under
    // the Cypher-named `c_labels` column (m_name + constant 'Nation'
    // per binding over the region→nation hop).
    QueryDef.sql(
      "graphp_cypher_labels",
      """SELECT r_name AS m_name, 'Nation' AS c_labels
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Region)-[]->(c) RETURN m.name, labels(c)")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: UNQUOTED numeric literal — the comparison is
    // numeric, not lexicographic, and non-numeric names drop (try_cast
    // null). The unlabeled MATCH sweeps ALL node types: region/nation
    // names ('REGION_x') are non-numeric and must vanish, customer/order
    // names are their numeric keys. A lexicographic regression would admit
    // '100', '1000', … and hash-miss; an ANSI-cast regression would throw.
    QueryDef.sql(
      "graphp_cypher_numeric",
      """SELECT 'Customer' AS m_label, CAST(c_custkey AS VARCHAR) AS m_name
        |FROM customer WHERE c_custkey <= 12.5
        |UNION ALL
        |SELECT 'Order', CAST(o_orderkey AS VARCHAR)
        |FROM orders WHERE o_orderkey <= 12.5
        |ORDER BY m_label, m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m) WHERE m.name <= 12.5 RETURN m.label, m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: pattern-existence WHERE (semi-join). Only the
    // clique pairs (a.rn < b.rn, both ≤ 3) give a nation an OUTGOING
    // CLIQUE edge, so the predicate keeps exactly the sub-top-rank clique
    // members — derivable as the DISTINCT sources of the pair relation.
    QueryDef.sql(
      "graphp_cypher_exists",
      """WITH t3 AS (
        |  SELECT n_regionkey AS rk, n_name, row_number() OVER
        |    (PARTITION BY n_regionkey ORDER BY n_nationkey) AS rn
        |  FROM nation)
        |SELECT DISTINCT a.n_name AS m_name
        |FROM t3 a JOIN t3 b ON a.rk = b.rk AND a.rn < b.rn
        |WHERE a.rn <= 3 AND b.rn <= 3
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(linkPred(s, d),
        "MATCH (m:Nation) WHERE (m)-[:CLIQUE]->() RETURN m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: NEGATED existence (anti-join) — the complement
    // of graphp_cypher_exists within the label's roots. An implementation
    // that confused bindings with roots (or dropped the anti side) would
    // return the wrong complement and hash-miss.
    QueryDef.sql(
      "graphp_cypher_not_exists",
      """WITH t3 AS (
        |  SELECT n_regionkey AS rk, n_name, row_number() OVER
        |    (PARTITION BY n_regionkey ORDER BY n_nationkey) AS rn
        |  FROM nation),
        |src AS (
        |  SELECT DISTINCT a.rk, a.rn
        |  FROM t3 a JOIN t3 b ON a.rk = b.rk AND a.rn < b.rn
        |  WHERE a.rn <= 3 AND b.rn <= 3)
        |SELECT t3.n_name AS m_name FROM t3
        |WHERE NOT EXISTS (SELECT 1 FROM src
        |  WHERE src.rk = t3.rk AND src.rn = t3.rn)
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(linkPred(s, d),
        "MATCH (m:Nation) WHERE NOT (m)-[:CLIQUE]->() RETURN m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: collect(c.name) — Cypher's list aggregation as
    // the engine's sorted comma-joined nest serialization. The RANGELESS
    // hop (`-[]->`) also grades the single-hop sugar at the relational
    // level: regions collect exactly their nations.
    QueryDef.sql(
      "graphp_cypher_collect",
      """SELECT r_name AS m_name,
        |  string_agg(n_name, ',' ORDER BY n_name) AS collected
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Region)-[]->(c) RETURN m.name, collect(c.name)")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: collect(DISTINCT c.name) — grouping by the
    // shared label folds all 15 clique bindings into ONE group whose 10
    // distinct target names must dedupe before sorting; a bag-collect
    // implementation would serialize 15 entries and hash-miss.
    QueryDef.sql(
      "graphp_cypher_collect_distinct",
      """WITH t3 AS (
        |  SELECT n_regionkey AS rk, n_name, row_number() OVER
        |    (PARTITION BY n_regionkey ORDER BY n_nationkey) AS rn
        |  FROM nation)
        |SELECT 'Nation' AS m_label,
        |  string_agg(DISTINCT b.n_name, ',' ORDER BY b.n_name) AS collected
        |FROM t3 a JOIN t3 b ON a.rk = b.rk AND a.rn < b.rn
        |WHERE a.rn <= 3 AND b.rn <= 3""".stripMargin) { (s, d) =>
      CypherLite.run(linkPred(s, d),
        "MATCH (m:Nation)-[:CLIQUE]->(c) " +
          "RETURN m.label, collect(DISTINCT c.name)")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: WITH … WHERE — Cypher's aggregate-then-filter
    // pipeline (SQL's HAVING), the "nations with at least 60 customers"
    // shape LLMs emit for every threshold prompt. 60 splits the sf0.01
    // distribution 12/13, so the HAVING prunes for real; the alias `n_cust`
    // must surface as the output column on both engines.
    QueryDef.sql(
      "graphp_cypher_with_having",
      """SELECT n_name AS m_name, CAST(count(*) AS BIGINT) AS n_cust
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY n_name HAVING count(*) >= 60
        |ORDER BY n_cust DESC, m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation)-[:HAS_CUSTOMER*1..1]->(c) " +
          "WITH m, count(c) AS n_cust WHERE n_cust >= 60 " +
          "RETURN m.name, n_cust ORDER BY n_cust DESC")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: count(*) vs count(c) under OPTIONAL MATCH —
    // count(*) counts result ROWS, so a customer with no order ending in
    // '7' answers 1 (its null row) where count(c) answers 0. The SQL
    // LEFT JOIN + count(*) has exactly this semantics; grading against it
    // catches an implementation that aliased count(*) to count(c).
    QueryDef.sql(
      "graphp_cypher_count_star",
      """SELECT CAST(c_custkey AS VARCHAR) AS m_name,
        |  CAST(count(*) AS BIGINT) AS n_connected
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |  AND CAST(o_orderkey AS VARCHAR) LIKE '%7'
        |GROUP BY c_custkey ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Customer) OPTIONAL MATCH (m)-[:HAS_ORDER*1..1]->(c) " +
          "WHERE c.name ENDS WITH '7' RETURN m.name, count(*)")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: hop-less `RETURN m.prop, count(*)` — the node
    // census by label, one hash aggregate over the whole node relation
    // (partial+final, no join). The oracle derives each label's count from
    // its base table independently.
    QueryDef.sql(
      "graphp_cypher_global_count",
      """SELECT l AS m_label, CAST(n AS BIGINT) AS n_connected FROM (
        |  SELECT 'Region' AS l, (SELECT count(*) FROM region) AS n
        |  UNION ALL SELECT 'Nation', (SELECT count(*) FROM nation)
        |  UNION ALL SELECT 'Customer', (SELECT count(*) FROM customer)
        |  UNION ALL SELECT 'Order', (SELECT count(*) FROM orders))
        |ORDER BY m_label""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m) RETURN m.label, count(*)")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: IN-list membership — two present names, one
    // absent (the absent element must not leak a row; DuckDB's IN is the
    // direct mirror). Sargable: the isin compiles to an In filter pushed
    // to the node scan.
    QueryDef.sql(
      "graphp_cypher_in",
      """SELECT 'Nation' AS m_label, n_name AS m_name, '' AS m_content
        |FROM nation
        |WHERE n_name IN ('NATION_3', 'NATION_17', 'NO_SUCH')
        |ORDER BY m_label, m_name, m_content""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation) WHERE m.name IN ['NATION_3', 'NATION_17', " +
          "'NO_SUCH'] RETURN m")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: the two-step chain pattern with a bound middle
    // variable — "customers of nations of regions", the canonical "X of
    // Y of Z" LLM emission. Two frontier expansions joined on the middle
    // node id; the tail WHERE prunes ~90% of bindings so the filter does
    // real work. Output columns carry the QUERY's variable names.
    QueryDef.sql(
      "graphp_cypher_chain",
      """SELECT r_name AS r_name, n_name AS n_name,
        |  CAST(c_custkey AS VARCHAR) AS cu_name
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |WHERE CAST(c_custkey AS VARCHAR) LIKE '%7'
        |ORDER BY r_name, n_name, cu_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (r:Region)-[:HAS_NATION]->(n:Nation)" +
          "-[:HAS_CUSTOMER]->(cu:Customer) " +
          "WHERE cu.name ENDS WITH '7' RETURN r.name, n.name, cu.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: chain with a RANGED second step and an
    // unconstrained tail — `(r)-[*1..1]->(n:Nation)-[*1..2]->(x)` reaches
    // customers at depth 1 and orders at depth 2, so RETURN DISTINCT
    // collapses the fan-out to (region, label) pairs. An implementation
    // that ran the ranged step as exactly-2-hops (or leaked bag
    // duplicates through DISTINCT) answers differently and hash-misses.
    QueryDef.sql(
      "graphp_cypher_chain_ranged",
      """SELECT DISTINCT r_name AS r_name, 'Customer' AS x_label
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |UNION
        |SELECT DISTINCT r_name, 'Order'
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |ORDER BY r_name, x_label""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (r:Region)-[*1..1]->(n:Nation)-[*1..2]->(x) " +
          "RETURN DISTINCT r.name, x.label")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r14, directive 1): relationship
    // isomorphism ACROSS a ranged chain segment, on a genuinely CYCLIC
    // graph (the per-region nation cycles). The single-hop segment
    // binds NATION_3 → its cycle successor x; the ranged *1..5 walk
    // from x can return to x only by traversing the FULL cycle —
    // which reuses the bound edge, so Cypher excludes (y = x) while a
    // no-isomorphism engine returns it. Closed form (regions have 5
    // nations, cycle-minus-one-edge is a 4-step path): every nation of
    // the region EXCEPT the successor itself.
    QueryDef.sql(
      "graphp_cypher_chain_iso_ranged",
      """WITH t AS (
        |  SELECT n_name, n_nationkey, n_regionkey,
        |    coalesce(lead(n_nationkey) OVER (PARTITION BY n_regionkey
        |        ORDER BY n_nationkey),
        |      min(n_nationkey) OVER (PARTITION BY n_regionkey)) AS nxt
        |  FROM nation),
        |a AS (SELECT nxt AS xkey, n_regionkey AS rk FROM t
        |      WHERE n_name = 'NATION_3')
        |SELECT t.n_name AS y_name FROM t, a
        |WHERE t.n_regionkey = a.rk AND t.n_nationkey <> a.xkey
        |ORDER BY y_name""".stripMargin) { (s, d) =>
      CypherLite.run(chain(s, d),
        "MATCH (a:Nation {name: 'NATION_3'})-[:HAS_NEXT]->(x)" +
          "-[:HAS_NEXT*1..5]->(y) RETURN y.name ORDER BY y.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 read surface (new r14, directive 5): an UNDIRECTED chain
    // segment — co-occurrence through the shared parent, walked
    // backwards then forwards through one undirected + one directed
    // segment of the SAME type. Isomorphism on the stored identity
    // excludes the bounce (b = NATION_3 via the same stored
    // region→NATION_3 edge), so the answer is the region's OTHER
    // nations — an engine that pre-reversed edges and lost the stored
    // identity would return NATION_3 too and hash-miss.
    QueryDef.sql(
      "graphp_cypher_chain_undirected",
      """SELECT n2.n_name AS b_name
        |FROM nation n1 JOIN nation n2
        |  ON n2.n_regionkey = n1.n_regionkey
        |WHERE n1.n_name = 'NATION_3' AND n2.n_name <> 'NATION_3'
        |ORDER BY b_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (a:Nation {name: 'NATION_3'})-[:HAS_NATION]-(x)" +
          "-[:HAS_NATION]->(b:Nation) " +
          "RETURN b.name ORDER BY b.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: MULTI-KEY ORDER BY on a chain — LIMIT 7
    // crosses a region boundary, so the second key decides which of the
    // next region's nations survive (the same discriminating shape as
    // the single-hop multikey twin, now through the chain path).
    QueryDef.sql(
      "graphp_cypher_chain_multikey",
      """SELECT DISTINCT r_name AS r_name, n_name AS n_name
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |ORDER BY r_name DESC, n_name DESC LIMIT 7""".stripMargin) {
      (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (r:Region)-[:HAS_NATION]->(n:Nation)-[:HAS_CUSTOMER]->(cu) " +
          "RETURN DISTINCT r.name, n.name " +
          "ORDER BY r.name DESC, n.name DESC LIMIT 7")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: the UNWIND list-parameterization prefix — the
    // "any of these" form, rewritten to IN membership; one listed name is
    // absent, so the rewrite's set semantics are visible in the row count.
    QueryDef.sql(
      "graphp_cypher_unwind",
      """SELECT n_name AS m_name FROM nation
        |WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_93')
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "UNWIND ['NATION_3', 'NATION_7', 'NATION_93'] AS x " +
          "MATCH (m:Nation) WHERE m.name = x RETURN m.name ORDER BY m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r15, directive 2): UNWIND-PROJECTION —
    // the variable rides the RETURN (`RETURN x, count(c)`, the
    // per-value aggregate staple LLMs emit for "for each of these…").
    // `x` is equated to m.name, so the projection rewrites to the
    // compared property under the alias x and the grouped count IS
    // Cypher's per-x aggregate; the output column is literally named x.
    // Values matching nothing produce no row (MATCH semantics) — the
    // oracle's IN does the same.
    QueryDef.sql(
      "graphp_cypher_unwind_proj",
      """SELECT n_name AS x, CAST(count(*) AS BIGINT) AS n_cust
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
        |GROUP BY n_name ORDER BY x""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "UNWIND ['NATION_3', 'NATION_7', 'NATION_11'] AS x " +
          "MATCH (m:Nation)-[:HAS_CUSTOMER]->(c) WHERE m.name = x " +
          "RETURN x, count(c) AS n_cust ORDER BY x")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r15): the INLINE-MAP UNWIND spelling —
    // `UNWIND [...] AS x MATCH (m:L {name: x})` is the most common LLM
    // form. The map entry is excised and desugared to the WHERE-
    // conjunct spelling, so the projection + IN rewrite are shared;
    // graded per-value with the projection riding the alias x.
    QueryDef.sql(
      "graphp_cypher_unwind_map",
      """SELECT n_name AS x, CAST(count(*) AS BIGINT) AS n_cust
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |WHERE n_name IN ('NATION_2', 'NATION_9')
        |GROUP BY n_name ORDER BY x""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "UNWIND ['NATION_2', 'NATION_9'] AS x " +
          "MATCH (m:Nation {name: x})-[:HAS_CUSTOMER]->(c) " +
          "RETURN x, count(c) AS n_cust ORDER BY x")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r15): BRACKET-LESS relationship
    // shorthand — `(n)--(x)` is the untyped undirected single hop
    // (desugared to -[]-; untyped = the HAS_* containment convention).
    // Around a NATION the undirected set is the parent region (incoming)
    // plus the nation's customers (outgoing) — a one-orientation bug
    // drops a side and hash-misses.
    QueryDef.sql(
      "graphp_cypher_bare_arrows",
      """SELECT r_name AS x_name FROM region JOIN nation
        |  ON n_regionkey = r_regionkey WHERE n_name = 'NATION_3'
        |UNION ALL
        |SELECT CAST(c_custkey AS VARCHAR) FROM customer JOIN nation
        |  ON c_nationkey = n_nationkey WHERE n_name = 'NATION_3'
        |ORDER BY x_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (n:Nation {name: 'NATION_3'})--(x) " +
          "RETURN x.name AS x_name ORDER BY x_name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r15): collect() in the WITH pipeline —
    // `WITH m, collect(c.name) AS names, count(c) AS cnt WHERE cnt ≥ k`
    // (the gather-then-filter staple). The collected list keeps the
    // sorted comma-joined serialization; the HAVING filters the count
    // alias while the list rides along.
    QueryDef.sql(
      "graphp_cypher_with_collect",
      """SELECT n_name AS m_name,
        |  string_agg(CAST(c_custkey AS VARCHAR), ','
        |    ORDER BY CAST(c_custkey AS VARCHAR)) AS names,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY n_name HAVING count(*) >= 60
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation)-[:HAS_CUSTOMER]->(c) " +
          "WITH m, collect(c.name) AS names, count(c) AS cnt " +
          "WHERE cnt >= 60 RETURN m.name, names, cnt ORDER BY m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r15): coalesce over the MATCHED variable
    // — on this engine a node property stores '' for ABSENT (the ingest
    // convention keys(n)/properties(n) already pin), so the default
    // must fire on '' exactly where the accessors would omit the key.
    // An engine treating '' as present returns '' rows and hash-misses.
    QueryDef.sql(
      "graphp_cypher_coalesce_root",
      """SELECT r_name AS name, 'none' AS c FROM region
        |ORDER BY name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Region) RETURN m.name AS name, " +
          "coalesce(m.content, 'none') AS c ORDER BY name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r15): the pattern-less literal RETURN —
    // `RETURN 1` is the sanity probe LLM agents open a session with.
    QueryDef.sql(
      "graphp_cypher_return_literal",
      "SELECT CAST(1 AS BIGINT) AS one") { (s, d) =>
      CypherLite.run(hierarchy(s, d), "RETURN 1 AS one")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r15): the id() accessor — this engine's
    // node ids are MEANINGFUL (deterministic hashes / arithmetic
    // fixture keys), so id(v) projects them on both pattern sides; the
    // oracle rebuilds the exact arithmetic ids, so any id-derivation
    // drift hash-misses.
    QueryDef.sql(
      "graphp_cypher_id",
      """SELECT CAST(r_regionkey + 1000000000 AS BIGINT) AS rid,
        |  CAST(n_nationkey + 2000000000 AS BIGINT) AS nid,
        |  n_name AS name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' ORDER BY name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (a:Region {name: 'ASIA'})-[:HAS_NATION]->(n) " +
          "RETURN id(a) AS rid, id(n) AS nid, n.name AS name " +
          "ORDER BY name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r16, directive 2): the top-k-then-expand
    // staple — `WITH n ORDER BY … LIMIT k` feeding a follow-up MATCH.
    // Two-phase execution: stage 1 picks the k node ids (id tiebreak =
    // this engine's deterministic pin where Neo4j leaves ties
    // arbitrary), the ids splice into the expansion as a broadcast-
    // sized IN conjunct. The oracle re-derives the same top-3 via a CTE,
    // so a wrong phase order (expand-then-limit) or a wrong tiebreak
    // hash-misses.
    QueryDef.sql(
      "graphp_cypher_topk_expand",
      """WITH top3 AS (SELECT n_nationkey, n_name FROM nation
        |              ORDER BY n_name DESC, n_nationkey LIMIT 3)
        |SELECT n_name AS m_name,
        |  CAST(count(c_custkey) AS BIGINT) AS n_cust
        |FROM top3 JOIN customer ON c_nationkey = top3.n_nationkey
        |GROUP BY n_name ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (n:Nation) WITH n ORDER BY n.name DESC LIMIT 3 " +
          "MATCH (n)-[:HAS_CUSTOMER]->(c) " +
          "RETURN n.name, count(c) AS n_cust ORDER BY n.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r16): limit-then-AGGREGATE — `WITH n
    // ORDER BY … LIMIT k RETURN count(…)`, the shape the r15 fold
    // rejected by name (aggregate-first vs limit-first answer
    // differently; the two-phase path expresses the limit-first truth).
    QueryDef.sql(
      "graphp_cypher_topk_agg",
      """WITH top7 AS (SELECT n_nationkey FROM nation
        |              ORDER BY n_name, n_nationkey LIMIT 7)
        |SELECT CAST(count(c_custkey) AS BIGINT) AS n_c
        |FROM top7 JOIN customer ON c_nationkey = top7.n_nationkey""".stripMargin) {
      (s, d) =>
        CypherLite.run(hierarchy(s, d),
          "MATCH (n:Nation) WITH n ORDER BY n.name LIMIT 7 " +
            "MATCH (n)-[:HAS_CUSTOMER]->(c) RETURN count(c) AS n_c")
          .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r16, directive 3): ORDER BY over an
    // UNPROJECTED scalar fn (`ORDER BY toLower(n.name)`) — graded on
    // the mixed-case fixture with a LIMIT, so a case-SENSITIVE
    // collation (lowercase sorts after all uppercase in byte order)
    // picks a different top-7 and hash-misses.
    QueryDef.sql(
      "graphp_cypher_order_fn",
      """SELECT name AS m_name FROM (
        |  SELECT CASE WHEN n_nationkey % 2 = 1 THEN lower(n_name)
        |         ELSE n_name END AS name FROM nation)
        |ORDER BY lower(name), name LIMIT 7""".stripMargin) { (s, d) =>
      CypherLite.run(mixedCase(s, d),
        "MATCH (n:Nation) RETURN n.name " +
          "ORDER BY toLower(n.name), n.name LIMIT 7")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r16, directive 4): bag-multiplicity
    // UNWIND — the duplicated element ('CHINA' twice) multiplies its
    // bindings, so the count reads 3, not the set-semantics 2; an
    // IN-rewrite (set membership) hash-misses.
    QueryDef.sql(
      "graphp_cypher_unwind_bag",
      """SELECT CAST(count(*) AS BIGINT) AS c
        |FROM (VALUES ('CHINA'), ('INDIA'), ('CHINA')) t(v)
        |JOIN nation ON n_name = v""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "UNWIND ['CHINA', 'INDIA', 'CHINA'] AS x " +
          "MATCH (n:Nation) WHERE n.name = x RETURN count(*) AS c")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r16): the DEGREE sort key — "the 2 most
    // connected nations, then their customers" (the directive's own
    // example). Stage 1 rides the size() sugar with the id tiebreak;
    // the oracle rebuilds the same top-2 via a LEFT-JOIN degree CTE.
    QueryDef.sql(
      "graphp_cypher_topk_degree",
      """WITH deg AS (SELECT n_nationkey, n_name,
        |    count(c_custkey) AS d
        |  FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |top2 AS (SELECT * FROM deg ORDER BY d DESC, n_nationkey
        |         LIMIT 2)
        |SELECT n_name AS m_name, CAST(d AS BIGINT) AS deg
        |FROM top2 ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (n:Nation) " +
          "WITH n ORDER BY size((n)-[:HAS_CUSTOMER]->()) DESC LIMIT 2 " +
          "MATCH (n)-[:HAS_CUSTOMER]->(c) " +
          "RETURN n.name, count(c) AS deg ORDER BY n.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r16): the degree-THRESHOLD WHERE —
    // "nations with at least 60 customers". Both the `>=` cut and its
    // `<` complement run (tagged), so the boundary is pinned from BOTH
    // sides — an off-by-one or a paths-vs-nodes count drift breaks one
    // of them, and together they must partition the 25 nations. The
    // zero-degree-kept property (`< N` answers edge-less roots) is
    // pinned by TopKWithSpec on a fixture with isolated nodes.
    QueryDef.sql(
      "graphp_cypher_size_where",
      """SELECT n_name AS m_name,
        |  CASE WHEN cnt >= 60 THEN 'big' ELSE 'small' END AS bucket
        |FROM (SELECT n_name, (SELECT count(*) FROM customer
        |        WHERE c_nationkey = n_nationkey) AS cnt FROM nation)
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      val big = CypherLite.run(hierarchy(s, d),
        "MATCH (n:Nation) WHERE size((n)-[:HAS_CUSTOMER]->()) >= 60 " +
          "RETURN n.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
        .withColumn("bucket", lit("big"))
      val small = CypherLite.run(hierarchy(s, d),
        "MATCH (n:Nation) WHERE size((n)-[:HAS_CUSTOMER]->()) < 60 " +
          "RETURN n.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
        .withColumn("bucket", lit("small"))
      big.unionByName(small).orderBy("m_name")
    },

    // C10 CypherLite twin (new r16): the aggregate-then-RE-EXPAND
    // pipeline — "the 2 regions with the most nations, then list their
    // nations". Stage 1 aggregates + orders + limits (all regions tie
    // at 5 nations, so the KEY tiebreak decides — a missing or wrong
    // tiebreak hash-misses); the selected keys splice into the
    // follow-up MATCH through the UNWIND rewrite machinery.
    QueryDef.sql(
      "graphp_cypher_agg_expand",
      """WITH cnts AS (SELECT r_regionkey, r_name, count(*) AS c
        |  FROM region JOIN nation ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2),
        |top2 AS (SELECT * FROM cnts ORDER BY c DESC, r_name LIMIT 2)
        |SELECT t.r_name AS m_name, n.n_name AS c_name
        |FROM top2 t JOIN nation n ON n.n_regionkey = t.r_regionkey
        |ORDER BY m_name, c_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (r:Region)-[:HAS_NATION]->(n) " +
          "WITH r.name AS rn, count(n) AS cnt " +
          "ORDER BY cnt DESC, rn LIMIT 2 " +
          "MATCH (r2:Region {name: rn})-[:HAS_NATION]->(m) " +
          "RETURN r2.name, m.name ORDER BY r2.name, m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r16): the lookup-by-id-then-update
    // staple — id() as the WRITE path's filter (exact LONG comparison,
    // never the double lens: a 60-bit ingest id through a double would
    // match neighboring ids). The oracle rebuilds the arithmetic id.
    QueryDef.sql(
      "graphp_cypher_set_by_id",
      """SELECT CASE WHEN n_nationkey = 7 THEN 'BY_ID' ELSE n_name END
        |  AS name
        |FROM nation ORDER BY name""".stripMargin) { (s, d) =>
      CypherLite.runWrite(hierarchy(s, d),
        "MATCH (m) WHERE id(m) = 2000000007 SET m.name = 'BY_ID'")
        .fold(err => throw new IllegalArgumentException(err), _._1)
        .nodes.filter(col("label") === "Nation")
        .select(col("name")).orderBy("name")
    },

    // C10 CypherLite twin (new r17): whole-variable rename — `WITH n
    // AS x` is scope bookkeeping, normalized by substituting the alias
    // back to the bound variable (battery b27: the alias feeds the
    // tail's WHERE, a re-entry MATCH, and the RETURN). The oracle is
    // the plain filtered hop-aggregate the rename desugars to.
    QueryDef.sql(
      "graphp_cypher_with_rename",
      """SELECT n_name AS m_name,
        |  CAST(count(c_custkey) AS BIGINT) AS n_cust
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |WHERE n_name LIKE '%1%'
        |GROUP BY n_name ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (n:Nation) WITH n AS x WHERE x.name CONTAINS '1' " +
          "MATCH (x)-[:HAS_CUSTOMER]->(c) " +
          "RETURN x.name, count(c) AS n_cust ORDER BY x.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r17): top-k feeding SET (battery b38 —
    // "flag the 2 most-connected nations"): stage 1 selects by the
    // degree key with the name tiebreak, the write re-parses as the
    // id-conjunct SET. Graded by reading back exactly the flagged rows.
    QueryDef.sql(
      "graphp_cypher_topk_set",
      """SELECT name FROM (
        |  SELECT n_name AS name,
        |    CAST(count(c_custkey) AS BIGINT) AS degree
        |  FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
        |  GROUP BY n_name ORDER BY degree DESC, name LIMIT 2)
        |ORDER BY name""".stripMargin) { (s, d) =>
      CypherLite.runWrite(hierarchy(s, d),
        "MATCH (m:Nation) WITH m ORDER BY " +
          "size((m)-[:HAS_CUSTOMER]->()) DESC, m.name LIMIT 2 " +
          "SET m.content = 'HUB'")
        .fold(err => throw new IllegalArgumentException(err), _._1)
        .nodes.filter(col("label") === "Nation" &&
          col("content") === "HUB")
        .select(col("name")).orderBy("name")
    },

    // C10 CypherLite twin (new r17): top-k feeding DETACH DELETE
    // (battery b37) — the per-node cascade delete behind a top-k
    // stage: the 2 last-by-name nations go and every incident edge
    // goes with them. Graded by the surviving nations' customer-edge
    // census (a missed cascade would answer counts for ghosts; an
    // over-delete would drop surviving rows).
    QueryDef.sql(
      "graphp_cypher_topk_delete",
      """WITH del AS (SELECT n_name FROM nation
        |             ORDER BY n_name DESC LIMIT 2)
        |SELECT n_name AS name, CAST(count(c_custkey) AS BIGINT)
        |  AS n_cust
        |FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
        |WHERE n_name NOT IN (SELECT n_name FROM del)
        |GROUP BY n_name ORDER BY name""".stripMargin) { (s, d) =>
      val after = CypherLite.runWrite(hierarchy(s, d),
        "MATCH (m:Nation) WITH m ORDER BY m.name DESC LIMIT 2 " +
          "DETACH DELETE m")
        .fold(err => throw new IllegalArgumentException(err), _._1)
      val nat = after.nodes.toDF().filter(col("label") === "Nation")
        .select(col("id"), col("name"))
      val custCnt = after.edges.toDF()
        .filter(col("relType") === "HAS_CUSTOMER")
        .groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("n_cust"))
      nat.join(custCnt, Seq("id"), "left_outer")
        .select(col("name"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"))
        .orderBy("name")
    },

    // C10 CypherLite twin (new r17): degree-projection top-k stage —
    // `WITH m, size((m)-[:R]->()) AS deg ORDER BY deg DESC, m.name
    // LIMIT k RETURN …, deg` (battery b44): the computed degree rides
    // the stage AND the projection; the explicit name tiebreak (every
    // sf0.01 nation count ties rarely, names decide determinism) and
    // the final ORDER BY pin the order from both sides.
    QueryDef.sql(
      "graphp_cypher_topk_degproj",
      """WITH deg AS (SELECT n_name, CAST(count(c_custkey) AS BIGINT)
        |    AS degree
        |  FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
        |  GROUP BY n_name)
        |SELECT n_name AS m_name, degree AS deg FROM deg
        |ORDER BY degree DESC, n_name LIMIT 3""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation) WITH m, size((m)-[:HAS_CUSTOMER]->()) AS " +
          "deg ORDER BY deg DESC, m.name LIMIT 3 " +
          "RETURN m.name, deg ORDER BY deg DESC, m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r17): KEY-LESS global-aggregate
    // re-entry — `WITH count(n) AS total MATCH …` is a 1-row scalar
    // splice (battery b32): stage 1 answers one summary row and the
    // scalar re-enters the tail's result as a literal column at its
    // original RETURN position. min() rides along so a non-count type
    // (string) is pinned too.
    QueryDef.sql(
      "graphp_cypher_global_expand",
      """SELECT (SELECT CAST(count(*) AS BIGINT) FROM nation)
        |    AS n_nations,
        |  (SELECT min(n_name) FROM nation) AS first_nation,
        |  CAST(count(*) AS BIGINT) AS n_cust
        |FROM customer""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (n:Nation) WITH count(n) AS n_nations, " +
          "min(n.name) AS first_nation " +
          "MATCH (c:Customer) RETURN n_nations, first_nation, " +
          "count(c) AS n_cust")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r17): scalar-fn WITH projection —
    // `WITH size(n.name) AS len` folds into the RETURN (1:1 rows) and
    // the transformed alias becomes a GROUPING key downstream (battery
    // b36; Cypher groups by the projected expression). Wrong collation
    // (grouping on the raw column instead of the transform) answers
    // different groups and hash-misses.
    QueryDef.sql(
      "graphp_cypher_fn_group",
      """SELECT CAST(length(n_name) AS BIGINT) AS len,
        |  CAST(count(*) AS BIGINT) AS n_len
        |FROM nation GROUP BY 1 ORDER BY len""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation) WITH size(m.name) AS len " +
          "RETURN len, count(*) AS n_len ORDER BY len")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: size((m)-[:R]->()) — the degree expression
    // ("each X and its number of Y"): one row per ROOT, zero-degree roots
    // included (LEFT JOIN + count of the non-null side), the user WHERE
    // filtering roots, ORDER BY the degree alias.
    QueryDef.sql(
      "graphp_cypher_size",
      """SELECT n_name AS m_name,
        |  CAST(count(c_custkey) AS BIGINT) AS degree
        |FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
        |WHERE n_name LIKE '%1%'
        |GROUP BY n_name ORDER BY degree DESC, m_name""".stripMargin) {
      (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation) WHERE m.name CONTAINS '1' " +
          "RETURN m.name, size((m)-[:HAS_CUSTOMER]->()) " +
          "ORDER BY degree DESC")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r8): the Neo4j-5 `COUNT { (m)-[…]->() }`
    // subquery spelling of the degree expression, normalized onto the
    // size() path — same one-row-per-root zero-inclusive semantics, here
    // with an AS alias and a typed target label.
    QueryDef.sql(
      "graphp_cypher_count_sub",
      """SELECT n_name AS m_name,
        |  CAST(count(c_custkey) AS BIGINT) AS n_cust
        |FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation) RETURN m.name, " +
          "COUNT { (m)-[:HAS_CUSTOMER]->(c:Customer) } AS n_cust " +
          "ORDER BY m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r8): the comma-separated pattern list in
    // one MATCH (`MATCH p1, p2` ≡ `MATCH p1 MATCH p2`) — the linear form
    // rewrites to clause boundaries and splices into the chain plan.
    QueryDef.sql(
      "graphp_cypher_comma",
      """SELECT n_name AS n_name, CAST(count(*) AS BIGINT) AS n_c
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_c DESC, n_name LIMIT 5""".stripMargin) {
      (s, d) =>
        CypherLite.run(hierarchy(s, d),
          "MATCH (r:Region)-[:HAS_NATION]->(n:Nation), " +
            "(n)-[:HAS_CUSTOMER]->(c:Customer) " +
            "RETURN n.name, count(c) ORDER BY count(c) DESC LIMIT 5")
          .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r8): the GQL quantified-path spelling
    // `-[]->{1,2}` (Neo4j 5.9+), normalized to the *1..2 range form —
    // a region's ≤2-hop frontier is its nations plus their customers.
    QueryDef.sql(
      "graphp_cypher_gql_range",
      """SELECT r_name AS m_name,
        |  CAST((SELECT count(*) FROM nation
        |        WHERE n_regionkey = r_regionkey)
        |     + (SELECT count(*) FROM customer JOIN nation
        |          ON c_nationkey = n_nationkey
        |        WHERE n_regionkey = r_regionkey) AS BIGINT) AS n_connected
        |FROM region ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Region)-[]->{1,2}(c) RETURN m.name, count(c) " +
          "ORDER BY m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: WITH … sum(c.prop) … WHERE — the numeric
    // HAVING pipeline over an aggregate other than count ("nations whose
    // total X exceeds N"). Identity grouping, the alias keys the ORDER BY,
    // and the threshold actually splits the distribution at sf0.01.
    QueryDef.sql(
      "graphp_cypher_with_sum",
      """SELECT n_name AS m_name, CAST(sum(c_custkey) AS DOUBLE) AS total
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY n_name HAVING sum(c_custkey) > 45000
        |ORDER BY total DESC, m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation)-[:HAS_CUSTOMER]->(c) " +
          "WITH m, sum(c.name) AS total WHERE total > 45000 " +
          "RETURN m.name, total ORDER BY total DESC")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: WITH-stage ORDER BY + LIMIT — the top-k-groups
    // emission (`WITH m, count(c) AS n ORDER BY n DESC LIMIT 5 RETURN …`).
    // The ordering keys the aggregate alias and the limit picks WHICH
    // groups survive on both engines; the engine's implicit grouping-prop
    // tiebreak is mirrored in the oracle's ORDER BY so rank-boundary ties
    // cannot hash-diverge.
    QueryDef.sql(
      "graphp_cypher_with_topk",
      """SELECT n_name AS m_name, CAST(count(*) AS BIGINT) AS n_cust
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_cust DESC, m_name LIMIT 5""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation)-[:HAS_CUSTOMER]->(c) " +
          "WITH m, count(c) AS n_cust ORDER BY n_cust DESC LIMIT 5 " +
          "RETURN m.name, n_cust")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: MULTI-aggregate WITH — `WITH m, count(c) AS n,
    // sum(c.v) AS s, min(c.v) AS lo WHERE n ≥ k` (the LLM-emitted HAVING
    // form with several aggregates in one pipeline stage). All three
    // evaluate in ONE grouped pass; the HAVING filters the count alias
    // while ORDER BY keys on the sum alias — alias→column routing, not
    // first-aggregate defaults, on both clauses. min keeps string
    // collation, mirrored by the VARCHAR cast.
    QueryDef.sql(
      "graphp_cypher_with_multi",
      """SELECT n_name AS m_name, CAST(count(*) AS BIGINT) AS n_cu,
        |  CAST(sum(c_custkey) AS DOUBLE) AS total,
        |  min(CAST(c_custkey AS VARCHAR)) AS lo
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY n_name HAVING count(*) >= 60
        |ORDER BY total DESC, m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation)-[:HAS_CUSTOMER]->(c) " +
          "WITH m, count(c) AS n_cu, sum(c.name) AS total, " +
          "min(c.name) AS lo WHERE n_cu >= 60 " +
          "RETURN m.name, n_cu, total, lo ORDER BY total DESC")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r15, directive 3): `WITH DISTINCT` on the
    // FIRST stage — the LLM dedup idiom `MATCH … WITH DISTINCT m.name AS
    // x RETURN count(*)`. The stage is the aggregate-free special case
    // (a dropDuplicates on the stage columns, synthesized as RETURN
    // DISTINCT); the closing global count is what makes the dedup
    // OBSERVABLE — without DISTINCT this would count customer bindings
    // (~hundreds), with it the distinct nation names. An engine that
    // dropped the dedup or grouped instead would hash-miss on the
    // single-row answer.
    QueryDef.sql(
      "graphp_cypher_with_distinct_first",
      """SELECT CAST(count(*) AS BIGINT) AS n_nations FROM (
        |  SELECT DISTINCT n_name
        |  FROM nation JOIN customer ON c_nationkey = n_nationkey)
        |""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation)-[:HAS_CUSTOMER]->(c) " +
          "WITH DISTINCT m.name AS nation " +
          "RETURN count(*) AS n_nations")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: CHAINED WITH stages — aggregate → re-aggregate
    // (`WITH m, count(c) AS n WITH n, count(*) AS n_nations`), the
    // customers-per-nation HISTOGRAM. Two grouped passes, each a
    // distributed hash aggregate on its stage's keys; the final ORDER BY
    // keys the carried stage-1 alias.
    QueryDef.sql(
      "graphp_cypher_with_chain",
      """SELECT n, CAST(count(*) AS BIGINT) AS n_nations FROM (
        |  SELECT CAST(count(*) AS BIGINT) AS n
        |  FROM customer GROUP BY c_nationkey)
        |GROUP BY n ORDER BY n""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation)-[:HAS_CUSTOMER]->(c) " +
          "WITH m, count(c) AS n WITH n, count(*) AS n_nations " +
          "RETURN n, n_nations ORDER BY n")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: chained WITH with a RE-FILTER stage and a
    // GLOBAL closing aggregate — `WITH m, count(c) AS n WHERE n >= k
    // WITH n WHERE n <= k2 WITH sum(n) AS total` (aggregate → filter →
    // filter → re-aggregate, the reference's NL→Cypher loop shape,
    // first-graph.py:141-144). One summary row on both engines.
    QueryDef.sql(
      "graphp_cypher_with_chain_sum",
      """SELECT CAST(sum(n) AS BIGINT) AS total,
        |  CAST(count(*) AS BIGINT) AS n_groups FROM (
        |  SELECT count(*) AS n FROM customer GROUP BY c_nationkey
        |  HAVING count(*) >= 50)
        |WHERE n <= 70""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation)-[:HAS_CUSTOMER]->(c) " +
          "WITH m, count(c) AS n WHERE n >= 50 WITH n WHERE n <= 70 " +
          "WITH sum(n) AS total, count(*) AS n_groups " +
          "RETURN total, n_groups")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: IMPLICIT re-aggregation in the RETURN after a
    // WITH (`WITH m, count(c) AS n RETURN n, count(*) AS n_nations`) —
    // the form LLMs emit instead of a second WITH; per Cypher's grouping
    // rule the non-aggregate RETURN items become the keys of an implicit
    // closing stage. Same answer as the explicit two-WITH chain.
    QueryDef.sql(
      "graphp_cypher_with_agg_return",
      """SELECT n, CAST(count(*) AS BIGINT) AS n_nations FROM (
        |  SELECT CAST(count(*) AS BIGINT) AS n
        |  FROM customer GROUP BY c_nationkey)
        |GROUP BY n ORDER BY n""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation)-[:HAS_CUSTOMER]->(c) " +
          "WITH m, count(c) AS n " +
          "RETURN n, count(*) AS n_nations ORDER BY n")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: `WITH DISTINCT` projection stage mid-chain —
    // dedupe the per-nation counts, then count the distinct values
    // (openCypher's DISTINCT subclause on a non-aggregating WITH).
    QueryDef.sql(
      "graphp_cypher_with_distinct",
      """SELECT CAST(count(DISTINCT n) AS BIGINT) AS n_distinct FROM (
        |  SELECT count(*) AS n FROM customer
        |  GROUP BY c_nationkey)""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation)-[:HAS_CUSTOMER]->(c) " +
          "WITH m, count(c) AS n WITH DISTINCT n " +
          "WITH count(*) AS n_distinct RETURN n_distinct")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: SEVERAL aggregates in one grouped query (the
    // LLM staple `RETURN x, count(y), min(y), sum(y)`), all evaluated in
    // one partial+final hash aggregate, ORDER BY an aliased aggregate.
    // min(c.name) keeps STRING collation ('10' < '9'), which the oracle
    // mirrors with a VARCHAR cast — a numeric-min regression hash-misses.
    QueryDef.sql(
      "graphp_cypher_multi_agg",
      """SELECT n_name AS m_name, CAST(count(*) AS BIGINT) AS n_cu,
        |  min(CAST(c_custkey AS VARCHAR)) AS lo,
        |  CAST(sum(c_custkey) AS DOUBLE) AS total
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_cu DESC, m_name LIMIT 7""".stripMargin) {
      (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation)-[:HAS_CUSTOMER]->(c) " +
          "RETURN m.name, count(c) AS n_cu, min(c.name) AS lo, " +
          "sum(c.name) AS total ORDER BY n_cu DESC LIMIT 7")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: count(DISTINCT c.prop) — property-VALUE
    // counting per group ("how many kinds of X under Y"). Depth 2 from a
    // region reaches nations and customers, so the distinct label count
    // is exactly 2 while the plain value count is the binding count — a
    // bindings-counting regression would answer the same number twice.
    QueryDef.sql(
      "graphp_cypher_count_prop",
      """SELECT r_name AS m_name, CAST(2 AS BIGINT) AS kinds
        |FROM region ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Region)-[*1..2]->(c) " +
          "RETURN m.name, count(DISTINCT c.label) AS kinds ORDER BY m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin: the WRITE surface's SET form — the front-end
    // road to the same A18 join-update kernel graphp_set_content grades
    // directly. The summary is the updated result set; the WHERE prunes
    // the matched nodes before the update.
    QueryDef.sql(
      "graphp_cypher_set",
      """SELECT 'Nation' AS m_label, n_name AS m_name,
        |  'audited' AS m_content
        |FROM nation WHERE n_name LIKE '%1%'
        |ORDER BY m_label, m_name, m_content""".stripMargin) { (s, d) =>
      CypherLite.runWrite(hierarchy(s, d),
        "MATCH (m:Nation) WHERE m.name CONTAINS '1' " +
          "SET m.content = 'audited'")
        .fold(err => throw new IllegalArgumentException(err), _._2)
    },

    // C10 CypherLite twin (new r15, directive 6): `SET m.name = …` —
    // the node-property write generalized past content (the engine's
    // user columns are content/name/docnbr; label/batch stay engine
    // kind/lineage columns and reject with a model pointer). Graded on
    // the FULL post-write node relation, not the summary, so a write
    // that leaked onto unmatched rows — or missed a matched one —
    // hash-misses. The node id is NOT re-keyed (same caveat as
    // content, documented on the statement).
    QueryDef.sql(
      "graphp_cypher_set_name",
      """SELECT CASE WHEN n_name LIKE '%1%' THEN 'N_REDACTED'
        |    ELSE n_name END AS name
        |FROM nation ORDER BY name""".stripMargin) { (s, d) =>
      CypherLite.runWrite(hierarchy(s, d),
        "MATCH (m:Nation) WHERE m.name CONTAINS '1' " +
          "SET m.name = 'N_REDACTED'")
        .fold(err => throw new IllegalArgumentException(err), _._1)
        .nodes.filter(col("label") === "Nation")
        .select(col("name")).orderBy("name")
    },

    // C10 CypherLite twin: the WRITE surface's CREATE form — a
    // deterministic-id node upserted via the A11 MERGE kernel; the
    // summary is the created node's image (exactly one row, whatever the
    // graph's size, and idempotent under re-runs).
    QueryDef.sql(
      "graphp_cypher_create",
      """SELECT 'Meta' AS m_label, 'audit-note' AS m_name,
        |  'round8' AS m_content""".stripMargin) { (s, d) =>
      CypherLite.runWrite(hierarchy(s, d),
        "CREATE (n:Meta {name: 'audit-note', content: 'round8'})")
        .fold(err => throw new IllegalArgumentException(err), _._2)
    },

    // B6 CypherLite twin: two INDEPENDENT MATCH patterns (Cypher's
    // cartesian composition — the entity-comparison form). The
    // cross-variable `<` makes ordered nation pairs; the literal filter
    // on `a` prunes one side before the join. Catalyst turns the
    // cross-join + predicate into one distributed join — never a
    // driver-side loop.
    QueryDef.sql(
      "graphp_cypher_dual_match",
      """SELECT a.n_name AS a_name, b.n_name AS b_name
        |FROM nation a, nation b
        |WHERE a.n_name < b.n_name AND a.n_name LIKE '%2%'
        |ORDER BY a_name, b_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (a:Nation) MATCH (b:Nation) " +
          "WHERE a.name < b.name AND a.name CONTAINS '2' " +
          "RETURN a.name, b.name ORDER BY a.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: dual MATCH with a cross-variable EQUALITY —
    // the shape where the cartesian composition MUST collapse into one
    // distributed equi-join (Catalyst pushes the `=` into the join
    // condition; PlanShapeSpec asserts no nested-loop survives). The
    // extra literal filter keeps one side pruned before the join.
    QueryDef.sql(
      "graphp_cypher_dual_match_eq",
      """SELECT a.n_name AS a_name, b.n_name AS b_name
        |FROM nation a, nation b
        |WHERE a.n_name = b.n_name AND a.n_name LIKE '%A%'
        |ORDER BY a_name, b_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (a:Nation) MATCH (b:Nation) " +
          "WHERE a.name = b.name AND a.name CONTAINS 'A' " +
          "RETURN a.name, b.name ORDER BY a.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 write surface (new r11): the reference's relationship write —
    // dual MATCH + forward/reverse edge MERGE (`new_final.js:34-38`) —
    // through CypherLite.runWrite. The statement runs TWICE so the graded
    // answer also certifies MERGE idempotence (the second run's anti-join
    // on the (src, dst, relType) key adds nothing). Output: full edge
    // census by relType.
    QueryDef.sql(
      "graphp_cypher_merge_edge",
      """SELECT rel_type, n FROM (
        |  SELECT 'BORDERS' AS rel_type, CAST(2 AS BIGINT) AS n
        |  UNION ALL SELECT 'HAS_NATION', count(*) FROM nation
        |  UNION ALL SELECT 'HAS_CUSTOMER', count(*) FROM customer
        |  UNION ALL SELECT 'HAS_ORDER', count(*) FROM orders)
        |ORDER BY rel_type""".stripMargin) { (s, d) =>
      val stmt =
        "MATCH (a:Region {name: 'ASIA'}), (b:Region {name: 'AFRICA'}) " +
          "MERGE (a)-[:BORDERS]->(b) MERGE (b)-[:BORDERS]->(a)"
      val once = CypherLite.runWrite(hierarchy(s, d), stmt)
        .fold(err => throw new IllegalArgumentException(err), identity)._1
      val twice = CypherLite.runWrite(once, stmt)
        .fold(err => throw new IllegalArgumentException(err), identity)._1
      twice.edges.groupBy("relType").agg(count(lit(1)).as("n"))
        .select(col("relType").as("rel_type"), col("n"))
        .orderBy("rel_type")
    },

    // C10 write surface (new r11): the reference's WHOLE ingest loop as a
    // parameterized script — per entity, a batch-tagged node MERGE then
    // the parent's forward/reverse edge MERGE pair
    // (`new_final.js:15-47`), executed by runScript's TWO-PHASE batched
    // plan (statements become rows; one node upsert + one edge upsert,
    // O(1) Spark jobs in script length). The driver-side statement build
    // is |nation| = 25 rows — the same bounded per-tag loop the reference
    // runs, not a data collect. Graded on the final (entity, n) census.
    QueryDef.sql(
      "graphp_cypher_write_script",
      """SELECT entity, n FROM (
        |  SELECT 'node:Region' AS entity, CAST(count(*) AS BIGINT) AS n
        |    FROM region
        |  UNION ALL SELECT 'node:Nation', count(*) FROM nation
        |  UNION ALL SELECT 'node:Customer', count(*) FROM customer
        |  UNION ALL SELECT 'node:Order', count(*) FROM orders
        |  UNION ALL SELECT 'node:Province', count(*) FROM nation
        |  UNION ALL SELECT 'edge:HAS_NATION', count(*) FROM nation
        |  UNION ALL SELECT 'edge:HAS_CUSTOMER', count(*) FROM customer
        |  UNION ALL SELECT 'edge:HAS_ORDER', count(*) FROM orders
        |  UNION ALL SELECT 'edge:HAS_PROVINCE', count(*) FROM nation
        |  UNION ALL SELECT 'edge:PROVINCE_OF', count(*) FROM nation)
        |ORDER BY entity""".stripMargin) { (s, d) =>
      // bounded driver loop: one (nation, region) row per statement pair,
      // 25 rows total — mirrors the reference's per-XML-tag iteration
      val pairs = Tables.nation(s, d)
        .join(Tables.region(s, d),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_name", "r_name").collect()
        .map(r => (r.getString(0), r.getString(1)))
      val script = pairs.toSeq.flatMap { case (nName, rName) =>
        Seq(
          ("MERGE (c:Province:ProvBatch {name: $name, content: $content})",
            Map("name" -> nName, "content" -> s"prov of $rName")),
          ("MATCH (p:Region {name: $parentName}), " +
            "(c:Province:ProvBatch {name: $childName}) " +
            "MERGE (p)-[:HAS_PROVINCE]->(c) MERGE (c)-[:PROVINCE_OF]->(p)",
            Map("parentName" -> rName, "childName" -> nName)))
      }
      CypherLite.runScript(hierarchy(s, d), script)
        .fold(err => throw new IllegalArgumentException(err), identity)._2
    },

    // B6 CypherLite twin: a THREE-step chain spanning the full
    // region→nation→customer→order hierarchy ("orders of customers in
    // nations of each region" — the N-step scanner path; the two-step
    // regex cannot parse this). The middle WHERE prunes the second
    // frontier, and count(o) tallies order bindings per region.
    QueryDef.sql(
      "graphp_cypher_chain3",
      """SELECT r_name AS r_name, CAST(count(*) AS BIGINT) AS n_o
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |WHERE n_name LIKE '%1%'
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (r:Region)-[:HAS_NATION]->(n:Nation)" +
          "-[:HAS_CUSTOMER]->(cu:Customer)-[:HAS_ORDER]->(o:Order) " +
          "WHERE n.name CONTAINS '1' " +
          "RETURN r.name, count(o) ORDER BY r.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin: aggregate over the chain — "top nations by
    // customer count" through the full region→nation→customer pattern,
    // grouped by the middle variable's property with ORDER BY the
    // aggregate (ties broken by the grouping key on both engines).
    QueryDef.sql(
      "graphp_cypher_chain_count",
      """SELECT n_name AS n_name, CAST(count(*) AS BIGINT) AS n_cu
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_cu DESC, n_name LIMIT 5""".stripMargin) {
      (s, d) =>
        CypherLite.run(hierarchy(s, d),
          "MATCH (r:Region)-[:HAS_NATION]->(n:Nation)" +
            "-[:HAS_CUSTOMER]->(cu:Customer) " +
            "RETURN n.name, count(cu) ORDER BY count(cu) DESC LIMIT 5")
          .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r8): consecutive MATCH clauses sharing a
    // variable — Cypher's multi-clause join composition in its linear
    // form, spliced into the equivalent chain pattern at parse time (the
    // same frontier-join plan as graphp_cypher_chain_count; this twin
    // proves the multi-MATCH SPELLING reaches it).
    QueryDef.sql(
      "graphp_cypher_match_merge",
      """SELECT r_name AS r_name, CAST(count(*) AS BIGINT) AS n_cu
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (r:Region)-[:HAS_NATION]->(n:Nation) " +
          "MATCH (n)-[:HAS_CUSTOMER]->(cu:Customer) " +
          "RETURN r.name, count(cu) ORDER BY r.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r8): bare-variable pass-through WITH
    // between MATCH clauses (`MATCH (r:Region) WITH r MATCH (r)-[…]->`) —
    // pure variable plumbing dropped at parse time, so the spelling lands
    // in the same spliced-chain plan as graphp_cypher_match_merge.
    QueryDef.sql(
      "graphp_cypher_with_match",
      """SELECT r_name AS m_name, CAST(count(*) AS BIGINT) AS n_connected
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (r:Region) WITH r MATCH (r)-[:HAS_NATION]->(n:Nation) " +
          "RETURN r.name, count(n) ORDER BY r.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r8): WHERE comparisons AND-combined with a
    // pattern-existence predicate ("X matching a filter, with a Y") — the
    // comparison filters the root scan and the pattern conjoins as the
    // same semi-join, one distributed plan.
    QueryDef.sql(
      "graphp_cypher_exists_and",
      """SELECT CAST(c_custkey AS VARCHAR) AS m_name
        |FROM customer
        |WHERE ends_with(CAST(c_custkey AS VARCHAR), '7')
        |  AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Customer) WHERE m.name ENDS WITH '7' " +
          "AND (m)-[:HAS_ORDER]->() RETURN m.name ORDER BY m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r8): the MERGE write form — match-or-create
    // through the same deterministic-id upsert kernel as CREATE (A11/A12);
    // the summary is the merged node's image, one row whatever the graph's
    // size, idempotent under re-runs.
    QueryDef.sql(
      "graphp_cypher_merge",
      """SELECT 'Meta' AS m_label, 'merge-note' AS m_name,
        |  'round8' AS m_content""".stripMargin) { (s, d) =>
      CypherLite.runWrite(hierarchy(s, d),
        "MERGE (n:Meta {name: 'merge-note', content: 'round8'})")
        .fold(err => throw new IllegalArgumentException(err), _._2)
    },

    // C10 write surface (new r12): branch-aware MERGE — ON CREATE SET /
    // ON MATCH SET, the standard Neo4j upsert idiom one step past the
    // reference's plain MERGE (`new_final.js:22-31`). The SAME statement
    // runs twice: run 1 must take the CREATE branch (node absent →
    // content 'created-r12'), run 2 over the mutated graph must take the
    // MATCH branch (content flips to 'matched-r12') — both branches are
    // graded in one answer, tagged by run. The branch decision is
    // set-wise (anti/semi join on the MERGE key against the pre-merge
    // image), never a driver probe.
    QueryDef.sql(
      "graphp_cypher_merge_onset",
      """SELECT * FROM (
        |  SELECT 1 AS run, 'Meta' AS m_label, 'onset-note' AS m_name,
        |    'created-r12' AS m_content
        |  UNION ALL
        |  SELECT 2, 'Meta', 'onset-note', 'matched-r12')
        |ORDER BY run""".stripMargin) { (s, d) =>
      val q = "MERGE (n:Meta {name: 'onset-note'}) " +
        "ON CREATE SET n.content = 'created-r12' " +
        "ON MATCH SET n.content = 'matched-r12'"
      val (g1, s1) = CypherLite.runWrite(hierarchy(s, d), q)
        .fold(err => throw new IllegalArgumentException(err), identity)
      // run 2 consumes run 1's node relation several times (anti/semi
      // branch joins, the upsert, the content update, its summary); a
      // lazy checkpoint materializes run 1's whole-graph plan once
      // instead of replaying it per consumer
      val g1m = GraphTables(g1.nodes.localCheckpoint(false), g1.edges)
      val s2 = CypherLite.runWrite(g1m, q)
        .fold(err => throw new IllegalArgumentException(err), _._2)
      s1.withColumn("run", lit(1))
        .unionByName(s2.withColumn("run", lit(2)))
        .select(col("run"), col("m_label"), col("m_name"), col("m_content"))
        .orderBy("run")
    },

    // C10 write surface (new r13): the RELATIONSHIP-side branch-aware
    // MERGE — ON CREATE SET / ON MATCH SET on an edge pattern, completing
    // the write-surface symmetry with graphp_cypher_merge_onset (round-13
    // directive 5). The SAME statement runs twice over the region
    // hierarchy: run 1 must take the CREATE branch (edge absent → state
    // 'created-r13', inline lane '2' riding along), run 2 over the
    // mutated graph must take the MATCH branch (state flips to
    // 'matched-r13' while lane survives — the join-update overwrites ONE
    // key of the schemaless props map). Both branches graded in one
    // answer, tagged by run; branch decision is set-wise (anti/semi join
    // on the edge MERGE key against the pre-merge image).
    QueryDef.sql(
      "graphp_cypher_merge_edge_onset",
      """SELECT * FROM (
        |  SELECT 1 AS run, 'ONSET_LINK' AS relType,
        |    'created-r13' AS r_state, '2' AS r_lane,
        |    CAST(1 AS BIGINT) AS n_edges
        |  UNION ALL
        |  SELECT 2, 'ONSET_LINK', 'matched-r13', '2', CAST(1 AS BIGINT))
        |ORDER BY run""".stripMargin) { (s, d) =>
      val q = "MATCH (a:Region {name: 'AFRICA'}) " +
        "MATCH (b:Region {name: 'ASIA'}) " +
        "MERGE (a)-[r:ONSET_LINK {lane: '2'}]->(b) " +
        "ON CREATE SET r.state = 'created-r13' " +
        "ON MATCH SET r.state = 'matched-r13'"
      def summary(g: GraphTables): org.apache.spark.sql.DataFrame =
        g.edges.toDF().filter(col("relType") === "ONSET_LINK")
          .select(col("relType"),
            element_at(col("props"), "state").as("r_state"),
            element_at(col("props"), "lane").as("r_lane"))
          .groupBy("relType", "r_state", "r_lane")
          .agg(count(lit(1)).as("n_edges"))
      val (g1, _) = CypherLite.runWrite(hierarchy(s, d), q)
        .fold(err => throw new IllegalArgumentException(err), identity)
      // run 2 consumes run 1's edge relation several times (the branch
      // joins, the upsert, the prop update, the summary); a lazy
      // checkpoint materializes run 1's plan once per consumer set
      val g1m = GraphTables(g1.nodes, g1.edges.localCheckpoint(false))
      val g2 = CypherLite.runWrite(g1m, q)
        .fold(err => throw new IllegalArgumentException(err), _._1)
      summary(g1).withColumn("run", lit(1))
        .unionByName(summary(g2).withColumn("run", lit(2)))
        .select(col("run"), col("relType"), col("r_state"), col("r_lane"),
          col("n_edges"))
        .orderBy("run")
    },

    // B6 CypherLite twin (new r8): the modern EXISTS { … } existential-
    // subquery spelling, normalized to the same semi-join plan as the
    // bare pattern-existence predicate — here over a MULTI-hop target-
    // label pattern on the full hierarchy (nations whose subtree reaches
    // an Order within 2 hops).
    QueryDef.sql(
      "graphp_cypher_exists_brace",
      """SELECT DISTINCT n_name AS m_name
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation) WHERE EXISTS { MATCH (m)-[*1..2]->(:Order) } " +
          "RETURN m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // C10 CypherLite twin (new r8): allShortestPaths — endpoint-projection
    // semantics make it coincide with shortestPath (one row per connected
    // pair at min length); graded with a BOUNDED range on the cyclic
    // chain so the frontier must stop exactly at depth 3 (wrap-around
    // distances beyond the bound must be absent).
    QueryDef.sql(
      "graphp_cypher_allshortest",
      """WITH r AS (SELECT n_name, n_regionkey,
        |    row_number() OVER (PARTITION BY n_regionkey
        |      ORDER BY n_nationkey) AS pos,
        |    count(*) OVER (PARTITION BY n_regionkey) AS k
        |  FROM nation),
        |a AS (SELECT * FROM r WHERE n_name = 'NATION_1')
        |SELECT b.n_name AS b_name,
        |  CAST((((b.pos - a.pos) % b.k) + b.k) % b.k AS INT) AS path_len
        |FROM r b JOIN a ON b.n_regionkey = a.n_regionkey
        |WHERE b.n_name <> a.n_name
        |  AND (((b.pos - a.pos) % b.k) + b.k) % b.k <= 3
        |ORDER BY b_name""".stripMargin) { (s, d) =>
      CypherLite.run(chain(s, d),
        "MATCH p = allShortestPaths((a:Nation {name: 'NATION_1'})" +
          "-[:HAS_NEXT*1..3]->(b:Nation)) " +
          "RETURN b.name, length(p) ORDER BY b.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin (new r8): scalar string functions in RETURN —
    // toLower/size/replace/substring transform the projection BEFORE
    // ordering (ORDER BY the fn alias sorts by the transformed value);
    // substring is 0-BASED per Cypher, graded against DuckDB's 1-based
    // substr, so an off-by-one in the desugar hash-misses.
    QueryDef.sql(
      "graphp_cypher_scalar_fns",
      """SELECT lower(n_name) AS lname,
        |  CAST(length(n_name) AS BIGINT) AS size_name,
        |  replace(n_name, 'NATION', 'N') AS short_name,
        |  substr(n_name, 1, 6) AS prefix6
        |FROM nation ORDER BY lname""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation) RETURN toLower(m.name) AS lname, size(m.name), " +
          "replace(m.name, 'NATION', 'N') AS short_name, " +
          "substring(m.name, 0, 6) AS prefix6 ORDER BY lname")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin (new r8): searched CASE in RETURN — the
    // categorization staple, first-true-WHEN-wins with an ELSE default;
    // graded row-by-row against SQL CASE so branch-order or fall-through
    // bugs hash-miss (names containing both '1' and '2' must take the
    // FIRST branch).
    QueryDef.sql(
      "graphp_cypher_case",
      """SELECT n_name AS m_name,
        |  CASE WHEN n_name LIKE '%1%' THEN 'has-one'
        |       WHEN n_name LIKE '%2%' THEN 'has-two'
        |       ELSE 'rest' END AS bucket
        |FROM nation ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Nation) RETURN m.name, " +
          "CASE WHEN m.name CONTAINS '1' THEN 'has-one' " +
          "WHEN m.name CONTAINS '2' THEN 'has-two' " +
          "ELSE 'rest' END AS bucket ORDER BY m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B6 CypherLite twin (new r8): toInteger/toFloat conversions — the
    // try_cast lens (null on non-numeric, never a throw), graded against
    // SQL CASTs of the numeric customer keys.
    QueryDef.sql(
      "graphp_cypher_to_number",
      """SELECT CAST(c_custkey AS VARCHAR) AS m_name,
        |  CAST(c_custkey AS BIGINT) AS int_name,
        |  CAST(c_custkey AS DOUBLE) AS float_name
        |FROM customer WHERE CAST(c_custkey AS VARCHAR) LIKE '1%'
        |ORDER BY m_name""".stripMargin) { (s, d) =>
      CypherLite.run(hierarchy(s, d),
        "MATCH (m:Customer) WHERE m.name STARTS WITH '1' " +
          "RETURN m.name, toInteger(m.name) AS int_name, " +
          "toFloat(m.name) AS float_name ORDER BY m.name")
        .fold(err => throw new IllegalArgumentException(err), identity)
    },

    // B9 viz-export twin: (src name, relType, dst name) renderer feed.
    QueryDef.sql(
      "graphp_viz_export",
      """SELECT 'Region:' || r_name AS src_node, 'HAS_NATION' AS relType,
        |  'Nation:' || n_name AS dst_node
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |ORDER BY src_node, relType, dst_node""".stripMargin) { (s, d) =>
      val g = hierarchy(s, d)
      val names = g.nodes.select(col("id"),
        concat_ws(":", col("label"), col("name")).as("node"))
      g.edges.toDF().filter(col("relType") === "HAS_NATION")
        .join(names.withColumnRenamed("node", "src_node")
          .withColumnRenamed("id", "src"), Seq("src"))
        .join(names.withColumnRenamed("node", "dst_node")
          .withColumnRenamed("id", "dst"), Seq("dst"))
        .select("src_node", "relType", "dst_node")
        .orderBy("src_node", "relType", "dst_node")
    }
  )
}
