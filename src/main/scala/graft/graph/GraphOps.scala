package graft.graph

import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph query/maintenance operators over the nodes/edges relations
  * (SURVEY.md §2.D): the Cypher-equivalent surface the reference delegates
  * to Neo4j (`first-graph.py:29-36,141`), re-expressed as DataFrame plans +
  * GraphX kernels.
  */
object GraphOps {

  /** Free the executor blocks a `localCheckpoint`ed relation pins.
    * `Dataset.unpersist` only clears CacheManager entries (persist/
    * cache); a local checkpoint's blocks belong to the INTERNAL RDD
    * behind the plan's `LogicalRDD` leaf and are never registered with
    * the CacheManager, so they must be unpersisted on that RDD
    * directly. Only for relations that are truly dead: a local
    * checkpoint truncates lineage, so freed blocks are unrecoverable.
    */
  private[graph] def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => df.unpersist()
    }

  /** Materialize `df` as a LOCAL checkpoint and return it with its row
    * count, in ONE Spark job: the lazy checkpoint's first action (the
    * count) caches the partitions and truncates lineage, replacing the
    * eager-checkpoint-then-isEmpty pair every loop iteration otherwise
    * pays — two jobs plus an AQE replanning gap each, measured r17 at
    * ~40-80 ms of pure scheduling overhead per iteration on small
    * frontiers (guide §1: most of an iterative kernel's bench wall was
    * inter-job gaps, not compute).
    */
  private[graft] def materializeCount(df: DataFrame): (DataFrame, Long) = {
    val cp = df.localCheckpoint(eager = false)
    (cp, cp.count())
  }

  /** The NEW rows a MERGE of `incoming` into `existing` would add —
    * anti-joins on the MERGE keys (node `id`; edge `(src, dst,
    * relType)`). This is both [[upsert]]'s work set and the O(batch)
    * payload an incremental commit ([[GraphStore.saveDelta]]) writes.
    */
  def upsertDelta(existing: GraphTables, incoming: GraphTables)
      : GraphTables = {
    val newNodes = incoming.nodes
      .join(existing.nodes.select("id"), Seq("id"), "left_anti")
      .as(existing.nodes.encoder)
    val edgeKey = Seq("src", "dst", "relType")
    val newEdges = incoming.edges
      .join(existing.edges.select(edgeKey.map(col): _*), edgeKey, "left_anti")
      .as(existing.edges.encoder)
    GraphTables(newNodes, newEdges)
  }

  /** MERGE-style idempotent upsert (Q7; reference `new_final.js:22-40`):
    * deterministic ids turn "match or create" into a left-anti join + union
    * — no per-row lookups, one shuffle, safe at any scale.
    */
  def upsert(existing: GraphTables, incoming: GraphTables): GraphTables = {
    val d = upsertDelta(existing, incoming)
    // by-name union: a graph loaded from the partitioned store carries its
    // partition column (`batch`) LAST, so positional union would silently
    // misalign columns between a loaded graph and a freshly-built one
    GraphTables(existing.nodes.unionByName(d.nodes),
      existing.edges.unionByName(d.edges))
  }

  /** Tag-predicate cascade delete (Q8/A19; `deleteneo.py:10-12`): drop the
    * batch's nodes, then DETACH by keeping only edges whose BOTH endpoints
    * survive (two semi-joins). With nodes parquet partitioned by `batch`
    * the node side is partition pruning, not a scan.
    */
  /** Per-node cascade delete (r17 — `MATCH (n…) DETACH DELETE n`):
    * the target nodes go and every INCIDENT edge goes with them — one
    * anti-join on the node table and two on the edge table (src, then
    * dst), never a per-node probe. `targetIds` is an `id` column of
    * any size; small sets broadcast under AQE, large sets shuffle-join
    * — either way one distributed plan.
    */
  def deleteNodes(g: GraphTables, targetIds: DataFrame): GraphTables = {
    val ids = targetIds.select("id")
    val nodes = g.nodes.join(ids, Seq("id"), "left_anti")
      .as(g.nodes.encoder)
    val edges = g.edges
      .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
      .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
      .as(g.edges.encoder)
    GraphTables(nodes, edges)
  }

  def dropBatch(g: GraphTables, batch: String): GraphTables = {
    val nodes = g.nodes.filter(col("batch") =!= batch)
    val ids = nodes.select("id")
    val edges = g.edges.filter(col("batch") =!= batch)
      .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      .as(g.edges.encoder)
    GraphTables(nodes, edges)
  }

  /** `MATCH (n:Label {name: $v})` (Q1; `first-graph.py:63-136`). */
  def matchNodes(g: GraphTables, label: String, name: String): DataFrame =
    g.nodes.filter(col("label") === label && col("name") === name).toDF()

  /** Single-hop expansion (Q2): `(a)-[:T]->(b)` with optional relationship
    * type filter; direction "out" follows edges, "in" reverses them.
    */
  def expand(g: GraphTables, nodeIds: DataFrame, relType: Option[String],
      direction: String = "out"): DataFrame = {
    val base = relType.map(t => g.edges.filter(col("relType") === t))
      .getOrElse(g.edges)
    val edges =
      if (direction == "out") base.select(col("src"), col("dst"))
      else base.select(col("dst").as("src"), col("src").as("dst"))
    nodeIds.select(col("id").as("src")).join(edges.toDF(), Seq("src"))
      .select(col("src").as("from_id"), col("dst").as("to_id"))
  }

  /** Flush cadence for [[bfs]]'s visited set: the anti-join tolerates a
    * visited set up to this many frontiers stale (a pair re-discovered
    * inside the window is re-expanded at most once more before the next
    * flush absorbs it), so the O(|visited|) materialization runs every few
    * rounds instead of every round.
    */
  val VisitedCheckpointEvery: Int = 4

  /** Minimum-depth BFS from many seeds at once — the one frontier kernel
    * behind the k-hop expansion (Q3/J11; `first-graph.py:141` — "up to
    * three levels deep in the downward direction"), unbounded closure,
    * CypherLite's `shortestPath` and the J11 BFS twins. `seeds` holds
    * `(root_id, node_id)` pairs: a per-root search seeds each root as its
    * own pair; a multi-source single distance seeds every source under ONE
    * constant `root_id`, so its state stays O(|V|), not |roots|×|V|.
    * `relFilter` picks the edges (default: downward containment `HAS_*`,
    * excluding the synthetic reverse edges); `maxDepth` bounds the search.
    *
    * Each round is one superstep: frontier ⋈ edges, deduplicated, then
    * anti-joined against the last FLUSHED visited set, materialized with
    * its row count as the emptiness probe — one job. The visited set
    * flushes every [[VisitedCheckpointEvery]] rounds. Before the first
    * flush nothing is anti-joined, so a search bounded at k ≤
    * [[VisitedCheckpointEvery]] is a plain iterated equi-join. The last
    * bounded hop skips materialization: the closing aggregate consumes it
    * exactly once. A pair re-discovered inside a stale window re-enters at
    * a LARGER depth, so the closing min-aggregate, not the anti-join, owns
    * depth correctness.
    *
    * Termination when unbounded, on any graph, cycles included: visited
    * only grows, and every frontier row is a pair outside the last flushed
    * set. So a flush window whose first frontier is non-empty adds at
    * least one new pair at its closing flush. Pairs are drawn from the
    * finite set roots × nodes, so at most |roots × nodes| flushes add
    * anything, and the frontier after the last of them anti-joins to
    * empty within one window: at most
    * [[VisitedCheckpointEvery]] · (|roots × nodes| + 1) rounds, ~diameter
    * in practice.
    *
    * Returns `(root_id, node_id, depth)`: each reached pair once, at its
    * minimum depth, the depth-0 seed rows included.
    */
  def bfs(g: GraphTables, seeds: DataFrame, maxDepth: Option[Int] = None,
      relFilter: Column = col("relType").startsWith("HAS_")): DataFrame = {
    val edges = g.edges.filter(relFilter).select(col("src"), col("dst")).toDF()
    var frontier = seeds.select(col("root_id"), col("node_id"),
      lit(0).as("depth"))
    var visited = Option.empty[DataFrame] // none before the first flush
    var pending = Vector(frontier) // rows found since the last flush
    var depth = 0
    var done = maxDepth.exists(_ <= 0)
    while (!done) {
      depth += 1
      // using-column join (not dataset-qualified columns): the frontier's
      // lineage already contains the edge attributes, and qualified refs
      // would trip Spark's ambiguous-self-join detection
      val hop = frontier.select(col("root_id"), col("node_id").as("src"))
        .join(edges, Seq("src"))
        .select(col("root_id"), col("dst").as("node_id"),
          lit(depth).as("depth"))
        .distinct()
      val fresh = visited.fold(hop)(v => hop.join(
        v.select("root_id", "node_id"), Seq("root_id", "node_id"), "left_anti"))
      if (maxDepth.contains(depth)) {
        pending :+= fresh
        done = true
      } else {
        val (f, n) = materializeCount(fresh)
        frontier = f
        done = n == 0
        if (!done) {
          pending :+= f
          if (depth % VisitedCheckpointEvery == 0) {
            visited = Some((visited.toVector ++ pending)
              .reduce(_ unionByName _).localCheckpoint())
            pending = Vector.empty
          }
        }
      }
    }
    (visited.toVector ++ pending).reduce(_ unionByName _)
      .groupBy("root_id", "node_id").agg(min("depth").as("depth"))
  }

  /** Edge-unique path (trail) enumeration: openCypher's variable-length
    * rule that no relationship repeats within one path, behind
    * CypherLite's allShortestPaths path lists, its path-quantified
    * patterns and its chains' colliding ranged segments. `start` carries
    * `cur` (where each path ends) and `visited` (the array of walked edge
    * ids) plus any caller columns; `edges` carries `src`, `dst` and `eid`
    * plus the caller's per-edge columns, none named like a `start` column.
    *
    * Each step joins `cur` = `src`, drops the rows whose `eid` is already
    * in `visited`, appends `eid`, and replaces each `start` column named
    * in `step` by its expression over the joined row; the other columns
    * carry over, in `start`'s order. Returns the union of steps `lo..hi`:
    * one row per trail (bag semantics). The visited probe is an O(hi)
    * array scan, never a join; the enumeration is combinatorial, so `hi`
    * is the only stop.
    *
    * Past two steps, every step is a lazy local checkpoint: the next step
    * and the output union both read it, so it bounds plan replay at no job
    * of its own (the caller's action fills it). An inline step is replayed
    * by each later reader, which compounds with depth: a `*1..4` path bag
    * inlining steps 1-2 shuffled 24x more bytes for 10x the graph, against
    * 13.6x when every step is checkpointed. An enumeration of at most two
    * steps stays inline, where replay is one join and the planner still
    * sees the partitioning (a colliding `*1..2` chain segment's collapse
    * then needs no reshuffle of its witness paths).
    */
  def trails(start: DataFrame, edges: DataFrame, lo: Int, hi: Int,
      step: Map[String, Column] = Map.empty): DataFrame = {
    val next = start.columns.toSeq.map {
      case "cur" => col("dst").as("cur")
      case "visited" => array_append(col("visited"), col("eid")).as("visited")
      case c => step.get(c).fold(col(c))(_.as(c))
    }
    var frontier = start
    var out = Option.empty[DataFrame]
    for (depth <- 1 to hi) {
      frontier = frontier.join(edges, col("cur") === col("src"))
        .filter(!array_contains(col("visited"), col("eid")))
        .select(next: _*)
      if (hi > 2) frontier = frontier.localCheckpoint(false)
      if (depth >= lo) out = Some(out.fold(frontier)(_ unionByName frontier))
    }
    out.get
  }

  /** Matched node + its ≤k-hop downward neighborhood as (m, connected) rows
    * (Q4; result contract `first-graph.py:168`).
    */
  def neighborhood(g: GraphTables, label: String, name: String, k: Int)
      : DataFrame =
    neighborhoodWhere(g,
      col("label") === label && col("name") === name, k)

  /** [[neighborhood]] with an arbitrary node predicate (the general
    * `MATCH (m) WHERE …` form).
    */
  def neighborhoodWhere(g: GraphTables,
      pred: org.apache.spark.sql.Column, k: Int,
      relFilter: org.apache.spark.sql.Column =
        col("relType").startsWith("HAS_")): DataFrame =
    neighborhoodWhereKeyed(g, pred, k, relFilter)
      .select("root_name", "depth", "c_label", "c_name", "c_content")

  /** [[neighborhoodWhere]] keeping the root's node id, so callers can join
    * back arbitrary root properties (CypherLite's `RETURN m.prop` on hop
    * patterns) instead of being limited to the root's name. Also carries
    * the connected node's id as `c_id` — the node-identity key Cypher's
    * `count(DISTINCT c)` aggregates over.
    */
  def neighborhoodWhereKeyed(g: GraphTables,
      pred: org.apache.spark.sql.Column, k: Int,
      relFilter: org.apache.spark.sql.Column =
        col("relType").startsWith("HAS_")): DataFrame = {
    val seeds = g.nodes.filter(pred)
      .select(col("id").as("root_id"), col("id").as("node_id"))
    val hops = bfs(g, seeds, Some(k), relFilter).filter(col("depth") > 0)
    val rootNodes = g.nodes.select(col("id").as("root_id"),
      col("name").as("root_name"))
    val connected = g.nodes.select(col("id").as("node_id"),
      col("label").as("c_label"), col("name").as("c_name"),
      col("content").as("c_content"))
    hops.join(rootNodes, "root_id").join(connected, "node_id")
      .select(col("root_id"), col("root_name"), col("depth"),
        col("node_id").as("c_id"), col("c_label"), col("c_name"),
        col("c_content"))
  }

  /** Node ids with a path of length 1..k (along `relFilter` edges) to a
    * node satisfying `targetPred` (None = any node) — the EXISTENCE
    * kernel behind `WHERE EXISTS { (m)-[*1..k]->(:L) }`. Walks BACKWARD
    * from the target set as plain id-sets (one semi-join per level),
    * never materializing (root, reachable) pairs: an existence check
    * needs set membership, not the pair expansion, so the shuffle is
    * O(|V|) per level instead of O(paths) (guide §2.3 — shuffle keys,
    * not payloads; r17: this replaced a k-hop pair expansion that carried
    * every root×descendant combination only to be distinct-ed away).
    */
  def reachesWithin(g: GraphTables, k: Int,
      relFilter: org.apache.spark.sql.Column,
      targetPred: Option[org.apache.spark.sql.Column]): DataFrame = {
    val edges = g.edges.filter(relFilter).select(col("src"), col("dst")).toDF()
    val target = targetPred.fold(g.nodes.toDF().select(col("id")))(p =>
      g.nodes.toDF().filter(p).select(col("id")))
    var cur = target
    var acc: DataFrame = null
    for (level <- 1 to k) {
      val next = edges.join(cur.select(col("id").as("dst")), Seq("dst"))
        .select(col("src").as("id")).distinct()
      // each level's set feeds both the accumulator and the next
      // expansion — materialize only when it is actually read twice
      cur = if (level < k) next.localCheckpoint() else next
      acc = if (acc == null) cur else acc.unionByName(cur)
    }
    acc.distinct()
  }

  /** Group connected rows under the matched node's name (Q5/B5/G1;
    * `first-graph.py:170-176`) — the nested `{name: [connected…]}` shape,
    * with the list sorted for determinism.
    */
  def nestByRoot(neigh: DataFrame): DataFrame =
    neigh.groupBy("root_name")
      .agg(count(lit(1)).as("n_connected"),
        array_join(array_sort(collect_list(
          concat_ws(":", col("c_label"), col("c_name")))), ",")
          .as("connected"))

  /** Subtree text aggregation (Q6/A6; `gatherContent`
    * `new-converter.js:57-85`): the text of every descendant, at any
    * depth, concatenated in document order. Order is recovered from the
    * ingest-time `path` column — `collect_list` alone is
    * shuffle-nondeterministic (SURVEY.md §4.3).
    */
  def subtreeText(g: GraphTables, label: String, name: String): DataFrame = {
    val seeds = matchNodes(g, label, name)
      .select(col("id").as("root_id"), col("id").as("node_id"))
    val hops = bfs(g, seeds)
    val withText = hops
      .join(g.nodes.select(col("id").as("node_id"), col("content"),
        col("path"), col("docnbr")), "node_id")
      .filter(length(col("content")) > 0)
    withText.groupBy("root_id", "docnbr")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("path"), col("content")))),
        x => x.getField("content")), " ").as("subtree_text"))
  }

  /** Cross-table link (A17; `new-converter.js:34-42`): connect document
    * root nodes to dimension nodes by an equi-key — e.g. each service
    * bulletin to the aircraft it `APPLIES_TO`. `mapping` columns:
    * (docnbr, target_name). Dimension nodes are created shared
    * (docnbr = "", like line numbers) and edges are keyed by deterministic
    * ids, so re-linking is idempotent under [[upsert]].
    */
  def linkDocsTo(g: GraphTables, mapping: DataFrame, targetLabel: String,
      relType: String, batch: String): GraphTables = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    // native codegen expression, not a closure UDF: the id is computed for
    // every mapping row, and this is the one place a large-scale relink
    // would otherwise box strings per row outside whole-stage codegen.
    // Invoked via call_function with Column arguments (no SQL-text
    // assembly), so a label containing quote or backslash characters needs
    // no escaping.
    graft.functions.NodeId.register(spark)
    val idCol = call_function("graft_node_id",
      lit(targetLabel), col("target_name"), lit(""), lit(""), lit(""))
    // a null target key identifies no dimension node: such rows are dropped
    // HERE, explicitly — the id expression would null-propagate them into
    // null node ids and edge dsts downstream
    val keyed = mapping.filter(col("target_name").isNotNull)
    val dimNodes = keyed.select(col("target_name")).distinct()
      .select(idCol.as("id"),
        lit(targetLabel).as("label"), col("target_name").as("name"),
        lit("").as("content"), lit("").as("docnbr"), lit(batch).as("batch"),
        typedLit(Seq.empty[Int]).as("path"))
      .as[NodeRow]
    val roots = g.nodes
      .filter(col("path") === typedLit(Seq.empty[Int]) &&
        col("docnbr") =!= "")
      .select(col("id").as("root_id"), col("docnbr"))
    val newEdges = keyed.join(roots, "docnbr")
      .select(col("root_id").as("src"),
        idCol.as("dst"),
        lit(relType).as("relType"), col("docnbr"), lit(batch).as("batch"),
        typedLit(Map.empty[String, String]).as("props"))
      .as[EdgeRow]
    upsert(g, GraphTables(dimNodes, newEdges))
  }

  /** Content update (A18; `MATCH … SET n.content` `new-converter.js:136-141`)
    * as a join-update: no in-place mutation, one shuffle, missing keys keep
    * their old content. `updates` columns: (id, new_content).
    */
  def updateContent(g: GraphTables, updates: DataFrame): GraphTables =
    updateNodeProp(g,
      updates.withColumnRenamed("new_content", "new_value"), "content")

  /** Column-parameterized node-property join-update (r15 — the A18
    * kernel generalized past `content`): overwrite `prop` for the keyed
    * nodes, keep everything else. Any USER property column (content,
    * name, docnbr) is a valid target; label/batch are engine identity/
    * lineage columns and callers must not pass them. The node-id caveat
    * is the same as content's: [[GraphModel.nodeId]] hashes name and
    * docnbr too, and the update does NOT re-key the node. `updates`
    * columns: (id, new_value).
    */
  def updateNodeProp(g: GraphTables, updates: DataFrame,
      prop: String): GraphTables = {
    val upd = updates.select(col("id"), col("new_value"))
    val nodes = g.nodes.join(upd, Seq("id"), "left_outer")
      .withColumn(prop, coalesce(col("new_value"), col(prop)))
      .drop("new_value")
      .as(g.nodes.encoder)
    GraphTables(nodes, g.edges)
  }

  /** Relationship-property update as a join-update on the edge MERGE key
    * (the edge analogue of [[updateContent]], backing the Cypher
    * `MERGE … ON MATCH SET r.prop = …[, r.prop2 = …]` branch): one
    * shuffle keyed on (src, dst, relType), missing keys keep their
    * stored props. The written keys are OVERWRITTEN in the schemaless
    * props map (map_filter-out + map_concat — pure column expressions,
    * no UDF, no dependence on spark.sql.mapKeyDedupPolicy). `updates`
    * columns: (src, dst, relType, new_props map<string,string>) — one
    * row per edge key, several written keys per row.
    */
  def updateEdgeProps(g: GraphTables, updates: DataFrame): GraphTables = {
    val key = Seq("src", "dst", "relType")
    val upd = updates.select((key.map(col) :+ col("new_props")): _*)
    val edges = g.edges.join(upd, key, "left_outer")
      .withColumn("props",
        when(col("new_props").isNotNull,
          map_concat(
            map_filter(col("props"),
              (k, _) => !array_contains(map_keys(col("new_props")), k)),
            col("new_props")))
          .otherwise(col("props")))
      .drop("new_props")
      .as(g.edges.encoder)
    GraphTables(g.nodes, edges)
  }

  // ------------------------------------------------------------------ GraphX

  /** Build a GraphX graph from the relations (north-star analytics path,
    * BASELINE.json "GraphX/Pregel for analytics").
    *
    * Partition count scales with the edge data instead of inheriting the
    * session shuffle default: GraphX's iterative jobs pay per-partition
    * scheduling overhead every superstep, which dwarfs compute on small
    * graphs (and a 100-TB graph would pass a higher explicit parallelism).
    */
  /** One GraphX conversion per (cached) GraphTables instance: the analytics
    * family (CC, pagerank, LPA, triangles, shortest paths, BFS) all convert
    * the same session-cached graph, and the row→RDD encode + co-partition
    * is the dominant fixed cost on small graphs. Keyed by identity — the
    * shared instances come from the GraphQueries/ParquetGraph caches.
    */
  private val gxCache = new java.util.concurrent.ConcurrentHashMap[
    (GraphTables, Int), Graph[String, String]]()

  /** Drop cache entries keyed to stopped SparkSessions: their MEMORY_ONLY
    * blocks died with the context, so a hit would hand back a dead Graph,
    * and the stale keys would pin driver memory across sessions in a
    * long-lived embedding process. Swept on every access — the entry count
    * is small (a handful of fixture graphs per session), so the sweep is a
    * few pointer reads.
    */
  private def sweepStopped(): Unit = {
    val it = gxCache.entrySet().iterator()
    while (it.hasNext) {
      if (it.next().getKey._1.nodes.sparkSession.sparkContext.isStopped)
        it.remove()
    }
  }

  def toGraphX(g: GraphTables, numPartitions: Int = 0): Graph[String, String] = {
    sweepStopped()
    gxCache.computeIfAbsent((g, numPartitions), _ => {
      // Graph() assigns MEMORY_ONLY storage at construction; counting both
      // sides materializes it so no query pays the conversion twice
      val gx = buildGraphX(g, numPartitions)
      gx.vertices.count()
      gx.edges.count()
      gx
    })
  }

  private def buildGraphX(g: GraphTables, numPartitions: Int)
      : Graph[String, String] = {
    val p =
      if (numPartitions > 0) numPartitions
      else {
        // ~1M edges per partition, capped at the session's parallelism;
        // g.edges is cached upstream so the count is a memory scan
        val perPartition = 1000000L
        val target = (g.edges.count() / perPartition + 1).toInt
        math.max(1, math.min(target,
          g.edges.sparkSession.sparkContext.defaultParallelism))
      }
    // prune to the consumed columns BEFORE leaving Catalyst: the typed
    // rows carry a props map / path array the GraphX view never reads,
    // and .rdd on the full row would deserialize them for every element
    val ss = g.edges.sparkSession
    import ss.implicits._
    val vertices = g.nodes.toDF()
      .select(col("id"),
        concat(col("label"), lit(":"), col("name")).as("attr"))
      .as[(Long, String)].rdd
      .map { case (id, attr) => (id: VertexId, attr) }
      .coalesce(p)
    val edgesRdd = g.edges.toDF().select(col("src"), col("dst"),
        col("relType"))
      .as[(Long, Long, String)].rdd
      .map { case (s, d, r) => Edge(s, d, r) }
    Graph(vertices, edgesRdd.coalesce(p))
  }

  /** Out/in/total degree per node (Q9).
    *
    * Pure DataFrame aggregation — degree counting is not iterative, so the
    * GraphX round-trip (row→RDD encode, vertex/edge co-partitioning) would
    * be pure overhead; two partial+final groupBys and one join is the plan
    * that survives a 100-TB edge table. Left joins because vertices with no
    * edges must surface with degree 0, not vanish.
    */
  def degrees(spark: SparkSession, g: GraphTables): DataFrame = {
    val edges = g.edges.toDF()
    val out = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).cast("int").as("out_degree"))
    val in = edges.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).cast("int").as("in_degree"))
    g.nodes.toDF()
      .join(out, Seq("id"), "left_outer")
      .join(in, Seq("id"), "left_outer")
      .select(col("label"), col("name"),
        coalesce(col("out_degree"), lit(0)).as("out_degree"),
        coalesce(col("in_degree"), lit(0)).as("in_degree"),
        (coalesce(col("out_degree"), lit(0)) +
          coalesce(col("in_degree"), lit(0))).as("degree"))
  }

  /** Connected components via GraphX (Q9). */
  def connectedComponents(spark: SparkSession, g: GraphTables): DataFrame = {
    import spark.implicits._
    toGraphX(g).connectedComponents().vertices
      .toDF("id", "component")
  }

  /** PageRank via GraphX (Q9). */
  def pageRank(spark: SparkSession, g: GraphTables, iters: Int = 10)
      : DataFrame = {
    import spark.implicits._
    val ranks = toGraphX(g).staticPageRank(iters).vertices
      .toDF("id", "rank")
    g.nodes.toDF().join(ranks, "id")
      .select(col("label"), col("name"), col("rank"))
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) as a bulk-synchronous
    * DataFrame power iteration: per superstep
    * `auth ← Σ_{v→u} hub(v)` then `hub ← Σ_{v→u} auth(u)`. Each
    * half-step is one aggregate+join pair keyed on an edge endpoint —
    * partial+final hash aggregates, map-side combinable, the same shuffle
    * shape as the PageRank loop, so the 100-TB story is identical:
    * wall-clock is bounded by the iteration count, no driver-side state
    * beyond the loop counter.
    *
    * The iteration is LINEAR (hub ← AᵀA·hub), so per-round L1
    * normalization only rescales by a scalar — it is deferred to one
    * final normalization, which halves the per-round shuffle count (no
    * per-round total-agg + broadcast) and keeps zero-score vertices out
    * of the loop entirely (restored by the closing left-outer join).
    * Unnormalized magnitudes grow ~λ^iters for the dominant eigenvalue λ;
    * with the default 12 rounds that is far inside double range for any
    * λ < 1e25 — no real graph approaches it. Lineage is cut every few
    * rounds (`localCheckpoint`) so plan depth stays O(1) across
    * iterations; the final auth vector is derived from the converged hubs
    * (the fixpoint satisfies both equations). Nodes with no in-edges
    * answer authority 0, no out-edges hub 0; an edgeless graph answers
    * all-zero scores rather than dividing by zero.
    */
  def hits(spark: SparkSession, g: GraphTables, iters: Int = 12)
      : DataFrame = {
    val edges = g.edges.toDF().select("src", "dst").localCheckpoint()
    val ids = g.nodes.toDF().select("id")
    def normalized(scores: DataFrame, c: String): DataFrame = {
      val tot = scores.agg(sum(col(c)).as("t"))
      scores.crossJoin(broadcast(tot))
        .select(col("id"),
          when(col("t") > 0, col(c) / col("t")).otherwise(lit(0.0)).as(c))
    }
    def authOf(hub: DataFrame): DataFrame = edges
      .join(hub.select(col("id").as("src"), col("hub")), "src")
      .groupBy(col("dst").as("id")).agg(sum("hub").as("auth"))
    var hub = edges.select(col("src").as("id")).distinct()
      .withColumn("hub", lit(1.0))
    var i = 0
    while (i < iters) {
      hub = edges
        .join(authOf(hub).select(col("id").as("dst"), col("auth")), "dst")
        .groupBy(col("src").as("id")).agg(sum("auth").as("hub"))
      i += 1
      // EAGER, deliberately (re-measured r18): switching these to lazy
      // checkpoints deletes the iters/4 materialization jobs but ran
      // markedly SLOWER against a contemporaneous control (the whole
      // 12-round cascade then executes inside one final job) — the
      // eager cut points are load-bearing for stage scheduling, not
      // just plan depth
      if (i % 4 == 0 || i == iters) hub = hub.localCheckpoint()
    }
    val hubN = normalized(hub, "hub")
    val authN = normalized(authOf(hubN), "auth")
    g.nodes.toDF()
      .join(hubN, Seq("id"), "left_outer")
      .join(authN, Seq("id"), "left_outer")
      .select(col("label"), col("name"),
        coalesce(col("hub"), lit(0.0)).as("hub"),
        coalesce(col("auth"), lit(0.0)).as("auth"))
  }

  /** Triangle count per vertex via GraphX (Q9 analytics breadth). */
  def triangleCounts(spark: SparkSession, g: GraphTables): DataFrame = {
    import spark.implicits._
    val counts = toGraphX(g)
      .partitionBy(org.apache.spark.graphx.PartitionStrategy.RandomVertexCut)
      .triangleCount().vertices.toDF("id", "triangles")
    g.nodes.toDF().join(counts, "id")
      .select(col("label"), col("name"), col("triangles"))
  }

  /** Landmark-sampled betweenness centrality (Brandes 2001; sampling per
    * Riondato-Kornaropoulos: restricting the source set to landmarks gives
    * an unbiased scaled estimate, and is the only way betweenness is run
    * at scale). Directed, unweighted, multiplicity-canonicalized.
    *
    * Two bulk-synchronous phases, both DataFrame joins keyed on
    * (source, node) — shuffle-partitioned, nothing collected:
    *  - FORWARD: multi-source BFS layering with exact path counts σ —
    *    frontier ⋈ edges, anti-join the visited set, σ = Σ predecessor σ
    *    (the kCore/[[bfs]] anti-join fixpoint discipline, lineage cut
    *    per round).
    *  - BACKWARD: dependency accumulation per descending depth level —
    *    δ(v) = Σ_{w ∈ succ(v), depth(w)=depth(v)+1} σ(v)/σ(w)·(1+δ(w)).
    *    The shortest-path DAG (per-source successor pairs with the σ
    *    ratio pre-divided) is materialized ONCE with a single self-join
    *    of the layered BFS table on depth+1; each level then needs just
    *    one join (level slice ⋈ previous δ, left-outer — absent δ is 0
    *    by construction) + one aggregation, instead of re-joining
    *    edges ⋈ layers ⋈ δ every round. O(diameter-from-landmarks)
    *    rounds is inherent to Brandes; per-round work is now minimal.
    * betweenness(v) = Σ_sources δ_s(v) over non-source rows. Throws if
    * the forward BFS has not drained within `maxIterations` levels — a
    * truncated layering is indistinguishable from a correct one (same
    * fail-fast contract as kCore/kTruss).
    *
    * σ values are exact integers; on unique-path fixtures every δ is an
    * exact small integer, so the oracle twin compares closed-form doubles
    * (see `graphp_betweenness`).
    */
  def betweenness(spark: SparkSession, g: GraphTables,
      landmarks: Seq[Long], maxIterations: Int = 30): DataFrame = {
    import spark.implicits._
    val edges = g.edges.toDF().select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    var frontier = landmarks.map(l => (l, l, 0, 1L))
      .toDF("source", "node", "depth", "sigma").localCheckpoint()
    var all = frontier
    var depth = 0
    var done = landmarks.isEmpty
    while (!done && depth < maxIterations) {
      depth += 1
      val (next, n) = materializeCount(
        frontier.join(edges, col("node") === col("src"))
          .select(col("source"), col("dst").as("node"), col("sigma"))
          .join(all.select(col("source").as("vs"), col("node").as("vn")),
            col("source") === col("vs") && col("node") === col("vn"),
            "left_anti")
          .groupBy("source", "node").agg(sum("sigma").as("sigma"))
          .select(col("source"), col("node"), lit(depth).as("depth"),
            col("sigma")))
      done = n == 0
      if (!done) {
        all = all.unionByName(next).localCheckpoint()
        frontier = next
      }
    }
    if (!done)
      throw new IllegalStateException(
        s"betweenness forward BFS still has a non-empty frontier after " +
          s"$maxIterations levels — a truncated layering would yield " +
          s"silently wrong sigma/delta; raise maxIterations")
    // the loop exits with the frontier at `depth` empty, so the deepest
    // populated layer is depth-1 — no aggregate job needed
    val maxD = if (landmarks.isEmpty) 0 else math.max(0, depth - 1)
    // shortest-path DAG, built once: for every (source, v) and successor w
    // one level deeper on a shortest path, keep σ(v)/σ(w) pre-divided.
    // Nodes absent here (no successors) have δ = 0 and contribute nothing
    // to betweenness, so the backward loop never needs to materialize
    // their zero rows.
    val dag = all
      .join(edges, col("node") === col("src"))
      .join(all.select(col("source").as("ws"), col("node").as("wn"),
          col("depth").as("wdepth"), col("sigma").as("wsig")),
        col("source") === col("ws") && col("dst") === col("wn") &&
          col("wdepth") === col("depth") + 1)
      .select(col("source"), col("node"), col("depth"),
        (col("sigma").cast("double") / col("wsig")).as("ratio"),
        col("wn"))
      .localCheckpoint()
    // δ at the deepest layer is 0 everywhere → empty seed; a w missing
    // from the running δ relation is a node with no successors (δ = 0),
    // covered by the left-outer + coalesce below.
    var delta = Seq.empty[(Long, Long, Double)].toDF("ds", "dn", "wdelta")
    val levels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (d <- (maxD - 1) to 0 by -1) {
      val (curDelta, _) = materializeCount(dag.filter(col("depth") === d)
        .join(delta,
          col("source") === col("ds") && col("wn") === col("dn"),
          "left_outer")
        .groupBy("source", "node")
        .agg(sum(col("ratio") * (lit(1.0) + coalesce(col("wdelta"),
          lit(0.0)))).as("delta")))
      levels += curDelta.withColumn("depth", lit(d))
      delta = curDelta.select(col("source").as("ds"), col("node").as("dn"),
        col("delta").as("wdelta"))
    }
    // all per-level δ slices are checkpointed; one flat union, no deep
    // lineage. Zero-δ nodes are absent and drop out of the sum.
    val bc = levels.reduceOption(_ unionByName _) match {
      case None => Seq.empty[(Long, Double)].toDF("id", "raw")
      case Some(acc) => acc.filter(col("depth") >= 1)
        .groupBy(col("node").as("id"))
        .agg(sum("delta").as("raw"))
    }
    g.nodes.toDF().join(bc, Seq("id"), "left_outer")
      .select(col("label"), col("name"),
        graft.Det.portableRound(coalesce(col("raw"), lit(0.0)), 6)
          .as("betweenness"))
  }

  /** Undirected degree `(id, deg)` of canonical edges `und` (lo, hi). */
  private def degreesOf(und: DataFrame): DataFrame =
    und.select(col("lo").as("id"))
      .unionAll(und.select(col("hi").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))

  /** Degree-ordered triangle enumeration over canonical undirected edges
    * `und` (lo < hi) with their endpoint degrees `deg` — the wedge/closure
    * core [[clusteringCoefficient]] and each [[kTruss]] round share. Every
    * edge is directed from its lower-(deg, id) endpoint to the higher,
    * wedges fan out only along out-edges, and each triangle is found
    * exactly once at its lowest-degree corner, as `(a, b, c)`.
    */
  private def triangles(und: DataFrame, deg: DataFrame): DataFrame = {
    // orient each edge from the lower-(deg, id) endpoint to the higher:
    // the orientation key is a single sortable struct comparison
    val withDeg = und
      .join(deg.select(col("id").as("lo"), col("deg").as("dlo")), "lo")
      .join(deg.select(col("id").as("hi"), col("deg").as("dhi")), "hi")
    val kLo = struct(col("dlo").as("d"), col("lo").as("n"))
    val kHi = struct(col("dhi").as("d"), col("hi").as("n"))
    val oriented = withDeg.select(
        when(kLo < kHi,
          struct(col("lo").as("u"), col("hi").as("v"), kHi.as("vk")))
          .otherwise(
            struct(col("hi").as("u"), col("lo").as("v"), kLo.as("vk")))
          .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.vk").as("vk"))
      .localCheckpoint() // wedge join (×2) + closure semi-join
    // wedges (a; b, c) along a's OUT-edges only, b before c in the same
    // (deg, id) order — the closing edge is then oriented b→c exactly
    val ab = oriented.select(col("u").as("a"), col("v").as("b"),
      col("vk").as("bk"))
    val ac = oriented.select(col("u").as("a"), col("v").as("c"),
      col("vk").as("ck"))
    ab.join(ac, "a").filter(col("bk") < col("ck"))
      .join(oriented.select(col("u").as("b"), col("v").as("c")),
        Seq("b", "c"), "left_semi")
  }

  /** Local clustering coefficient: per node, the fraction of its distinct
    * undirected neighbor pairs that are themselves connected —
    * 2·T(v) / (deg(v)·(deg(v)−1)), 0 for deg < 2. Edge direction,
    * multiplicity, and self-loops are all canonicalized away first
    * (distinct (lo, hi) with lo < hi), so a multigraph input is scored as
    * its simple undirected projection.
    *
    * Pure DataFrame triangle enumeration with DEGREE-ORDERED orientation
    * (the standard hub-safe form, e.g. Suri-Vassilvitskii 2011): every
    * canonical edge is directed from its lower-(deg, id) endpoint to the
    * higher, wedges fan out only along out-edges, and each triangle is
    * found exactly once at its lowest-degree corner. A hub of degree d is
    * then the HIGH end of nearly all its edges, so its wedge fan-out is
    * near zero instead of C(d, 2) — total wedge count is bounded by
    * O(m^1.5) regardless of skew (a 100k-leaf star produces ZERO wedges
    * where id-ordering would produce 5·10⁹ — asserted in
    * ClusteringCoefficientSpec). All joins key on node ids and
    * shuffle-partition by them; nothing is collected.
    */
  def clusteringCoefficient(spark: SparkSession, g: GraphTables): DataFrame = {
    val raw = g.edges.toDF().filter(col("src") =!= col("dst"))
    val und = raw.select(
        least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .distinct()
      .localCheckpoint() // orientation join (×2), degrees, node join
    val deg = degreesOf(und)
      .localCheckpoint() // orientation (×2 endpoints) + the final output
    val perNode = triangles(und, deg)
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    g.nodes.toDF()
      .join(deg, Seq("id"), "left_outer")
      .join(perNode, Seq("id"), "left_outer")
      .select(col("label"), col("name"),
        coalesce(col("deg"), lit(0L)).cast("int").as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(coalesce(col("deg"), lit(0L)) >= 2,
          graft.Det.portableRound(
            lit(2.0) * coalesce(col("triangles"), lit(0L)) /
              (col("deg") * (col("deg") - lit(1L))).cast("double"), 6))
          .otherwise(lit(0.0)).as("coeff"))
  }

  /** Label propagation communities via GraphX (Q9). */
  def labelPropagation(spark: SparkSession, g: GraphTables, iters: Int = 5)
      : DataFrame = {
    import spark.implicits._
    org.apache.spark.graphx.lib.LabelPropagation
      .run(toGraphX(g), iters).vertices.toDF("id", "community")
  }

  /** Louvain modularity communities (Blondel et al. 2008, public) — the
    * GDS-staple community kernel next to [[labelPropagation]], as a
    * DataFrame-native distributed variant (the Sotera/DGA shape):
    *
    *  - LOCAL MOVE rounds: every node scores joining each NEIGHBORING
    *    community (gain ∝ k_{i,c} − k_i·Σtot_c/2m, Blondel eq. 2) via
    *    joins keyed on node/community ids — a node only ever meets the
    *    communities in its adjacency bucket, never an all-pairs product.
    *    Synchronous parallel moves can oscillate, so (a) only one id
    *    PARITY class moves per round (deterministic alternation, no RNG)
    *    and (b) a round's tentative assignment is accepted ONLY if global
    *    modularity strictly improves — evaluated in exact integer
    *    arithmetic (Q·(2m)² = 2m·ΣΣin_c − ΣΣtot_c², decimal sums, no
    *    float-order nondeterminism), so modularity is NON-DECREASING by
    *    construction and convergence is a proof, not a hope. Ties break
    *    toward the smallest community id — fully deterministic.
    *  - COARSEN: converged communities collapse to super-nodes (groupBy
    *    community pairs, weights summed, intra-weight as self-loops) and
    *    the local phase reruns — the standard Louvain second phase.
    *
    * Rounds are bounded by `levels × maxRoundsPerLevel`; every join keys
    * on node/community ids and shuffle-partitions — nothing is collected.
    * The reported community id is the MINIMUM ORIGINAL member id, so the
    * output is independent of which internal label won a merge (the same
    * canonicalization LPA cannot offer — see `graphp_louvain` vs the
    * invariant-graded `graphp_label_propagation`).
    */
  def louvain(spark: SparkSession, g: GraphTables, levels: Int = 3,
      maxRoundsPerLevel: Int = 16): DataFrame = {
    // simple undirected projection: weight 1 per distinct canonical edge
    var edges = g.edges.toDF()
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .distinct()
      .select(col("lo"), col("hi"), lit(1L).as("w"))
      .localCheckpoint()
    var nodes = g.nodes.toDF().select(col("id")).distinct().localCheckpoint()
    // original node -> current-level super-node
    var membership = nodes.select(col("id").as("orig"), col("id").as("node"))
      .localCheckpoint()
    var level = 0
    var levelChanged = true
    while (level < levels && levelChanged) {
      level += 1
      val (assignment, changed) = louvainLevel(nodes, edges,
        maxRoundsPerLevel)
      levelChanged = changed
      if (changed) {
        membership = membership
          .join(assignment.select(col("id").as("node"), col("comm")), "node")
          .select(col("orig"), col("comm").as("node"))
          .localCheckpoint()
        edges = edges
          .join(assignment.select(col("id").as("lo"), col("comm").as("clo")),
            "lo")
          .join(assignment.select(col("id").as("hi"), col("comm").as("chi")),
            "hi")
          .select(least(col("clo"), col("chi")).as("lo"),
            greatest(col("clo"), col("chi")).as("hi"), col("w"))
          .groupBy("lo", "hi").agg(sum("w").as("w"))
          .localCheckpoint()
        // lazy: one distinct over the checkpointed assignment
        nodes = assignment.select(col("comm").as("id")).distinct()
      }
    }
    val rep = membership.groupBy(col("node"))
      .agg(min("orig").as("community"))
    val byOrig = membership.join(rep, "node")
      .select(col("orig").as("id"), col("community"))
    g.nodes.toDF().join(byOrig, Seq("id"), "left_outer")
      .select(col("id"), col("label"), col("name"),
        coalesce(col("community"), col("id")).as("community"))
  }

  /** One Louvain level: parity-alternating local moves under the exact
    * modularity accept-guard. Returns (assignment id→comm, any move made).
    */
  private def louvainLevel(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int): (DataFrame, Boolean) = {
    // adjacency rows (u, v, w) both directions; a condensed self-loop
    // counts double (A_ii = 2w — the igraph/Blondel degree convention)
    val plain = edges.filter(col("lo") =!= col("hi"))
    val adjAll = plain
      .select(col("lo").as("u"), col("hi").as("v"), col("w"))
      .unionByName(plain.select(col("hi").as("u"), col("lo").as("v"),
        col("w")))
      .unionByName(edges.filter(col("lo") === col("hi"))
        .select(col("lo").as("u"), col("hi").as("v"),
          (col("w") * 2).as("w")))
      .localCheckpoint(eager = false)
    // one action for 2m, Σk², the self-loop mass AND the inter-node row
    // count (r18: the former separate `plain.isEmpty` probe job is fused
    // in as one more single-row aggregate — guide §1, one job per level
    // setup; the same action materializes the lazy adjAll checkpoint).
    // The all-singleton starting modularity has the closed form
    // Q0·(2m)² = 2m·selfw − Σk² (isolated nodes hold k = 0 and drop out
    // of both sums), so the first guard evaluation never needs the
    // general 2-join plan.
    val dec0 = "decimal(38,0)"
    val statsRow = adjAll.groupBy(col("u")).agg(sum("w").as("k"))
      .agg(sum(col("k")).as("m2"),
        coalesce(sum(col("k").cast("decimal(19,0)") *
          col("k").cast("decimal(19,0)")), lit(0).cast(dec0)).as("t2"))
      .crossJoin(adjAll.filter(col("u") === col("v"))
        .agg(coalesce(sum(col("w").cast(dec0)), lit(0).cast(dec0))
          .as("selfw")))
      .crossJoin(adjAll.filter(col("u") =!= col("v"))
        .agg(count(lit(1)).as("np")))
      .head
    // no inter-node edges at this level (condensed communities are
    // mutually disconnected — every weight lives in self-loops): no move
    // can ever change modularity, skip the whole local phase. This is
    // the common exit for a CONVERGED coarsened graph.
    if (statsRow.getLong(3) == 0L) {
      freeLocalCheckpoint(adjAll)
      return (nodes.select(col("id"), col("id").as("comm")), false)
    }
    val m2 = statsRow.getLong(0)
    // degrees materialized ONCE per level: every round's proposal reads
    // them (via the k carried on the assignment) and the level runs many
    // rounds. LAZY checkpoint (r18): round 1's fused guard action is the
    // job that materializes it — no separate setup job
    val degAll = nodes
      .join(adjAll.groupBy(col("u").as("id")).agg(sum("w").as("k")),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("k"), lit(0L)).as("k"))
      .localCheckpoint(eager = false)
    // gain table excludes self rows: i's self-loop follows it into any
    // community, contributing equally everywhere — cancels in the argmax
    val adjN = adjAll.filter(col("u") =!= col("v"))
    // the assignment CARRIES each node's degree k: Σtot per community and
    // the guard's Σtot² become plain aggregates of the assignment itself
    // (no degree join anywhere in the round loop)
    var assignment: DataFrame =
      degAll.select(col("id"), col("id").as("comm"), col("k"))
    var qnum = new java.math.BigDecimal(m2)
      .multiply(statsRow.getDecimal(2)).subtract(statsRow.getDecimal(1))
    var round = 0
    var failStreak = 0
    var anyChange = false
    // the round's move proposal for the `active` node subset — a LAZY
    // plan over the checkpointed relations: evaluated inside the fused
    // modularity action, checkpointed only if ACCEPTED. One SCORED pass:
    // the k_{i,c} link table joins the node's own (comm, k) and the
    // candidate's Σtot once, then a single grouped aggregate produces
    // BOTH the best foreign candidate (argmax by score, ties to the
    // smallest community id — struct max on (score, -cand), deterministic
    // under any partitioning) and the node's own-community link weight —
    // the stay score's Σtot uses the OWN community minus k_i (Blondel:
    // the node is first removed from its community).
    def propose(active: Column): DataFrame = {
      val commTot = assignment.groupBy("comm").agg(sum("k").as("tot"))
      // k_{i,c}: total link weight from i into community c
      val links = adjN
        .join(assignment.select(col("id").as("v"), col("comm").as("cand")),
          "v")
        .groupBy(col("u"), col("cand")).agg(sum("w").as("kic"))
      val scored = links.select(col("u").as("id"), col("cand"), col("kic"))
        .join(assignment, "id")
        .join(commTot.select(col("comm").as("cand"), col("tot").as("ctot")),
          "cand")
      val perNode = scored.groupBy("id").agg(
        max(when(col("cand") =!= col("comm"),
          struct((col("kic").cast("double") -
            col("k").cast("double") * col("ctot") / lit(m2.toDouble))
            .as("score"),
            (-col("cand")).as("negc"), col("cand").as("cand")))).as("m"),
        max(when(col("cand") === col("comm"), col("kic"))).as("kOwn"))
      val newComm = when(active && col("m.score") >
          (coalesce(col("kOwn"), lit(0L)).cast("double") -
            col("k").cast("double") * (col("tot") - col("k")) /
              lit(m2.toDouble)) + lit(1e-12),
          col("m.cand")).otherwise(col("comm"))
      assignment.join(commTot, "comm")
        .join(perNode, Seq("id"), "left_outer")
        .select(col("id"), newComm.as("comm"), col("k"),
          // `moved` rides the proposal into the guard action: a FULL
          // round that proposes zero moves is a proven local optimum
          // (parity classes gate the same per-node test on a subset of
          // the same scores), letting the level exit without spending
          // the two parity-failure rounds
          (newComm =!= col("comm")).as("moved"))
    }
    // FULL synchronous rounds while they keep improving (few rounds when
    // moves don't conflict); the first rejected full round switches the
    // level permanently to PARITY rounds (one id-parity class moves per
    // round — breaks label-swap oscillations, the 2-coloring argument).
    // The exact-integer guard decides every round: accept only strict
    // modularity improvement. The proposal is LAZILY checkpointed: the
    // guard's single-row action is the job that materializes it (ONE
    // driver round-trip per round, not propose-then-guard two), after
    // which the checkpointed blocks back every later reference and the
    // SQL plan is already truncated at the LogicalRDD. Termination: two
    // CONSECUTIVE parity failures cover both classes — no single-node
    // move improves, a local optimum.
    var fullMode = true
    while (round < maxRounds && failStreak < 2) {
      val active =
        if (fullMode) lit(true)
        else pmod(col("id") + lit(round), lit(2)) === 0
      val t = propose(active).localCheckpoint(false)
      val (q, moved) = guardStats(adjAll, t, m2)
      if (q.compareTo(qnum) > 0) {
        assignment = t
        qnum = q
        failStreak = 0
        anyChange = true
      } else if (fullMode) {
        // a zero-move FULL round is a local optimum — no parity subset
        // can propose what the full round didn't (same scores, gated on
        // a subset of the same nodes): exit instead of burning the two
        // parity-failure rounds
        if (moved == 0L) failStreak = 2
        else fullMode = false // conflicting moves — not a class failure
      } else failStreak += 1
      round += 1
    }
    (assignment, anyChange)
  }

  /** Exact integer modularity numerator Q·(2m)² = 2m·Σ_c Σin_c −
    * Σ_c Σtot_c², as decimal sums (order-independent, engine-portable —
    * the accept-guard must never flip on float summation order).
    * `assignment` is (id, comm, k) — the carried degree makes Σtot² a
    * plain self-aggregate, no degree join in the guard plan.
    */
  private def modularityNum(adjAll: DataFrame,
      assignment: DataFrame, m2: Long): java.math.BigDecimal = {
    val dec = "decimal(38,0)"
    val intra = adjAll
      .join(assignment.select(col("id").as("u"), col("comm").as("cu")), "u")
      .join(assignment.select(col("id").as("v"), col("comm").as("cv")), "v")
      .filter(col("cu") === col("cv"))
      .agg(coalesce(sum(col("w").cast(dec)), lit(0).cast(dec)).as("in"))
    val tot2 = assignment
      .groupBy("comm").agg(sum("k").as("tot"))
      .agg(coalesce(sum(col("tot").cast("decimal(19,0)") *
        col("tot").cast("decimal(19,0)")), lit(0).cast(dec)).as("t2"))
    // both single-row aggregates fused into ONE action (the per-round
    // accept-guard runs this every proposal — job count matters)
    val row = intra.crossJoin(tot2).head
    new java.math.BigDecimal(m2).multiply(row.getDecimal(0))
      .subtract(row.getDecimal(1))
  }

  /** The round guard: [[modularityNum]] plus the proposal's move count,
    * all single-row aggregates fused into the ONE action that also
    * materializes the lazily-checkpointed proposal. `t` is the proposal
    * (id, comm, k, moved).
    */
  private def guardStats(adjAll: DataFrame, t: DataFrame, m2: Long)
      : (java.math.BigDecimal, Long) = {
    val dec = "decimal(38,0)"
    val intra = adjAll
      .join(t.select(col("id").as("u"), col("comm").as("cu")), "u")
      .join(t.select(col("id").as("v"), col("comm").as("cv")), "v")
      .filter(col("cu") === col("cv"))
      .agg(coalesce(sum(col("w").cast(dec)), lit(0).cast(dec)).as("in"))
    val tot2 = t
      .groupBy("comm").agg(sum("k").as("tot"))
      .agg(coalesce(sum(col("tot").cast("decimal(19,0)") *
        col("tot").cast("decimal(19,0)")), lit(0).cast(dec)).as("t2"))
    val movedAgg = t.agg(
      coalesce(sum(col("moved").cast("long")), lit(0L)).as("mv"))
    val row = intra.crossJoin(tot2).crossJoin(movedAgg).head
    (new java.math.BigDecimal(m2).multiply(row.getDecimal(0))
      .subtract(row.getDecimal(1)), row.getLong(2))
  }

  /** Modularity Q of an (id, community) assignment over g's simple
    * undirected projection — the spec-facing face of the exact
    * accept-guard arithmetic (Q = Qnum/(2m)²).
    */
  def modularity(spark: SparkSession, g: GraphTables,
      assignment: DataFrame): Double = {
    val edges = g.edges.toDF()
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .distinct()
      .select(col("lo"), col("hi"), lit(1L).as("w"))
    val adjAll = edges
      .select(col("lo").as("u"), col("hi").as("v"), col("w"))
      .unionByName(edges.select(col("hi").as("u"), col("lo").as("v"),
        col("w")))
      .localCheckpoint()
    val m2Row = adjAll.agg(sum("w")).head
    if (m2Row.isNullAt(0) || m2Row.getLong(0) == 0L) return 0.0
    val m2 = m2Row.getLong(0)
    val nodes = g.nodes.toDF().select(col("id")).distinct()
    val degAll = nodes
      .join(adjAll.groupBy(col("u").as("id")).agg(sum("w").as("k")),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("k"), lit(0L)).as("k"))
    val asg = assignment.select(col("id"), col("community").as("comm"))
      .join(degAll, "id")
    modularityNum(adjAll, asg, m2)
      .divide(new java.math.BigDecimal(m2).pow(2),
        java.math.MathContext.DECIMAL64)
      .doubleValue()
  }

  /** Single-source shortest path lengths to the given landmarks (Q9). */
  def shortestPaths(spark: SparkSession, g: GraphTables,
      landmarks: Seq[Long]): DataFrame = {
    import spark.implicits._
    org.apache.spark.graphx.lib.ShortestPaths
      .run(toGraphX(g), landmarks).vertices
      .flatMap { case (id, spmap) =>
        spmap.map { case (lm, d) => (id, lm, d) }
      }.toDF("id", "landmark", "distance")
  }

  /** Landmark-sampled harmonic centrality (Boldi & Vigna, "Axioms for
    * centrality", 2014): `H(v) = Σ_l 1/d(v→l)` over a BOUNDED landmark
    * set, distances along edge direction via the same GraphX
    * ShortestPaths substrate as [[shortestPaths]]. Exact closeness needs
    * all-pairs distances (O(V·E) state — never at 100 TB); the landmark
    * sample is the standard scale approximation, and the landmark count
    * bounds both state and rounds. Unreachable landmarks contribute 0
    * (harmonic's defining advantage over closeness on disconnected
    * graphs); the landmark itself (d = 0) contributes 0. Each 1/d term is
    * quantized to integer micro-units BEFORE the per-vertex sum, so the
    * result is independent of map iteration order and engine-portable.
    */
  def harmonicCentrality(spark: SparkSession, g: GraphTables,
      landmarks: Seq[Long]): DataFrame = {
    import spark.implicits._
    val h = org.apache.spark.graphx.lib.ShortestPaths
      .run(toGraphX(g), landmarks).vertices
      .map { case (id, spmap) =>
        (id, spmap.valuesIterator.filter(_ > 0)
          .map(d => math.round(1000000.0 / d)).sum)
      }.toDF("id", "micro")
    g.nodes.toDF().join(h, Seq("id"), "left_outer")
      .select(col("label"), col("name"),
        (coalesce(col("micro"), lit(0L)) / lit(1000000.0)).as("harmonic"))
  }

  /** Landmark-sampled closeness centrality (the GDS staple next to
    * [[harmonicCentrality]], same bounded-landmark scale posture — exact
    * closeness needs all-pairs distances, never at 100 TB):
    * C(v) = r(v) / Σ_l d(v→l) over the landmarks REACHABLE from v
    * (d > 0 — the landmark itself is excluded, as in harmonic), and 0
    * when none are (the disconnected-graph convention). Distances come
    * from the same distributed GraphX ShortestPaths substrate; r and Σd
    * are exact integer sums, so the emitted ratio is deterministic under
    * any partitioning with no quantization step needed.
    */
  def closenessCentrality(spark: SparkSession, g: GraphTables,
      landmarks: Seq[Long]): DataFrame = {
    import spark.implicits._
    val rd = org.apache.spark.graphx.lib.ShortestPaths
      .run(toGraphX(g), landmarks).vertices
      .map { case (id, spmap) =>
        val ds = spmap.valuesIterator.filter(_ > 0)
          .map(_.toLong).toSeq
        (id, ds.size.toLong, ds.sum)
      }.toDF("id", "r", "sumd")
    g.nodes.toDF().join(rd, Seq("id"), "left_outer")
      .select(col("label"), col("name"),
        when(coalesce(col("sumd"), lit(0L)) > 0,
          col("r").cast("double") / col("sumd"))
          .otherwise(lit(0.0)).as("closeness"))
  }

  /** Personalized PageRank from a single source (Q9 analytics breadth —
    * the "important relative to THIS node" ranking a Neo4j deployment
    * answers with GDS; the recommendation primitive). GraphX
    * `staticPersonalizedPageRank`: teleports always return to `src`, so
    * mass decays with hop distance and vertices unreachable from the
    * source hold rank exactly 0.0 (0.85·0 + no teleport = 0 in exact IEEE
    * arithmetic — a hard zero, not an epsilon). Fixed-iteration Pregel on
    * the distributed edge partition; iteration count bounds rounds, same
    * scale shape as [[pageRank]].
    */
  def personalizedPageRank(spark: SparkSession, g: GraphTables, src: Long,
      iters: Int = 20): DataFrame = {
    import spark.implicits._
    val ranks = toGraphX(g).staticPersonalizedPageRank(src, iters)
      .vertices.toDF("id", "rank")
    g.nodes.toDF().join(ranks, "id")
      .select(col("id"), col("label"), col("name"), col("rank"))
  }

  /** Neighborhood Jaccard node similarity over the undirected view of the
    * edges (Q9 analytics breadth — GDS `nodeSimilarity`, the entity-
    * resolution / "users like this user" primitive):
    * `J(a,b) = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|` for every pair with at
    * least one common neighbor.
    *
    * Same scale discipline as [[adamicAdar]]: candidate pairs are
    * generated through the common-neighbor self-join keyed on z — a pair
    * only ever meets inside z's adjacency bucket, never via an all-pairs
    * product — and neighbor lists wider than `maxDegree` are dropped
    * before the self-join (a degree-d hub emits d² candidate rows; its
    * common-neighbor evidence is near-zero signal, the standard cutoff).
    * The score itself is a ratio of exact integers (common / (deg a +
    * deg b − common)), bit-identical in any engine and partitioning — no
    * quantization needed.
    */
  def nodeSimilarity(spark: SparkSession, g: GraphTables,
      maxDegree: Int = 1000): DataFrame = {
    val e = g.edges.toDF().select(col("src"), col("dst"))
    val und = e.select(col("src").as("u"), col("dst").as("v"))
      .unionByName(e.select(col("dst").as("u"), col("src").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = und.groupBy("u").agg(count(lit(1)).as("deg"))
    val adj = und.select(col("u").as("z"), col("v").as("n"))
      .join(deg.select(col("u").as("z"), col("deg").as("zdeg")), "z")
      .filter(col("zdeg") <= maxDegree)
    val a = adj.select(col("z"), col("n").as("a"))
    val b = adj.select(col("z").as("z2"), col("n").as("b"))
    a.join(b, col("z") === col("z2") && col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"))
      .join(deg.select(col("u").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("u").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("deg_a") + col("deg_b") - col("n_common")))
          .as("jaccard"))
  }

  /** Strongly connected components (Q9 DIRECTED analytics —
    * `connectedComponents` ignores edge direction; SCC is the form that
    * finds mutual-reachability groups, e.g. cycles in a link graph).
    * Component id = min vertex id of the SCC (the GraphX convention,
    * kept so downstream joins/oracles are unchanged).
    *
    * CONVERGENCE-CHECKED trim / forward-color / backward-mark peeling
    * (the coloring family of distributed SCC — Orzan 2004; the same
    * outer structure as GraphX's `StronglyConnectedComponents`, but with
    * the fixpoint explicit). The previous delegation to GraphX at a
    * fixed `iters = 10` silently returned WRONG components whenever the
    * condensation DAG is deeper than the budget — each outer peel
    * finalizes only the color-root SCCs, so a chain of k cycles needs k
    * peels, and GraphX returns whatever it has when the budget runs out
    * with no error. That is exactly what a 100× web-scale graph with
    * long SCC chains would hit. Here the peel loop runs until the work
    * graph is EMPTY; `maxPeels` is a safety valve that THROWS instead of
    * truncating. Per peel:
    *  1. trim — vertices with no in- or no out-edge in the residual
    *     graph are singleton SCCs; iterated, because each removal wave
    *     exposes the next (a pure DAG fully dissolves here);
    *  2. forward min-id coloring to fixpoint (Pregel, out-edges);
    *  3. backward reachability from each color root restricted to the
    *     root's color (Pregel, in-edges) — the reached set is exactly
    *     the root's SCC (reaches root ∧ same color ⇒ reachable from
    *     root), finalized and removed.
    * Scale posture: every step is a bulk-synchronous Pregel/degree pass
    * over the residual edge relation — no driver-side state, no
    * all-pairs term; per-peel finalized RDDs are `localCheckpoint`ed so
    * deep condensations never replay the peel history, and superseded
    * residual graphs are unpersisted after their successor materializes
    * (O(1) pinned copies, the [[kCore]] discipline).
    */
  def stronglyConnected(spark: SparkSession, g: GraphTables,
      maxPeels: Int = 1000): DataFrame =
    sccStats(spark, g, maxPeels)._1

  /** [[stronglyConnected]] plus the peel-round count — the scale pin
    * asserts rounds are a condensation-depth property, not an edge-count
    * one (mirrors [[kCoreStats]]).
    */
  def sccStats(spark: SparkSession, g: GraphTables,
      maxPeels: Int = 1000): (DataFrame, Int) = {
    import spark.implicits._
    import org.apache.spark.graphx.{EdgeDirection, Pregel}
    val sc = spark.sparkContext
    val base = toGraphX(g)
    // fresh RDDs (not mapVertices over the cached base) so unpersisting
    // peel intermediates can never evict the shared gxCache blocks; Int
    // edge attr keeps the replicated edge payload minimal
    var work: Graph[(VertexId, Boolean), Int] = Graph(
      base.vertices.map { case (vid, _) => (vid, (vid, false)) },
      base.edges.map(e => Edge(e.srcId, e.dstId, 0))).cache()
    var remaining = work.vertices.count()
    work.edges.count()
    val parts = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.rdd.RDD[(VertexId, VertexId)]]
    def harvest(rdd: org.apache.spark.rdd.RDD[(VertexId, VertexId)])
        : Long = {
      val done = rdd.localCheckpoint()
      val n = done.count()
      if (n > 0) parts += done
      else done.unpersist(blocking = false) // keep the block registry clean
      n
    }
    // swap the residual graph: materialize the successor FIRST, then
    // unpersist everything it superseded (safe — no shared live blocks).
    // The two counts stay SEQUENTIAL, deliberately: they share the
    // graph's uncached replicated-vertex-view upstream, which concurrent
    // jobs would compute twice (per-partition block locks only dedupe
    // CACHED data) — r18 measured the concurrent form no faster
    def swapIn(next0: Graph[(VertexId, Boolean), Int],
        dead: Graph[_, _]*): Graph[(VertexId, Boolean), Int] = {
      val next = next0.cache()
      remaining = next.vertices.count()
      next.edges.count()
      dead.foreach(_.unpersist(blocking = false))
      next
    }
    var peels = 0
    while (remaining > 0) {
      peels += 1
      if (peels > maxPeels)
        throw new IllegalStateException(
          s"SCC peel loop hit the maxPeels = $maxPeels safety valve " +
            s"with $remaining vertices unresolved — the condensation " +
            "is deeper than the budget; raise maxPeels (the loop " +
            "converges; it never silently truncates)")
      // (1) trim to fixpoint: no-in or no-out ⇒ singleton SCC
      var before = remaining + 1
      while (remaining > 0 && remaining < before) {
        before = remaining
        val withDeg = work
          .outerJoinVertices(work.outDegrees) { (_, d, od) =>
            (d._1, od.isEmpty) }
          .outerJoinVertices(work.inDegrees) { (_, d, ind) =>
            (d._1, d._2 || ind.isEmpty) }
        val n = harvest(withDeg.vertices.filter(_._2._2)
          .map { case (vid, _) => (vid, vid) })
        if (n > 0) {
          work = swapIn(withDeg.subgraph(vpred = (_, d) => !d._2)
            .mapVertices { case (vid, _) => (vid, false) }, work)
        }
      }
      if (remaining > 0) {
        // (2) forward min-id coloring to fixpoint
        val colored = Pregel(work, Long.MaxValue,
            activeDirection = EdgeDirection.Out)(
          (_, attr, msg) => (math.min(attr._1, msg), attr._2),
          e => if (e.srcAttr._1 < e.dstAttr._1)
            Iterator((e.dstId, e.srcAttr._1)) else Iterator.empty,
          (a, b) => math.min(a, b))
        // (3) backward mark from color roots, within the root's color
        val marked = Pregel(colored, false,
            activeDirection = EdgeDirection.In)(
          (vid, attr, msg) => (attr._1, attr._2 || vid == attr._1 || msg),
          e => if (e.srcAttr._1 == e.dstAttr._1 && e.dstAttr._2 &&
              !e.srcAttr._2) Iterator((e.srcId, true))
            else Iterator.empty,
          (a, b) => a || b).cache()
        harvest(marked.vertices.filter(_._2._2)
          .map { case (vid, (c, _)) => (vid, c) })
        work = swapIn(marked.subgraph(vpred = (_, d) => !d._2)
          .mapVertices { case (vid, _) => (vid, false) },
          work, colored, marked)
      }
    }
    work.unpersist(blocking = false)
    val out =
      if (parts.isEmpty) sc.emptyRDD[(VertexId, VertexId)]
      else sc.union(parts.toSeq)
    (out.toDF("id", "component"), peels)
  }

  /** Min-sum weighted distance from roots via Pregel — Dijkstra's
    * relaxation as a bulk-synchronous fixpoint (Bellman-Ford style: no
    * priority queue, because at scale the whole frontier relaxes in
    * parallel each superstep). `weight` is a Column over the edge relation
    * (`src`, `dst`, `relType`, ...), so callers derive weights from domain
    * data; non-negative weights converge in ≤ longest-shortest-path-hops
    * supersteps, bounded by `maxIterations`.
    */
  def weightedDistances(spark: SparkSession, g: GraphTables,
      rootIds: Set[Long], weight: Column, maxIterations: Int = 30)
      : DataFrame = {
    import spark.implicits._
    // materialize the (possibly derived) edge relation ONCE — Pregel's
    // per-superstep scans must not replay an upstream upsert/join plan —
    // and size partitions by the buildGraphX policy (~1M edges each):
    // a small graph on the session's full shuffle width pays per-task
    // overhead × iterations for nothing
    val eDf = g.edges.toDF()
      .select(col("src"), col("dst"), weight.cast("double").as("w"))
      .localCheckpoint()
    val p = math.max(1, math.min((eDf.count() / 1000000L + 1).toInt,
      spark.sparkContext.defaultParallelism))
    val verts = g.nodes.toDF().select(col("id")).as[Long].rdd
      .map(id => (id: VertexId,
        if (rootIds.contains(id)) 0.0 else Double.PositiveInfinity))
      .coalesce(p)
    val edges = eDf.as[(Long, Long, Double)].rdd
      .map { case (s0, d0, w0) => Edge(s0, d0, w0) }
      .coalesce(p)
    val res = Graph(verts, edges).pregel(
      Double.PositiveInfinity, maxIterations)(
      (_, attr, msg) => math.min(attr, msg),
      t =>
        if (t.srcAttr + t.attr < t.dstAttr)
          Iterator((t.dstId, t.srcAttr + t.attr))
        else Iterator.empty,
      (a, b) => math.min(a, b))
    res.vertices.filter(_._2 < Double.PositiveInfinity)
      .toDF("id", "distance")
  }

  /** Weighted single-source shortest paths over a REAL edge property:
    * reads the numeric cost out of `EdgeRow.props` (string-valued —
    * `try_cast` tolerates absent/garbage values via `default`) and rides
    * the [[weightedDistances]] Pregel kernel. This is the
    * `shortestPath((a)-[r*]->(b))`-with-weights surface a property graph
    * with cost-bearing edges serves first; the reference's edges carry no
    * properties (SURVEY §1.1), so the property column defaults empty and
    * this kernel activates only on graphs that set it.
    */
  def shortestPathWeighted(spark: SparkSession, g: GraphTables,
      rootIds: Set[Long], weightProp: String = "weight",
      default: Double = 1.0, maxIterations: Int = 30): DataFrame = {
    require(weightProp.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"weight property must be an identifier, got '$weightProp'")
    weightedDistances(spark, g, rootIds,
      coalesce(
        expr(s"try_cast(element_at(props, '$weightProp') AS DOUBLE)"),
        lit(default)),
      maxIterations)
  }

  /** Deterministic random-walk corpus over the out-edge relation — the
    * corpus-generation step of graph-embedding training (DeepWalk,
    * Perozzi et al. KDD 2014; node2vec's p=q=1 case): `walksPerRoot`
    * walks of at most `maxLen` steps start at every root, and a walk
    * sitting at node v takes out-neighbor number
    * `H(rootId|walkNo|position|v) mod outdeg(v)` — H the same 60-bit md5
    * family the dedup operators share. Content-addressed steps make the
    * corpus REPRODUCIBLE under any cluster size, partitioning, or retry
    * history — no RNG state, no per-executor seeds — which is what a
    * 100 TB training pipeline needs from its samplers (the l11/l16
    * mixture ops follow the same no-RNG discipline). A walk ends early at
    * a sink (node with no out-edges).
    *
    * Scale shape: the adjacency relation is dense-ranked per src ONCE
    * (one window pass, localCheckpointed, reused by every step), and each
    * step is one (src, rank) EQUI-join of the live frontier against it —
    * O(maxLen) joins total, frontier stays one row per live walk, and
    * neighbor lists are never materialized as arrays, so hub nodes cost
    * the same as leaves.
    *
    * Returns (root_id, walk, step, node); step 0 is the root itself.
    */
  def randomWalks(spark: SparkSession, g: GraphTables, roots: DataFrame,
      walksPerRoot: Int, maxLen: Int): DataFrame = {
    require(walksPerRoot > 0, s"walksPerRoot must be > 0: $walksPerRoot")
    require(maxLen >= 0, s"maxLen must be >= 0: $maxLen")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy("dst")
    val adj = g.edges.toDF().select(col("src"), col("dst")).distinct()
      .select(col("src"), col("dst"),
        (row_number().over(w) - 1).cast("long").as("rnk"))
      .localCheckpoint() // multi-consumer: the degree agg + one join/step
    val deg = adj.groupBy("src").agg(count(lit(1)).as("deg"))
    var frontier = roots.select(col("root_id"))
      .crossJoin(spark.range(walksPerRoot).select(col("id").as("walk")))
      .select(col("root_id"), col("walk"), col("root_id").as("cur"))
    var out = frontier.select(col("root_id"), col("walk"),
      lit(0).as("step"), col("cur").as("node"))
    for (stepN <- 1 to maxLen) {
      frontier = frontier
        .join(deg.withColumnRenamed("src", "cur"), "cur") // sinks drop out
        .withColumn("pick", pmod(graft.text.PortableHash.spark(
          concat_ws("|", col("root_id"), col("walk"), lit(stepN - 1),
            col("cur"))), col("deg")))
        .join(adj, col("cur") === adj("src") && col("pick") === adj("rnk"))
        .select(col("root_id"), col("walk"), col("dst").as("cur"))
      // lazy checkpoint EVERY 4th step: each union branch of `out` and
      // the next step's join then replay at most a 4-join prefix from
      // the last materialized blocks, so corpus evaluation stays
      // O(maxLen) join work at realistic walk lengths (40–80 steps)
      // instead of O(maxLen²) — while short walks (≤3 steps, the common
      // sampling depth) pay no materialization overhead at all (a
      // per-step checkpoint measured ~20% slower there). Lazy (not
      // eager) so no job fires until the corpus is consumed.
      if (stepN % 4 == 0) frontier = frontier.localCheckpoint(false)
      out = out.unionByName(frontier.select(col("root_id"), col("walk"),
        lit(stepN).as("step"), col("cur").as("node")))
    }
    out
  }

  /** Skip-gram (center, context) pair counts over a walk corpus — the
    * training-pair extraction DeepWalk/node2vec feed to word2vec: every
    * ordered pair of nodes on the SAME walk within `window` positions of
    * each other, aggregated to a count (the multiplicity a sampled-softmax
    * trainer weights by). One self-join keyed on the walk identity; the
    * position-window filter bounds fan-out at 2·window rows per walk
    * position, so the pair relation stays linear in corpus size (walk
    * length is a generation-time constant, never data-dependent).
    */
  def skipGramPairs(walks: DataFrame, window: Int = 2): DataFrame = {
    require(window > 0, s"window must be > 0: $window")
    val a = walks.select(col("root_id"), col("walk"),
      col("step").as("step_a"), col("node").as("center"))
    val b = walks.select(col("root_id"), col("walk"),
      col("step").as("step_b"), col("node").as("context"))
    a.join(b, Seq("root_id", "walk"))
      .filter(abs(col("step_a") - col("step_b")).between(1, window))
      .groupBy("center", "context").agg(count(lit(1)).as("n_pairs"))
  }

  /** Deterministic negative sampling — the third stage of the word2vec
    * training-set pipeline (walks → skip-gram pairs → `k` negatives per
    * pair): negative `j` for pair (c, x) is corpus occurrence number
    * `H(c|x|j) mod |corpus|`, i.e. drawn from the walk corpus's UNIGRAM
    * occurrence distribution (sampling positions ∝ occurrence count is
    * exactly unigram sampling, with no weight table to build; the ^0.75
    * flattening is a production knob applied by re-weighting the corpus
    * relation). Content-addressed like the walk steps, so the draw is
    * replay-identical anywhere. A drawn negative may coincide with the
    * pair's own context — word2vec discards those at training time;
    * keeping them preserves draw-position determinism.
    *
    * Scale shape: the draw is one equi-join on the occurrence index. The
    * index here is a single total-order window — the clear spelling at
    * test scale; production swaps in a two-pass partition-offset rank
    * (the o5b/o8 sampling discipline) without changing draw semantics.
    * The corpus size rides in as a broadcast 1-row aggregate, not a
    * driver action.
    */
  def negativeSamples(walks: DataFrame, pairs: DataFrame, k: Int = 2)
      : DataFrame = {
    require(k > 0, s"k must be > 0: $k")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("root_id", "walk", "step")
    val corpus = walks
      .select(col("root_id"), col("walk"), col("step"), col("node"))
      .withColumn("pos", row_number().over(w).cast("long") - 1)
      .select(col("pos"), col("node").as("negative"))
    val tot = corpus.agg(count(lit(1)).as("n_occ"))
    val drawn = pairs.select("center", "context").distinct()
      .crossJoin(broadcast(tot))
      .select(col("center"), col("context"),
        explode(expr(s"sequence(0, ${k - 1})")).as("j"), col("n_occ"))
      .select(col("center"), col("context"), col("j"),
        pmod(graft.text.PortableHash.spark(concat_ws("|", col("center"),
          col("context"), col("j"))), col("n_occ")).as("pos"))
    drawn.join(corpus, "pos")
      .select(col("center"), col("context"), col("j"), col("negative"))
  }

  /** Second-order (node2vec) biased walks — [[randomWalks]] with the
    * Grover-Leskovec transition bias (KDD 2016): the step out of `cur`
    * arriving from `prev` weights each candidate neighbor `x` by
    *   `wReturn` if x = prev (node2vec's 1/p),
    *   `wCommon` if prev→x is an edge (distance 1; the 1-weight class),
    *   `wFar`    otherwise (1/q),
    * with INTEGER weights so the cumulative intervals are exact — p =
    * wCommon/wReturn, q = wCommon/wFar. The pick is content-addressed
    * like [[randomWalks]]: `H(root|walk|pos|cur) mod Σw` lands in a
    * candidate's cumulative interval (dst order), so the corpus is
    * replay-identical anywhere. The first transition has no `prev` and
    * is the uniform rank pick (node2vec's own first step).
    *
    * Scale shape: the biased step is inherently O(outdeg(cur)) per walk
    * position — the weights need normalizing, which is exactly why
    * node2vec implementations precompute alias tables; here the
    * candidate relation (one equi-join), its per-walk window cumsum, and
    * the prev-adjacency membership join are all keyed/partitioned on the
    * walk identity, so the work is Σ outdeg over visited nodes — linear
    * in walk count, never in graph size.
    */
  def biasedWalks(spark: SparkSession, g: GraphTables, roots: DataFrame,
      walksPerRoot: Int, maxLen: Int, wReturn: Int = 1, wCommon: Int = 4,
      wFar: Int = 2): DataFrame = {
    require(walksPerRoot > 0, s"walksPerRoot must be > 0: $walksPerRoot")
    require(maxLen >= 1, s"maxLen must be >= 1: $maxLen")
    require(wReturn > 0 && wCommon > 0 && wFar > 0,
      s"weights must be positive: $wReturn/$wCommon/$wFar")
    val W = org.apache.spark.sql.expressions.Window
    val adj = g.edges.toDF().select(col("src"), col("dst")).distinct()
      .localCheckpoint() // consumers: rank, degree, candidates, membership
    val ranked = adj.select(col("src"), col("dst"),
      (row_number().over(W.partitionBy("src").orderBy("dst")) - 1)
        .cast("long").as("rnk"))
    val deg = adj.groupBy("src").agg(count(lit(1)).as("deg"))
    val start = roots.select(col("root_id"))
      .crossJoin(spark.range(walksPerRoot).select(col("id").as("walk")))
    var out = start.select(col("root_id"), col("walk"), lit(0).as("step"),
      col("root_id").as("node"))
    var frontier = start
      .select(col("root_id"), col("walk"), col("root_id").as("cur"))
      .join(deg.withColumnRenamed("src", "cur"), "cur")
      .withColumn("pick", pmod(graft.text.PortableHash.spark(concat_ws("|",
        col("root_id"), col("walk"), lit(0), col("cur"))), col("deg")))
      .join(ranked, col("cur") === ranked("src") &&
        col("pick") === ranked("rnk"))
      .select(col("root_id"), col("walk"), col("cur").as("prev"),
        col("dst").as("cur"))
      // lazy checkpoint per step (not every 4th as in randomWalks): the
      // second-order step plan — membership join + two window passes —
      // is heavy enough that replaying even a short prefix costs more
      // than the materialization (measured faster per-step at sf0.1);
      // same O(maxLen²)-prefix-replay guard either way
      .localCheckpoint(false)
    out = out.unionByName(frontier.select(col("root_id"), col("walk"),
      lit(1).as("step"), col("cur").as("node")))
    for (stepN <- 2 to maxLen) {
      // both relations derive from `adj`; renamed projections + string
      // column refs keep the double use out of the ambiguous-self-join
      // detector (the repo-wide renamed-column self-join pattern)
      val cn = adj.select(col("src").as("cur"), col("dst"))
      val pe = adj.select(col("src").as("p_src"), col("dst").as("p_dst"),
        lit(1).as("is_common"))
      val ordered = W.partitionBy("root_id", "walk").orderBy("dst")
      val whole = W.partitionBy("root_id", "walk")
      val cand = frontier.join(cn, "cur")
        .join(pe, col("prev") === col("p_src") &&
          col("dst") === col("p_dst"), "left_outer")
        .withColumn("wt",
          when(col("dst") === col("prev"), lit(wReturn.toLong))
            .when(col("is_common").isNotNull, lit(wCommon.toLong))
            .otherwise(lit(wFar.toLong)))
        .withColumn("cum", sum("wt").over(ordered))
        .withColumn("tot", sum("wt").over(whole))
        .withColumn("r", pmod(graft.text.PortableHash.spark(concat_ws("|",
          col("root_id"), col("walk"), lit(stepN - 1), col("cur"))),
          col("tot")))
        .filter(col("r") >= col("cum") - col("wt") && col("r") < col("cum"))
      frontier = cand.select(col("root_id"), col("walk"),
        col("cur").as("prev"), col("dst").as("cur"))
        .localCheckpoint(false)
      out = out.unionByName(frontier.select(col("root_id"), col("walk"),
        lit(stepN).as("step"), col("cur").as("node")))
    }
    out
  }

  /** Edge-property-weighted walks — [[randomWalks]] where the transition
    * probability is proportional to an INTEGER weight read from
    * `EdgeRow.props` (the same property surface the Cypher write path
    * sets): candidate `x` of `cur` gets interval width
    * `try_cast(props[weightProp])` when that is a positive integer, else
    * `default`, and the pick is `H(root|walk|pos|cur) mod Σw` into the
    * dst-ordered cumulative intervals — the [[biasedWalks]] machinery
    * with data-carried weights instead of second-order classes. Parallel
    * edges between a pair SUM their weights (transition mass adds).
    * All-default graphs degenerate to exactly [[randomWalks]]'s uniform
    * pick (unit intervals in dst order ≡ the rank index).
    *
    * Scale shape: identical to [[biasedWalks]] minus the membership join
    * — one candidate equi-join and one per-walk window cumsum per step,
    * work = Σ outdeg over visited nodes.
    */
  def weightedWalks(spark: SparkSession, g: GraphTables, roots: DataFrame,
      walksPerRoot: Int, maxLen: Int, weightProp: String = "weight",
      default: Long = 1L): DataFrame = {
    require(walksPerRoot > 0, s"walksPerRoot must be > 0: $walksPerRoot")
    require(maxLen >= 0, s"maxLen must be >= 0: $maxLen")
    require(weightProp.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"weight property must be an identifier, got '$weightProp'")
    require(default > 0, s"default weight must be positive: $default")
    val W = org.apache.spark.sql.expressions.Window
    val rawW = expr(s"try_cast(element_at(props, '$weightProp') AS BIGINT)")
    val adj = g.edges.toDF()
      .select(col("src"), col("dst"),
        when(rawW.isNotNull && rawW > 0, rawW).otherwise(lit(default))
          .as("wt"))
      .groupBy("src", "dst").agg(sum("wt").as("wt"))
      .localCheckpoint() // one consumer per step
    var frontier = roots.select(col("root_id"))
      .crossJoin(spark.range(walksPerRoot).select(col("id").as("walk")))
      .select(col("root_id"), col("walk"), col("root_id").as("cur"))
    var out = frontier.select(col("root_id"), col("walk"),
      lit(0).as("step"), col("cur").as("node"))
    for (stepN <- 1 to maxLen) {
      val ordered = W.partitionBy("root_id", "walk").orderBy("dst")
      val whole = W.partitionBy("root_id", "walk")
      frontier = frontier
        .join(adj.withColumnRenamed("src", "cur"), "cur")
        .withColumn("cum", sum("wt").over(ordered))
        .withColumn("tot", sum("wt").over(whole))
        .withColumn("r", pmod(graft.text.PortableHash.spark(concat_ws("|",
          col("root_id"), col("walk"), lit(stepN - 1), col("cur"))),
          col("tot")))
        .filter(col("r") >= col("cum") - col("wt") && col("r") < col("cum"))
        .select(col("root_id"), col("walk"), col("dst").as("cur"))
      // lazy checkpoint every 4th step — same O(maxLen²)-prefix-replay
      // guard and same short-walk-overhead rationale as randomWalks
      if (stepN % 4 == 0) frontier = frontier.localCheckpoint(false)
      out = out.unionByName(frontier.select(col("root_id"), col("walk"),
        lit(stepN).as("step"), col("cur").as("node")))
    }
    out
  }

  /** Layer-wise neighborhood sampling — the GNN minibatch sampler
    * (GraphSAGE, Hamilton et al. NeurIPS 2017): from a seed set, layer
    * `l` keeps at most `fanouts(l-1)` out-neighbors of every frontier
    * node, and the kept neighbors become layer `l+1`'s frontier. The
    * choice is a deterministic hash RANKING — neighbor order
    * `H(layer|src|dst)` with dst as the tiebreak — so the sampled
    * computation graph is replay-identical anywhere (same
    * content-addressed discipline as [[randomWalks]]); including the
    * layer in the hash decorrelates the layers' samples.
    *
    * Scale shape: one frontier ⋈ edges equi-join plus one per-src top-k
    * window per layer — fanout caps bound the frontier at
    * |seeds|·Πfanouts regardless of hub degrees, which is the entire
    * point of sampled GNN training.
    *
    * Returns the sampled computation graph as (layer, src, dst) rows,
    * layer 1 adjacent to the seeds.
    */
  def sampleNeighborhood(spark: SparkSession, g: GraphTables,
      seeds: DataFrame, fanouts: Seq[Int]): DataFrame = {
    require(fanouts.nonEmpty && fanouts.forall(_ > 0),
      s"fanouts must be non-empty positives: $fanouts")
    val edges = g.edges.toDF().select(col("src"), col("dst")).distinct()
      .localCheckpoint() // one consumer per layer
    var frontier = seeds.select(col("id")).distinct()
    var out = Option.empty[DataFrame]
    for ((k, i) <- fanouts.zipWithIndex) {
      val layer = i + 1
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("src").orderBy(col("hrank"), col("dst"))
      val sampled = frontier.join(edges, frontier("id") === edges("src"))
        .select(col("src"), col("dst"))
        .withColumn("hrank", graft.text.PortableHash.spark(concat_ws("|",
          lit(layer), col("src"), col("dst"))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select(lit(layer).as("layer"), col("src"), col("dst"))
        // lazy checkpoint per layer: the output union and the next
        // layer's frontier both read this layer's materialized blocks
        // (same prefix-replay guard as randomWalks)
        .localCheckpoint(false)
      out = Some(out.fold(sampled)(_.unionByName(sampled)))
      frontier = sampled.select(col("dst").as("id")).distinct()
    }
    out.get
  }

  /** k-core of the undirected view of the edges: the maximal subgraph in
    * which every node has degree ≥ k (Q9 analytics breadth — the standard
    * "dense enough to matter" community filter). Iterative peeling as a
    * bulk-synchronous fixpoint: each round removes ALL nodes below k
    * simultaneously — O(peeling-depth) rounds, not O(removed-nodes).
    *
    * The loop is NODE-CENTRIC (round 13): the undirected edge list is
    * checkpointed ONCE, hash-partitioned by `u` (checkpoint preserves
    * output partitioning, so every per-round lookup into it is
    * shuffle-free on the edge side), and the only per-round state is the
    * O(nodes) live-degree table. A round semi-joins the static edges
    * against the doomed set (small after round 1 — AQE broadcasts it),
    * aggregates the per-neighbor decrements, and rewrites the degree
    * table. The previous shape rewrote + re-checkpointed the whole
    * O(edges) list every round, which made each round cost a full edge
    * shuffle + materialization — ~5× slower at the 22M-edge curve point
    * and strictly worse at 100 TB, where re-materializing the edge list
    * per round is the difference between O(depth·m) I/O and O(m + Σ
    * removed-adjacency).
    *
    * Returns the surviving node ids (empty when the k-core is empty).
    * Throws if `maxIterations` rounds exhaust BEFORE the peeling fixpoint:
    * the remainder would be a superset still containing sub-k nodes, and a
    * caller cannot tell that truncated answer from a true k-core — fail
    * loudly instead (the default bound far exceeds any real peeling
    * depth).
    */
  def kCore(spark: SparkSession, g: GraphTables, k: Int,
      maxIterations: Int = 64): DataFrame =
    kCoreStats(spark, g, k, maxIterations)._1

  /** [[kCore]] plus the peel-round count it converged in — the
    * contention-immune scale pin (round count is a property of the degree
    * distribution, not of machine load; ScaleCurveSpec asserts it).
    */
  def kCoreStats(spark: SparkSession, g: GraphTables, k: Int,
      maxIterations: Int = 64): (DataFrame, Int) = {
    val e0 = g.edges.toDF().select(col("src"), col("dst"))
    // serialized blocks: the edge list is the big resident state, and
    // deserialized row caching inflates it ~5-10× — at big-graph scale
    // that tips storage into eviction/spill (the 100× curve caught this)
    val serLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    // ONE setup shuffle: the undirected view is hash-partitioned by `u`
    // (preserved through the checkpoint, so every per-round aggregate
    // and semi-join below is exchange-free on the edge side) and NOT
    // deduplicated — a distinct() here would be a second full-edge
    // shuffle; instead both degree aggregates count DISTINCT neighbors,
    // which the u-clustering satisfies without an exchange (duplicate
    // and reverse edges count once, KCoreSpec)
    // BOTH setup relations lazy-checkpointed and materialized by ONE job
    // (the degree count below computes deg THROUGH und, caching both) —
    // the r17 one-job idiom (guide §1: inter-job gaps dominate iterative
    // kernels at small SF; the eager-eager form paid two setup jobs)
    val und = e0.select(col("src").as("u"), col("dst").as("v"))
      .unionByName(e0.select(col("dst").as("u"), col("src").as("v")))
      .filter(col("u") =!= col("v"))
      .repartition(col("u"))
      .localCheckpoint(false, serLevel)
    var deg = und.groupBy("u").agg(countDistinct(col("v")).as("deg"))
      .localCheckpoint(false, serLevel)
    // the materializing action of every round ALSO computes how many of
    // the table's rows are doomed for the NEXT round (a single-row
    // conditional count fused into the same job), so the loop never pays
    // a separate emptiness-probe job AND never runs a final no-op round
    // just to observe the fixpoint — one job per peel, period (r18,
    // guide §1/§5; the VERDICT-flagged probe job at GraphOps.scala:1855)
    def materializeWithDoomed(df: DataFrame): Long =
      df.agg(coalesce(sum(when(col("deg") < k, 1L)), lit(0L))).head.getLong(0)
    var doomedCount = materializeWithDoomed(deg)
    // `iters` keeps its historical meaning — loop entries INCLUDING the
    // final round that observes nothing left to peel (the spec-pinned
    // round count): p real peels report p + 1
    var iters = 0
    while (iters < maxIterations && doomedCount > 0) {
      iters += 1
      // NOT checkpointed: doomed is one filter over the checkpointed
      // degree table, so its two join consumers (which run in ONE job
      // via the next checkpoint) replay a trivial plan
      val doomed = deg.filter(col("deg") < k).select("u")
      // every doomed node's edges vanish: each (doomed u → v) row
      // decrements v. A v that is itself doomed (this round or earlier)
      // is simply absent from the surviving degree table, so its
      // decrement row joins away — no alive-set bookkeeping needed.
      val dec = und.join(doomed, Seq("u"), "left_semi")
        .groupBy("v").agg(countDistinct(col("u")).as("dec"))
        .select(col("v").as("u"), col("dec"))
      val prev = deg
      deg = prev
        .join(doomed, Seq("u"), "left_anti")
        .join(dec, Seq("u"), "left_outer")
        .select(col("u"),
          (col("deg") - coalesce(col("dec"), lit(0L))).as("deg"))
        .localCheckpoint(false, serLevel)
      doomedCount = materializeWithDoomed(deg)
      // superseded round state is DEAD once the new table materialized
      // — free it now, or R rounds pin R degree-table copies
      freeLocalCheckpoint(prev)
    }
    val done = doomedCount == 0L
    if (done) iters += 1 // the observing round, as the old probe counted it
    if (!done) {
      freeLocalCheckpoint(und)
      freeLocalCheckpoint(deg)
      throw new IllegalStateException(
        s"kCore(k=$k) did not converge within $maxIterations peeling " +
          "rounds — the remainder still contains sub-k nodes; raise " +
          "maxIterations")
    }
    // the result reads only the (checkpointed) degree table; the edge
    // list's blocks are dead the moment the loop converges
    freeLocalCheckpoint(und)
    (deg.select(col("u").as("id")), iters)
  }

  /** Adamic-Adar link prediction over the undirected view of the edges
    * (Q9 analytics breadth — the "which nodes should be connected" query a
    * Neo4j deployment would answer with GDS, the serving layer the
    * reference delegates to via `first-graph.py:29-36`). For every pair
    * (a, b) with at least one common neighbor z: score = Σ_z 1 / ln(deg z).
    *
    * Pure DataFrame joins, and candidates are generated through the
    * common-neighbor self-join keyed on z — a pair only ever meets inside
    * z's adjacency bucket, never via an all-pairs product. Hub guard for
    * 100 TB: a degree-d node emits d² candidate rows, so neighbor lists
    * wider than `maxDegree` are dropped before the self-join (their terms
    * carry ~1/ln(d) ≈ 0 signal — the standard production LP cutoff, same
    * rationale as the n-gram DF cap in TextQueries).
    *
    * The per-pair sum quantizes each term to integer micro-units before
    * aggregating (Det.centSum discipline): float addition is not
    * associative, so a raw double sum would depend on partitioning; the
    * long sum is exact in any order and any engine.
    */
  def adamicAdar(spark: SparkSession, g: GraphTables,
      maxDegree: Int = 1000): DataFrame = {
    val e = g.edges.toDF().select(col("src"), col("dst"))
    val adjacency = e.select(col("src").as("u"), col("dst").as("v"))
      .unionByName(e.select(col("dst").as("u"), col("src").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = adjacency.groupBy("u").agg(count(lit(1)).as("deg"))
    val adj = adjacency.select(col("u").as("z"), col("v").as("n"))
      .join(deg.select(col("u").as("z"), col("deg")), "z")
      .filter(col("deg") <= maxDegree)
    val term = floor(lit(1000000.0) / log(col("deg").cast("double")) +
      lit(0.5)).cast("long")
    val a = adj.select(col("z"), col("n").as("a"), col("deg"))
    val b = adj.select(col("z").as("z2"), col("n").as("b"))
    a.join(b, col("z") === col("z2") && col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"),
        (sum(term).cast("double") / lit(1000000.0)).as("aa_score"))
  }

  /** k-truss (Cohen 2008): the maximal subgraph whose every edge closes
    * ≥ k−2 triangles WITHIN the subgraph — the edge-analogue of k-core
    * and the standard cohesive-community kernel one level stronger than
    * triangles alone. Bulk-synchronous peeling: each round recomputes
    * per-edge support with the SAME degree-ordered wedge orientation as
    * [[clusteringCoefficient]] (every triangle found once at its
    * lowest-degree corner — hub-safe, O(m^1.5) wedges per round), drops
    * under-supported edges, and repeats: dropping an edge only ever
    * lowers other edges' support, so the loop is monotone and the
    * fixpoint is the truss. Returns the surviving undirected simple
    * edges (lo < hi); throws if the backstop exhausts before the
    * fixpoint (the kCore discipline — a truncated superset would be
    * indistinguishable from a true truss).
    */
  def kTruss(spark: SparkSession, g: GraphTables, k: Int,
      maxIterations: Int = 32): DataFrame = {
    require(k >= 3, "k-truss is defined for k >= 3")
    var (und, n) = materializeCount(g.edges.toDF()
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .distinct())
    var round = 0
    var done = n == 0L
    while (!done && round < maxIterations) {
      // each triangle supports its three edges, canonicalized (lo, hi)
      val support = triangles(und, degreesOf(und)).select(explode(array(
          struct(least(col("a"), col("b")).as("lo"),
            greatest(col("a"), col("b")).as("hi")),
          struct(least(col("a"), col("c")).as("lo"),
            greatest(col("a"), col("c")).as("hi")),
          struct(least(col("b"), col("c")).as("lo"),
            greatest(col("b"), col("c")).as("hi")))).as("e"))
        .select(col("e.lo").as("lo"), col("e.hi").as("hi"))
        .groupBy("lo", "hi").agg(count(lit(1)).as("support"))
      val (next, m) = materializeCount(
        und.join(support, Seq("lo", "hi"), "left_outer")
          .filter(coalesce(col("support"), lit(0L)) >= k - 2)
          .select("lo", "hi"))
      done = m == n
      und = next
      n = m
      round += 1
    }
    if (!done) throw new IllegalStateException(
      s"kTruss(k=$k) did not converge within $maxIterations peeling " +
        "rounds — the remainder still contains under-supported edges; " +
        "raise maxIterations")
    und
  }
}
