package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Continuous graph ingest: the reference's only write path — C2 MERGE of
  * nodes + relationships (`new_final.js:22-40`) — under CONTINUOUS arrival,
  * composed from the two proven halves of this engine:
  *
  *   file-source stream of node/edge rows
  *     → `foreachBatch`
  *       → [[GraphOps.upsert]]   (MERGE semantics: anti-join + union)
  *       → [[GraphStore.save]]   (atomic CURRENT-pointer commit + COMMITS
  *                                log — readers never see a torn graph)
  *
  * Arrival format is one ENVELOPE relation carrying both node and edge
  * rows (`kind` discriminates), the natural shape of a CDC / ingest feed:
  * a writer appends parquet files of envelope rows, the stream drains
  * them exactly once per checkpoint, and every micro-batch commits one
  * new graph version.
  *
  * Semantics under the streaming failure model:
  *  - WITHIN a batch: incoming rows are deduped on their MERGE keys
  *    (node `id`; edge `(src, dst, relType)`) — an at-least-once feed may
  *    repeat rows inside one batch.
  *  - ACROSS batches: [[GraphOps.upsert]] is idempotent, so foreachBatch's
  *    at-least-once replay of a batch after a crash re-commits the SAME
  *    graph content (a fresh version name, identical rows) — the
  *    stream-ingested graph converges to the batch-ingested graph on the
  *    same data regardless of slicing or replay.
  *
  * Scale posture: each micro-batch costs O(batch ⋈ current-graph-keys) —
  * two anti-joins on the MERGE keys — plus an O(batch) INCREMENTAL
  * commit ([[GraphStore.saveDelta]]: only the delta's rows are written,
  * the version's content resolves through the commit-log chain). The
  * anti-joins are the same shape at any graph size (shuffle on id / edge
  * key); nothing in the commit path scales with the accumulated graph,
  * so continuous ingest stays linear in arrived data. Folding a long
  * delta chain back into one snapshot is [[GraphStore.compact]] —
  * routine maintenance, not part of any commit.
  */
object StreamingGraphIngest {

  /** Envelope schema: a discriminated union of NodeRow and EdgeRow. Node
    * fields are null on edge rows and vice versa; `batch` is shared.
    */
  val EnvelopeSchema: StructType = StructType(Seq(
    StructField("kind", StringType),      // "node" | "edge"
    StructField("id", LongType),
    StructField("label", StringType),
    StructField("name", StringType),
    StructField("content", StringType),
    StructField("docnbr", StringType),
    StructField("batch", StringType),
    StructField("path", ArrayType(IntegerType)),
    StructField("src", LongType),
    StructField("dst", LongType),
    StructField("relType", StringType),
    StructField("props", MapType(StringType, StringType))))

  /** A graph as one envelope relation (the writer side of the feed). */
  def toEnvelope(g: GraphTables): DataFrame = {
    val n = g.nodes.toDF().select(lit("node").as("kind"), col("id"),
      col("label"), col("name"), col("content"), col("docnbr"),
      col("batch"), col("path"), lit(null).cast("long").as("src"),
      lit(null).cast("long").as("dst"),
      lit(null).cast("string").as("relType"),
      lit(null).cast("map<string,string>").as("props"))
    val e = EdgeRow.normalize(g.edges.toDF()).select(lit("edge").as("kind"),
      lit(null).cast("long").as("id"), lit(null).cast("string").as("label"),
      lit(null).cast("string").as("name"),
      lit(null).cast("string").as("content"), col("docnbr"), col("batch"),
      lit(null).cast("array<int>").as("path"), col("src"), col("dst"),
      col("relType"), col("props"))
    n.unionByName(e)
  }

  /** Split an envelope micro-batch back into typed node/edge relations,
    * deduped on their MERGE keys (an at-least-once feed may repeat rows
    * within one batch; node rows with equal `id` are identical by the
    * deterministic-id construction, so any representative is THE row).
    */
  def fromEnvelope(spark: SparkSession, env: DataFrame): GraphTables = {
    import spark.implicits._
    val nodes = env.filter(col("kind") === "node")
      .select(col("id"), col("label"), col("name"), col("content"),
        col("docnbr"), col("batch"),
        coalesce(col("path"), typedLit(Seq.empty[Int])).as("path"))
      .dropDuplicates("id").as[NodeRow]
    val edges = env.filter(col("kind") === "edge")
      .select(col("src"), col("dst"), col("relType"), col("docnbr"),
        col("batch"),
        coalesce(col("props"), typedLit(Map.empty[String, String]))
          .as("props"))
      .dropDuplicates("src", "dst", "relType").as[EdgeRow]
    GraphTables(nodes, edges)
  }

  /** MERGE one envelope micro-batch into the store: the first batch
    * commits a full snapshot; every later batch computes the MERGE DELTA
    * (anti-joins on the MERGE keys against the current content) and
    * commits it INCREMENTALLY ([[GraphStore.saveDelta]]) — each commit
    * writes O(batch), never O(graph), which is what keeps a continuous
    * ingest linear in arrived data (a full rewrite per micro-batch is
    * quadratic). Reading the current chain while writing the next
    * version is safe — the commit is a fresh directory + one atomic
    * pointer flip. Replay of an applied batch commits an EMPTY delta:
    * identical content through the same protocol.
    */
  /** Delta chains a continuous writer may grow before [[ingestBatch]]
    * folds the store back into one snapshot ([[GraphStore.compact]]):
    * read cost grows with the chain (one parquet listing per member),
    * so compaction is amortized maintenance — every `MaxChain` batches,
    * one O(graph) rewrite, keeping reads O(1) listings on average while
    * commits stay O(batch).
    */
  val MaxChain: Int = 32

  def ingestBatch(spark: SparkSession, env: DataFrame, storeDir: String,
      keepVersions: Int = 0, maxChain: Int = MaxChain): Unit = {
    val incoming = fromEnvelope(spark, env)
    if (GraphStore.hasCurrent(storeDir)) {
      GraphStore.saveDelta(
        GraphOps.upsertDelta(GraphStore.load(spark, storeDir), incoming),
        storeDir, keepVersions)
      // compaction is maintenance, not retention policy: it must keep
      // the same history the per-batch commits keep
      if (GraphStore.chainLength(storeDir) > maxChain)
        GraphStore.compact(spark, storeDir, keepVersions = keepVersions)
    } else GraphStore.save(incoming, storeDir, keepVersions)
  }

  /** The always-on form: every micro-batch of the envelope stream commits
    * one graph version. Offsets checkpoint, so restarts resume without
    * loss; replays re-commit identical content (see class doc).
    */
  def ingest(envStream: DataFrame, storeDir: String, checkpoint: String,
      keepVersions: Int = 0): StreamingQuery =
    envStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch.sparkSession, batch, storeDir, keepVersions)
      }
      .start()

  /** Number of `.parquet` files under `dir`, recursively — what a
    * `maxFilesPerTrigger` split of an envelope written there is sized
    * from. Listed through Hadoop's FileSystem with the session's Hadoop
    * conf, so the envelope may live on HDFS, S3 or local disk alike.
    */
  private[graph] def parquetFileCount(spark: SparkSession, dir: String)
      : Int = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val files = path.getFileSystem(spark.sessionState.newHadoopConf())
      .listFiles(path, true)
    var n = 0
    while (files.hasNext)
      if (files.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  /** Incremental catch-up form (`Trigger.AvailableNow`, the scheduled-job
    * shape): drain every envelope file not yet processed by this
    * checkpoint into the store, then return. Each invocation picks up
    * exactly the NEW files — the growing-corpus contract
    * [[graft.streaming.StreamingOps.drainAvailable]] proves for
    * relational sinks, here closed over the graph MERGE path.
    */
  def drainIngest(spark: SparkSession, envDir: String, storeDir: String,
      checkpoint: String, keepVersions: Int = 0,
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    // AvailableNow honors source read limits, so `maxFilesPerTrigger`
    // splits one drain into several micro-batches (several commits) —
    // the cheap way to exercise the incremental path without paying a
    // full streaming-query lifecycle per slice
    val reader = spark.readStream.schema(EnvelopeSchema)
      .option("recursiveFileLookup", "true")
    val stream = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(envDir)
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch.sparkSession, batch, storeDir, keepVersions)
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }
}
