package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** corpus_dedup: a batch workload; each pass runs the six declared
  * near-duplicate and overlap queries once, through `SparkEntry.queries`,
  * over a generated `documents.parquet` with planted near-duplicate
  * clusters.
  */
object CorpusDedup {
  val NDocs = 1000
  val Vocab = 5000
  val DupRate = 0.1
  val Sources = 20
  val SetupReps = 3
  /** Recall floors of the probabilistic candidate generators (MinHash
    * LSH with 16 hashes in 4 bands, 32-bit SimHash at Hamming ≤ 3); the
    * exact shingle joins must find every planted pair.
    */
  val LshRecall = 0.9

  def write(spark: SparkSession, dir: Path, c: Corpus): String = {
    import spark.implicits._
    c.docs.map(d => (d.docId, d.text, d.lang, d.source, d.nChars))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
    dir.toString
  }

  def query(b: Bench, dir: String, q: String): Array[Row] =
    b.tr.span("text.query", q) {
      val df = graft.SparkEntry.queries(q)(b.spark, dir)
      b.tr.span("exec.action", s"text.$q") {
        val rows = df.collect()
        b.tr.rows(rows.length)
        rows
      }
    }

  def run(b: Bench): Result = {
    val genTimes = mutable.ArrayBuffer.empty[Double]
    // every set-up writes to a fresh directory: the session pins a
    // table's file listing at first read, so a path is never rewritten
    val ((dir, corpus), setupS) = Bench.setup(b, SetupReps) { rep =>
      val t0 = System.nanoTime()
      val corpus = DocGen.generate(b.args.seed, NDocs, Vocab, DupRate, Sources)
      val dir = write(b.spark, b.fresh(s"corpus-$rep"), corpus)
      genTimes += Bench.secs(t0)
      (dir, corpus)
    } { _ => () } { _ =>
      // the same six queries on a small corpus of the same shape
      val small = DocGen.generate(b.args.seed + 1, NDocs / 10, Vocab, DupRate,
        Sources)
      val wdir = write(b.spark, b.fresh("warm-corpus"), small)
      Layers.TextQueries.foreach(q => query(b, wdir, q))
    }
    b.counters("bench.gen_s") = Stats.median(genTimes.toSeq)

    def recall(got: Set[(Long, Long)]): Double =
      corpus.pairs.count(got.contains).toDouble / corpus.pairs.size
    def verify(q: String, rows: Array[Row], first: Boolean): Unit = {
      if (q == "l27_source_overlap") {
        val got = rows.map(r => (r.getString(0), r.getString(1))).toSet
        val missed = corpus.sourcePairs.diff(got)
        b.ensure(missed.isEmpty, s"$q misses ${missed.size} of " +
          s"${corpus.sourcePairs.size} planted source pairs")
      } else {
        val r = recall(rows.map(x => (x.getLong(0), x.getLong(1))).toSet)
        val floor = q match {
          case "l2c_ngram_jaccard" | "l48_containment" => 1.0
          case _ => LshRecall
        }
        b.ensure(r >= floor, f"$q recall $r%.3f below $floor")
      }
      if (first) b.digest.addAll(rows.map(q + "|" + _))
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
      Layers.TextQueries.foreach { q =>
        val (ms, _) = b.op(q)(query(b, dir, q))(verify(q, _, pass == 0))
        b.sample(q, ms)
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
    b.checkDigest(s"s${b.args.seed}-n$NDocs")
    Result(setupS, b.lat("pass").toSeq, NDocs * pass / loopS)
  }
}
