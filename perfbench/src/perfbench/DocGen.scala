package perfbench

import scala.util.Random

final case class Doc(docId: Long, text: String, lang: String,
    source: String) {
  def nChars: Long = text.length.toLong
}

/** A generated corpus in the `documents` schema
  * (`doc_id, text, lang, source, n_chars`): Zipf-distributed vocabulary,
  * plus near-duplicate clusters planted at `dupRate` — each planted copy
  * is its base document with one token replaced, so a planted pair's
  * trigram Jaccard is about 0.9.
  */
final case class Corpus(docs: Seq[Doc], clusters: Seq[Seq[Long]]) {
  /** Planted near-duplicate pairs (doc_a < doc_b). */
  lazy val pairs: Set[(Long, Long)] = clusters.flatMap { c =>
    for (a <- c; b <- c if a < b) yield (a, b)
  }.toSet
  lazy val sourceOf: Map[Long, String] =
    docs.map(d => d.docId -> d.source).toMap
  /** Source pairs (src_a < src_b) joined by at least one planted pair. */
  lazy val sourcePairs: Set[(String, String)] = pairs.collect {
    case (a, b) if sourceOf(a) != sourceOf(b) =>
      val (x, y) = (sourceOf(a), sourceOf(b))
      if (x < y) (x, y) else (y, x)
  }
}

object DocGen {
  private val Langs = Vector("en", "de", "fr", "es")

  def generate(seed: Long, nDocs: Int, vocab: Int, dupRate: Double,
      sources: Int): Corpus = {
    val rnd = new Random(seed)
    val zipf = new Zipf(vocab, 1.0, rnd)
    def word(i: Int): String = "w" + Integer.toString(i, 36)
    def fresh(): Vector[String] =
      Vector.fill(40 + rnd.nextInt(40))(word(zipf.next()))
    val docs = Vector.newBuilder[Doc]
    val clusters = Seq.newBuilder[Seq[Long]]
    var id = 0L
    def source(): String = f"src${rnd.nextInt(sources)}%02d"
    def lang(): String = Langs(rnd.nextInt(Langs.size))
    while (id < nDocs) {
      val base = fresh()
      val baseId = id
      docs += Doc(baseId, base.mkString(" "), lang(), source())
      id += 1
      if (rnd.nextDouble() < dupRate && id < nDocs) {
        val copies = math.min(1 + rnd.nextInt(3), nDocs - id.toInt)
        val ids = (0 until copies).map { _ =>
          val pos = rnd.nextInt(base.size)
          // a token outside the Zipf range: unique to this copy
          val edited = base.updated(pos, "x" + id)
          docs += Doc(id, edited.mkString(" "), lang(), source())
          id += 1
          id - 1
        }
        clusters += (baseId +: ids)
      }
    }
    Corpus(docs.result(), clusters.result())
  }
}
