package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generation. Every input of a run comes from its `--seed`:
  * the same seed gives byte-identical corpora, query streams, refresh
  * batches and event batches.
  *
  * The corpus has the shape of graft's sf0.1 test data (5,000 documents,
  * 2,000 unit-norm 64-d vectors in 10 labelled clusters, the 30-word
  * engine vocabulary, 10-100 words per document, 5 languages, 20
  * sources), so the library sees the same term statistics it is tuned on.
  */
object Gen {
  val Vocab: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  val Langs: Array[String] = Array("en", "en", "en", "en", "en", "en", "fr", "fr",
    "zh", "zh", "de", "de", "es", "es")
  val Dim = 64
  val Cells = 10
  val EventTypes: Array[String] = Array("click", "view", "purchase")

  final case class Doc(doc_id: Long, text: String, lang: String, source: String,
                       n_chars: Long)
  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)
  final case class Event(event_id: Long, user_id: Long, event_type: String,
                         value: Double, ts: java.sql.Timestamp)

  /** Cumulative Zipf(s) distribution over ranks 0..n-1. */
  def zipf(n: Int, s: Double): Array[Double] = {
    val w = (1 to n).map(r => 1.0 / math.pow(r, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }

  def draw(cdf: Array[Double], r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  private val wordCdf = zipf(Vocab.length, 0.3)
  private val queryCdf = zipf(Vocab.length, 1.0)

  def text(r: SplittableRandom): String =
    Seq.fill(10 + r.nextInt(91))(Vocab(draw(wordCdf, r))).mkString(" ")

  def doc(r: SplittableRandom, id: Long): Doc = {
    val t = text(r)
    Doc(id, t, Langs(r.nextInt(Langs.length)), s"src${r.nextInt(20)}", t.length.toLong)
  }

  /** Up to `n` distinct query terms drawn Zipf(1) by corpus-frequency rank. */
  def queryTerms(r: SplittableRandom, n: Int): Seq[String] =
    Seq.fill(n)(Vocab(draw(queryCdf, r))).distinct

  def centers(r: SplittableRandom): Array[Array[Double]] =
    Array.fill(Cells)(normalize(Array.fill(Dim)(r.nextGaussian())))

  def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  def emb(r: SplittableRandom, cents: Array[Array[Double]], id: Long): Emb = {
    val c = r.nextInt(Cells)
    val v = normalize(cents(c).map(_ * 0.6 + r.nextGaussian() * 0.12))
    Emb(id, v.map(_.toFloat), c)
  }

  def docsFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(docs)

  def embsFrame(spark: SparkSession, embs: Seq[Emb]): DataFrame =
    spark.createDataFrame(embs)

  /** Write a corpus directory the way graft's tables are laid out
    * (`documents.parquet`, `embeddings.parquet`).
    */
  def writeCorpus(spark: SparkSession, dir: String, docs: Seq[Doc],
                  embs: Seq[Emb]): Unit = {
    docsFrame(spark, docs).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    embsFrame(spark, embs).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
  }

  /** sf0.1-shaped corpus: `nDocs` documents, vectors for the first
    * `nVecs` of them (vec_id = doc_id), ids from `ids`.
    */
  def corpus(r: SplittableRandom, ids: IndexedSeq[Long], nVecs: Int)
      : (IndexedSeq[Doc], IndexedSeq[Emb], Array[Array[Double]]) = {
    val cents = centers(r)
    val docs = ids.map(doc(r, _))
    val embs = ids.take(nVecs).map(emb(r, cents, _))
    (docs, embs, cents)
  }

  /** Seeded Fisher-Yates shuffle. */
  def shuffle[T: scala.reflect.ClassTag](r: SplittableRandom, xs: Seq[T]): Seq[T] = {
    val a = xs.toArray
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}
