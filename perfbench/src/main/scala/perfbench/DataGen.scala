package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs in the shape of the sf0.1 testdata tables: the same
  * seed gives the same rows. The engine only ever sees what this
  * writes. */
object DataGen {

  val Vocab: Vector[String] = Vector("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")
  val Langs: Vector[(String, Double)] =
    Vector("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)
  val Sources = 20
  val Dim = 64
  val Labels = 10

  final case class Doc(doc_id: Long, text: String, lang: String, source: String,
                       n_chars: Long)

  /** Cumulative Zipf weights over n ranks; exponent 0 is uniform. */
  def zipfCdf(n: Int, exponent: Double): Array[Double] = {
    val w = (1 to n).map(r => 1.0 / math.pow(r.toDouble, exponent))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  def draw(cdf: Array[Double], r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  /** `n` documents: 10–100 words from the testdata vocabulary, source
    * `src<doc_id mod 20>`, 5 % near-duplicates (an earlier document's
    * text plus " dup"). */
  def documents(n: Int, seed: Long): Vector[Doc] = {
    val r = new SplittableRandom(seed)
    val langCdf = Langs.map(_._2).scanLeft(0.0)(_ + _).tail.toArray
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val text =
        if (i > 20 && r.nextDouble() < 0.05)
          texts(r.nextInt(i)) + " dup"
        else Vector.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.size))).mkString(" ")
      texts(i) = text
      Doc(i.toLong, text, Langs(draw(langCdf, r))._1, s"src${i % Sources}", text.length.toLong)
    }.toVector
  }

  /** `n` unit vectors around [[Labels]] cluster centres. */
  def embeddings(s: SparkSession, n: Int, seed: Long): DataFrame = {
    import s.implicits._
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    def gauss(): Double = {
      val u = math.max(r.nextDouble(), 1e-12)
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    val centres = Array.fill(Labels, Dim)(gauss())
    (0 until n).map { i =>
      val label = r.nextInt(Labels)
      val v = Array.tabulate(Dim)(d => centres(label)(d) * 0.5 + gauss())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }.toDF("vec_id", "embedding", "label")
  }

  def docFrame(s: SparkSession, docs: Seq[Doc]): DataFrame = {
    import s.implicits._
    docs.toDF()
  }

  /** Replica `k` of the documents table under the replica rule of
    * `graft.ScaleData`: ids offset by k·1e6 and, with `suffixWords`,
    * every word suffixed `_k` so the replica's signatures are
    * independent of the original's. */
  def replicaDocs(docs: DataFrame, k: Int, suffixWords: Boolean): DataFrame =
    if (k == 0) docs
    else {
      val shifted = docs.withColumn("doc_id", col("doc_id") + lit(k * 1000000L))
      if (!suffixWords) shifted
      else shifted
        .withColumn("text", concat_ws(" ",
          expr(s"transform(split(trim(text), '\\\\s+'), w -> concat(w, '_$k'))")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }

  /** Replica `k` of the embeddings table (ScaleData's rule: ids offset
    * by k·1e6, vectors rotated by k positions). */
  def replicaEmbeddings(emb: DataFrame, k: Int): DataFrame =
    if (k == 0) emb
    else emb
      .withColumn("vec_id", col("vec_id") + lit(k * 1000000L))
      .withColumn("embedding", expr(
        s"transform(embedding, (x, i) -> embedding[pmod(i + $k, size(embedding))])"))
}
