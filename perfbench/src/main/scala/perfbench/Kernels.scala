package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.core.Resources

/** The CPU-dense catalog rows over a replicated corpus, each run to
  * completion into a parquet sink. The written result is what the
  * DuckDB oracle check reads, so the checked output is the timed one;
  * the rows' results are small, so the sink adds little to a pass. */
object Kernels {

  val Rows: Seq[String] = Seq("q28_jaccard_neardup", "q66_lsh_verified",
    "q103_winnow_fingerprints", "q99_cdc_chunks", "q31_cosine_topk")

  /** Span name of a row: `kernel.q28` for `q28_jaccard_neardup`. */
  def spanName(row: String): String = "kernel." + row.takeWhile(_ != '_')

  /** Writes `copies` replicas of the documents and embeddings tables
    * into `dir` as `files` files each, the layout the rows read. */
  def writeCorpus(docs: DataFrame, emb: DataFrame, copies: Int, files: Int, dir: String): Unit = {
    (0 until copies).map(DataGen.replicaDocs(docs, _, suffixWords = true))
      .reduce(_ unionByName _).repartition(files)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (0 until copies).map(DataGen.replicaEmbeddings(emb, _))
      .reduce(_ unionByName _).repartition(files)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** One pass over [[Rows]], each result written to `outDir/<row>`:
    * (row, wall nanos, ok) per row. */
  def pass(s: SparkSession, dir: String, outDir: String, tr: Tracer): Seq[(String, Long, Boolean)] =
    Rows.map { q =>
      val t0 = System.nanoTime()
      val ok =
        try {
          tr.span(spanName(q)) {
            SparkEntry.queries(q)(s, dir).write.mode("overwrite").parquet(s"$outDir/$q")
          }
          true
        } catch { case e: Throwable => System.err.println(s"[perfbench] $q failed: $e"); false }
        finally Resources.release()
      (q, System.nanoTime() - t0, ok)
    }

  /** Each row's DuckDB oracle SQL, as a JSON object by row name. */
  def oracleJson: String = Json.value(Rows.map(q => q -> SparkEntry.oracleSql(q)).toMap)
}
