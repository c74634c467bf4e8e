package perfbench

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{ManifestLake, Resources}
import graft.islands.{IslandMath, Islands}
import graft.score.NgramLm

/** The paper's workload as one DAG: pending (video, model) pairs →
  * n-gram scores → Gaussian smoothing → islands → timestamp ranges →
  * commits into a score lake and an island lake. Runs again after new
  * videos land, when only the new pairs are pending. */
object Pipeline {

  // The reference defaults (build_islands_from_scores.py).
  val Threshold = 0.6
  val MinLen = 8
  val SmoothSize = 10
  val Sigma = 5.0
  val PadSec = 5.0
  val WordsPerSegment = 8
  val SegmentSec = 10.0
  /** pair_id = vid_id · PairBase + model_id. */
  val PairBase = 1000L

  private val kernel = IslandMath.gaussianKernel(SmoothSize, Sigma)
  // Islands.smoothUdf is private to the engine, so the benchmark wraps
  // the same public function in its own UDF.
  private val smoothUdf = udf { v: Seq[Double] =>
    IslandMath.smooth(v.toArray, kernel, SmoothSize).toSeq
  }

  final case class Lakes(score: String, island: String)

  val scoreSchema: StructType = StructType(Seq(
    StructField("vid_id", LongType), StructField("model_id", IntegerType),
    StructField("n_items", IntegerType), StructField("mean_score", DoubleType)))
  val islandSchema: StructType = StructType(Seq(
    StructField("vid_id", LongType), StructField("model_id", IntegerType),
    StructField("start_idx", IntegerType), StructField("end_idx", IntegerType),
    StructField("word_start", IntegerType), StructField("word_end", IntegerType),
    StructField("time_start_sec", DoubleType), StructField("time_end_sec", DoubleType)))

  def createLakes(dir: String): Lakes = {
    val l = Lakes(s"$dir/score_lake", s"$dir/island_lake")
    ManifestLake.create(l.score, scoreSchema, "model_id",
      statsCols = Seq("vid_id"), bloomCols = Seq("vid_id"))
    ManifestLake.create(l.island, islandSchema, "model_id",
      statsCols = Seq("vid_id"), bloomCols = Seq("vid_id"))
    l
  }

  /** What one batch did. `items` and `islands` are counted only in
    * traced runs (they cost an extra pass); -1 otherwise. */
  final case class Batch(pairs: Long, wallNanos: Long, items: Long, islands: Long,
                         pairsWithIsland: Long, scoreVersion: Long, islandVersion: Long)

  /** One batch over `videos` (vid_id, text). In a traced run every
    * layer's output is persisted and counted inside its span, so each
    * span's self time is that layer's own work; untraced, the DAG runs
    * lazily and only the pending and scored pairs are cached, for the
    * per-model scoring legs and the two commits. With nothing pending
    * the batch ends after the anti-join. */
  def batch(s: SparkSession, videos: DataFrame, models: Seq[(Int, Broadcast[NgramLm.LmModel])],
            lakes: Lakes, tr: Tracer): Batch = {
    val t0 = System.nanoTime()
    val parallelism = s.sparkContext.defaultParallelism
    def stage(name: String)(df: => DataFrame): DataFrame =
      tr.span(name) {
        val out = df
        if (tr.enabled) { Resources.persist(out).count(); out } else out
      }
    val pending = tr.span("lake.pending") {
      val out = videos.crossJoin(s.range(models.size).select(col("id").cast("int").as("model_id")))
        .join(ManifestLake.read(s, lakes.score).select("vid_id", "model_id"),
          Seq("vid_id", "model_id"), "left_anti")
        .repartition(parallelism)
      // every model's scoring leg reads the pending pairs
      Resources.persist(out)
      if (tr.enabled) out.count()
      out
    }
    if (pending.isEmpty) {
      Resources.release()
      val v = (d: String) => ManifestLake.latestSnapshot(d).fold(0L)(_.version)
      return Batch(0L, System.nanoTime() - t0, 0L, 0L, 0L, v(lakes.score), v(lakes.island))
    }
    val scored = tr.span("ngram.score") {
      val bcs = models.toMap
      val out = models.map { case (m, _) =>
        NgramLm.scoreColumn(pending.filter(col("model_id") === m), "text", bcs(m))
      }.reduce(_ unionByName _)
        .withColumn("pair_id", col("vid_id") * PairBase + col("model_id"))
        // one partition per core, not one per (model, pending partition)
        .coalesce(parallelism)
      Resources.persist(out)
      if (tr.enabled) out.count()
      out
    }
    val smoothed = stage("islands.smooth") {
      scored.select(col("pair_id"), smoothUdf(col("score")).as("smoothed"))
    }
    val islands = stage("islands.find") {
      Islands.islandsFromArray(smoothed, "pair_id", "smoothed", Threshold, MinLen)
        .withColumn("word_start", col("start_idx") + 1)
        .withColumn("word_end", col("end_idx") + NgramLm.N)
    }
    val ranged = stage("islands.time_ranges") {
      // segments of WordsPerSegment words each, SegmentSec long, per
      // scored pair — derived from word positions as q35 does
      val segments = scored
        .select(col("pair_id").as("seg_pair_id"),
          explode(sequence(lit(0), ((size(col("score")) - 1) / WordsPerSegment).cast("int")))
            .as("i"))
        .select(col("seg_pair_id"),
          (col("i") * WordsPerSegment + 1).as("seg_start_word"),
          ((col("i") + 1) * WordsPerSegment).as("seg_end_word"),
          (col("i") * SegmentSec).as("seg_start"),
          lit(SegmentSec).as("seg_duration"))
      Islands.timeRanges(islands, segments, "pair_id", PadSec)
    }
    val scoreRows = scored.select(col("vid_id"), col("model_id"),
      size(col("score")).as("n_items"),
      (aggregate(col("score"), lit(0.0), (a, x) => a + x) /
        greatest(size(col("score")), lit(1))).as("mean_score"))
    val islandRows = ranged.select(
      (col("pair_id") / PairBase).cast("long").as("vid_id"),
      (col("pair_id") % PairBase).cast("int").as("model_id"),
      col("start_idx").cast("int"), col("end_idx").cast("int"),
      col("word_start").cast("int"), col("word_end").cast("int"),
      col("time_start_sec"), col("time_end_sec"))
    val pairs = commit(s, lakes.score, scoreRows, Seq("vid_id", "model_id"), tr)
    commit(s, lakes.island, islandRows, Seq("vid_id", "model_id", "start_idx"), tr)
    val wall = System.nanoTime() - t0
    // traced-only counts, outside the batch's wall time
    val (items, nIslands, hit) =
      if (!tr.enabled) (-1L, -1L, -1L)
      else {
        val it = scored.agg(coalesce(sum(size(col("score"))), lit(0L))).head().getLong(0)
        val isl = ranged.agg(count(lit(1)), countDistinct(col("pair_id"))).head()
        (it, isl.getLong(0), isl.getLong(1))
      }
    Resources.release()
    Batch(pairs, wall, items, nIslands, hit,
      ManifestLake.latestSnapshot(lakes.score).fold(0L)(_.version),
      ManifestLake.latestSnapshot(lakes.island).fold(0L)(_.version))
  }

  /** Upserts `rows` into a lake and returns the rows committed. The
    * engine refuses a merge into a lake without files (that is an
    * append), so the first batch appends. */
  private def commit(s: SparkSession, dir: String, rows: DataFrame, keys: Seq[String],
                     tr: Tracer): Long = {
    val before = ManifestLake.latestSnapshot(dir).get
    if (before.files.isEmpty) tr.span("lake.append") {
      val after = ManifestLake.append(s, dir, rows, "model_id",
        statsCols = Seq("vid_id"), bloomCols = Seq("vid_id"))
      after.files.filterNot(before.files.toSet).map(after.rows.getOrElse(_, 0L)).sum
    } else tr.span("lake.merge") {
      val m = ManifestLake.merge(s, dir, rows, keys)
      m.rowsInserted + m.rowsUpdated
    }
  }

  /** Driver-side recomputation of one pair's islands with the public
    * scalar functions: the reference the Spark pipeline must equal. */
  def expectedIslands(text: String, model: NgramLm.LmModel): Seq[(Int, Int)] = {
    val scores = NgramLm.items(NgramLm.tokenize(text)).map { case (w, c) => model.score(w, c) }
    IslandMath.findIslands(IslandMath.smooth(scores.toArray, kernel, SmoothSize),
      Threshold, MinLen)
  }
}
