package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{ManifestLake, Resources, Tables}
import graft.score.NgramLm

/** One benchmark run of one workload: its set-up, repeated and
  * reported as the median, then its timed phase, then its checks.
  * Prints one JSON object as its last stdout line; `perfbench/run.py`
  * adds the DuckDB oracle checks and prints the final result.
  *
  * Workloads:
  *  - `islands_pipeline`: the paper's DAG over (video, model) pairs, a
  *    cold batch, then an incremental rerun after new videos land;
  *  - `lake_serving`: two readers and a writer on a score lake;
  *  - `corpus_kernels`: five CPU-dense catalog rows over a corpus.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --out <dir> [--tree <id>] */
object Main {

  val Cores = 4
  val SetupReps = 3
  /** Videos of the islands pipeline; each is scored by every model. */
  val PipelineVideos = 500
  val NewShare = 0.10
  /** Videos in the served lake; it holds one row per (video, model). */
  val ServingVids = 500
  val CorpusDocs = 500
  val CorpusCopies = 2
  val KernelPasses = 2

  val Workloads = Seq("islands_pipeline", "lake_serving", "corpus_kernels")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        out: Path, tree: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (known: ${Workloads.mkString(", ")})")
    val t = need("trace")
    require(t == "0" || t == "1", s"--trace must be 0 or 1, got '$t'")
    val secs = need("seconds").toInt
    require(secs >= 1, "--seconds must be at least 1")
    Args(w, need("seed").toLong, secs, t == "1", Paths.get(need("out")).toAbsolutePath,
      m.getOrElse("tree", "unknown"))
  }

  /** What a run measured and checked. `throughput` and `latencyMs` are
    * the workload's headline figures (perfbench/METRICS.md); `named`
    * holds its figures under their own names, for the run summary. */
  final class Run {
    var throughput = 0.0
    var latencyMs = 0.0
    val named = mutable.LinkedHashMap.empty[String, Any]
    val layer = mutable.Map.empty[String, Double]
    var attempted = 0
    var failedOps = 0
    val failures = mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) failures += what
    }
    def ops(xs: Seq[Stats.Sample]): Unit = {
      attempted += xs.size
      failedOps += xs.count(!_.ok)
    }
    /** A percentile for the summary; null when too few samples. */
    def pctl(xs: Seq[Stats.Sample], q: Double): Any =
      Stats.percentile(xs, q).map(_.value).orNull
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.out)
    val (steal0, iowait0) = Host.stallMillis()
    val gc0 = Host.gcMillis()
    val tStart = System.nanoTime()
    val builder = SparkSession.builder().master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.local.dir", a.out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.out.resolve("warehouse").toString)
    Tables.sessionConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (System.nanoTime() - tStart) / 1e9

    val census = if (a.trace) Some(Census.install(spark)) else None
    val tr = new Tracer(a.trace, s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}",
      id => spark.sparkContext.setLocalProperty(Census.SpanProperty,
        if (id == 0) null else id.toString))
    val baseNano = System.nanoTime()
    val baseEpoch = System.currentTimeMillis()
    val phases = mutable.ArrayBuffer.empty[Layers.Phase]
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try tr.span("phase." + name)(body)
      finally {
        phases += ((name, t0, System.nanoTime()))
        System.err.println(f"[perfbench] $name%s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    /** Runs set-up [[SetupReps]] times, each into a fresh directory, and
      * keeps the last one's fixtures. Returns them and each set-up's time.
      * `build` gets `true` on the first set-up, which may also warm the
      * JIT and Spark's code generation on the timed paths: a one-time
      * cost of the JVM, so the median leaves it out. */
    def setUp[F](build: (Path, Boolean) => F): (F, Seq[Double]) = {
      var last: Option[(Path, F)] = None
      val secs = (1 to SetupReps).map { rep =>
        val dir = a.out.resolve(s"fixtures$rep")
        val t0 = System.nanoTime()
        val f = phase("setup")(build(dir, rep == 1))
        val dt = (System.nanoTime() - t0) / 1e9
        last.foreach(l => deleteTree(l._1))
        last = Some((dir, f))
        dt
      }
      (last.get._2, secs)
    }

    val run = new Run
    val setupSecs = a.workload match {
      case "islands_pipeline" =>
        // no warm-up: a batch pipeline starts in a fresh JVM, so the cold
        // batch includes the JIT and code generation of its paths
        val (fx, secs) = setUp((dir, _) => PipelineRun.setup(spark, dir.toString, a.seed, tr))
        PipelineRun.measure(spark, fx, a.seed, tr, run)(phase(_)(_))
        secs
      case "lake_serving" =>
        val (fx, secs) = setUp((dir, warm) => tr.span("lake.seed") {
          Serving.seed(spark, dir.toString, ServingVids, a.seed, warm)
        })
        ServingRun.measure(spark, fx._1, fx._2, a, tr, run)(phase(_)(_))
        secs
      case "corpus_kernels" =>
        val (corpus, secs) = setUp { (dir, _) =>
          val c = dir.resolve("corpus").toString
          Kernels.writeCorpus(DataGen.docFrame(spark, DataGen.documents(CorpusDocs, a.seed)),
            DataGen.embeddings(spark, CorpusDocs * 2 / 5, a.seed), CorpusCopies, 4 * Cores, c)
          c
        }
        val outDir = a.out.resolve("kernels")
        val passes = (1 to KernelPasses).map(_ =>
          phase("kernels")(Kernels.pass(spark, corpus, outDir.toString, tr)))
        passes.flatten.foreach { case (q, _, ok) => run.check(ok, s"$q failed") }
        val passSecs = passes.map(_.map(_._2).sum / 1e9)
        val passS = Stats.median(passSecs)
        run.throughput = CorpusDocs * CorpusCopies / passS
        run.latencyMs = passS * 1e3
        run.named ++= Seq("corpus_pass_s" -> passS, "corpus_pass_s_reps" -> passSecs,
          "corpus_docs" -> CorpusDocs * CorpusCopies, "corpus" -> corpus)
        Files.write(outDir.resolve("oracle.json"),
          Kernels.oracleJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        secs
    }

    val retainedMb = Host.retainedHeapMb()
    val (steal1, iowait1) = Host.stallMillis()
    val gcMs = Host.gcMillis() - gc0
    val setupS = Stats.median(setupSecs)
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "retained_heap_mb" -> (retainedMb, "MB"),
      "throughput_per_s" -> (run.throughput, "1/s"),
      "latency_ms" -> (run.latencyMs, "ms"))
    val layer =
      if (!a.trace) Nil
      else {
        Census.drain(spark)
        tr.writeJsonl(a.out.resolve("spans.jsonl"))
        Files.write(a.out.resolve("layers.json"),
          Layers.table(tr, census.get, phases.toVector, baseNano, baseEpoch)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        Layers.metrics(tr, census.get, phases.toVector, baseNano, baseEpoch, gcMs,
          steal1 - steal0, iowait1 - iowait0, run.layer.toMap)
      }
    spark.stop()

    val failed = run.failures.size + run.failedOps
    run.failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    val metrics = if (a.trace) layer else e2e
    println(Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "attempted" -> run.attempted, "failed" -> failed,
      "failures" -> run.failures.take(20).toSeq,
      "metrics" -> Json.Raw(metrics.map { case (k, (v, u)) =>
        Json.str(k) + ":" + Json.obj("value" -> v, "unit" -> u)
      }.mkString("{", ",", "}")),
      "named" -> Json.Raw(Json.obj(Seq("setup_s" -> setupS, "setup_s_reps" -> setupSecs,
        "retained_heap_mb" -> retainedMb) ++ run.named.toSeq: _*)),
      "e2e_wall_s" -> phases.filter(_._1 != "setup").map(p => (p._3 - p._2) / 1e9).sum,
      "host" -> Map("cores" -> Cores, "available_processors" -> Host.cores,
        "heap_mb" -> Host.heapMb, "tree" -> a.tree,
        "steal_ms" -> (steal1 - steal0), "iowait_ms" -> (iowait1 - iowait0),
        "gc_ms" -> gcMs, "session_start_s" -> sessionStartS)))
    System.out.flush()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally st.close()
    }
}

/** The `islands_pipeline` workload. */
object PipelineRun {

  final case class Fixtures(docs: Vector[DataGen.Doc], videos: String, newVideos: String,
                            models: Vector[(Int, NgramLm.MleLm)], lakes: Pipeline.Lakes)

  def setup(s: SparkSession, dir: String, seed: Long, tr: Tracer): Fixtures = {
    import s.implicits._
    val docs = DataGen.documents(Main.PipelineVideos, seed)
    val docDf = DataGen.docFrame(s, docs)
    val videos = s"$dir/videos.parquet"
    docDf.select($"doc_id".as("vid_id"), $"text").repartition(Main.Cores).write.parquet(videos)
    // the seeded slice of new videos that lands before the incremental rerun
    val newVideos = s"$dir/new_videos.parquet"
    DataGen.replicaDocs(docDf.sample(withReplacement = false, Main.NewShare, seed), 1,
      suffixWords = false)
      .select($"doc_id".as("vid_id"), $"text").repartition(Main.Cores).write.parquet(newVideos)
    // one model per source, trained on a seeded half of its documents
    val models = tr.span("ngram.train") {
      val r = new java.util.SplittableRandom(seed ^ 0x9E3779B97F4A7C15L)
      val bySource = docs.groupBy(_.source)
      (0 until DataGen.Sources).map { m =>
        val half = bySource.getOrElse(s"src$m", Vector.empty).filter(_ => r.nextBoolean())
        m -> NgramLm.train(half.map(d => NgramLm.tokenize(d.text)))
      }.toVector
    }
    Fixtures(docs, videos, newVideos, models, Pipeline.createLakes(dir))
  }

  def measure(spark: SparkSession, fx: Fixtures, seed: Long, tr: Tracer, run: Main.Run)
             (phase: (String, => Pipeline.Batch) => Pipeline.Batch): Unit = {
    val models = fx.models.map { case (m, lm) =>
      m -> spark.sparkContext.broadcast(lm: NgramLm.LmModel)
    }
    val videos = spark.read.parquet(fx.videos)
    val allVideos = videos.unionByName(spark.read.parquet(fx.newVideos))
    val newPairs = spark.read.parquet(fx.newVideos).count() * models.size
    val cold = phase("pipeline_cold", Pipeline.batch(spark, videos, models, fx.lakes, tr))
    val incr = phase("pipeline_incremental", Pipeline.batch(spark, allVideos, models, fx.lakes, tr))
    val rerun = phase("pipeline_rerun", Pipeline.batch(spark, allVideos, models, fx.lakes, tr))
    models.foreach(_._2.destroy())
    run.attempted += 3
    val allPairs = fx.docs.size.toLong * models.size
    run.check(cold.pairs == allPairs, s"cold batch committed ${cold.pairs} pairs, expected $allPairs")
    run.check(incr.pairs == newPairs,
      s"incremental rerun committed ${incr.pairs} pairs, expected exactly the $newPairs new ones")
    run.check(ManifestLake.read(spark, fx.lakes.score).count() == allPairs + newPairs,
      "the score lake does not hold every pair exactly once after the rerun")
    run.check(rerun.pairs == 0 && rerun.scoreVersion == incr.scoreVersion &&
      rerun.islandVersion == incr.islandVersion,
      s"a rerun with nothing pending committed (pairs ${rerun.pairs}, score lake " +
        s"v${incr.scoreVersion}→v${rerun.scoreVersion}, island lake " +
        s"v${incr.islandVersion}→v${rerun.islandVersion})")
    // islands of a seeded sample of pairs against a driver-side recomputation
    val rnd = new java.util.SplittableRandom(seed * 7 + 3)
    val sample = Vector.fill(40)((fx.docs(rnd.nextInt(fx.docs.size)), rnd.nextInt(models.size)))
    val got = ManifestLake.read(spark, fx.lakes.island)
      .filter(col("vid_id").isin(sample.map(_._1.doc_id): _*))
      .select("vid_id", "model_id", "start_idx", "end_idx").collect()
      .groupBy(r => (r.getLong(0), r.getInt(1)))
      .map { case (k, rs) => k -> rs.map(r => (r.getInt(2), r.getInt(3))).toSeq.sorted }
    sample.foreach { case (d, m) =>
      val want = Pipeline.expectedIslands(d.text, fx.models(m)._2)
      val have = got.getOrElse((d.doc_id, m), Seq.empty)
      run.check(have == want, s"islands of (vid ${d.doc_id}, model $m): $have, expected $want")
    }
    Resources.release()

    val pairsPerS = cold.pairs / (cold.wallNanos / 1e9)
    run.throughput = pairsPerS
    run.latencyMs = incr.wallNanos / 1e6
    run.named ++= Seq("pairs_per_s" -> pairsPerS, "incremental_s" -> incr.wallNanos / 1e9,
      "cold_pairs" -> cold.pairs, "new_pairs" -> incr.pairs)
    if (tr.enabled) run.layer ++= Map(
      "ngram.model_bytes" ->
        fx.models.map(m => NgramLm.serializeModel(m._2).length.toLong).sum.toDouble,
      "ngram.items_scored" -> (cold.items + incr.items).toDouble,
      "islands.found" -> (cold.islands + incr.islands).toDouble,
      "islands.pair_hit_ratio" -> (cold.pairsWithIsland + incr.pairsWithIsland).toDouble /
        math.max(1L, cold.pairs + incr.pairs),
      "cold.pairs" -> cold.pairs.toDouble, "cold.ngram.items_scored" -> cold.items.toDouble,
      "incr.pairs" -> incr.pairs.toDouble, "incr.ngram.items_scored" -> incr.items.toDouble)
  }
}

/** The `lake_serving` workload. */
object ServingRun {
  def measure(spark: SparkSession, d: Serving.Dirs, state: Serving.State, a: Main.Args,
              tr: Tracer, run: Main.Run)
             (phase: (String, => Serving.Result) => Serving.Result): Unit = {
    val r = phase("serving",
      Serving.run(spark, d, state, Main.ServingVids, a.seconds, a.seed, tr))
    Seq(r.point, r.range, r.upsert, r.retract, r.refresh, r.maintenance).foreach(run.ops)
    run.attempted += r.checks
    run.failures ++= r.checksFailed
    val spaceAmp = Serving.spaceAmp(d)
    run.throughput = r.opsPerSec
    run.latencyMs = Stats.percentile(r.point, 0.5).fold(Double.PositiveInfinity)(_.value)
    run.named ++= Seq(
      "point_read_p50_ms" -> run.pctl(r.point, 0.5), "point_read_p90_ms" -> run.pctl(r.point, 0.9),
      "range_read_p50_ms" -> run.pctl(r.range, 0.5),
      "upsert_p50_ms" -> run.pctl(r.upsert, 0.5), "upsert_p90_ms" -> run.pctl(r.upsert, 0.9),
      "view_refresh_p50_ms" -> run.pctl(r.refresh, 0.5),
      "lake_ops_per_s" -> r.opsPerSec, "space_amp" -> spaceAmp,
      "samples" -> Map("point_read" -> r.point.size, "range_read" -> r.range.size,
        "upsert" -> r.upsert.size, "retract" -> r.retract.size,
        "view_refresh" -> r.refresh.size, "maintenance" -> r.maintenance.size))
    run.layer ++= r.layer
  }
}
