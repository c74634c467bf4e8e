package perfbench

/** Per-layer figures of a traced run, from its spans and the Spark
  * census. Phases run one after another, so a job belongs to the phase
  * whose window holds its start. */
object Layers {

  type Phase = (String, Long, Long)

  private def epochOf(nano: Long, baseNano: Long, baseEpoch: Long): Long =
    baseEpoch + (nano - baseNano) / 1000000L

  private def jobsIn(c: Census, windows: Seq[(Long, Long)]): Vector[Census.JobRec] =
    c.jobRecords.filter(j => windows.exists { case (s, e) => j.startMs >= s && j.startMs <= e })

  /** A query's planning record is stamped when the listener bus
    * delivers it, which can trail the query's end; a second of slack
    * keeps a phase's last queries in that phase. */
  private def plansIn(c: Census, windows: Seq[(Long, Long)]): Double =
    c.planRecords.filter(p => windows.exists { case (s, e) => p._1 >= s && p._1 <= e + 1000 })
      .map(_._2).sum

  /** Spark figures over the given epoch-ms windows. */
  private def spark(c: Census, windows: Seq[(Long, Long)]): Map[String, Double] = {
    val js = jobsIn(c, windows)
    val wallMs = windows.map { case (s, e) => e - s }.sum
    val busyMs = Stats.unionLength(js.map(j => (j.startMs, j.endMs)))
    Map("jobs" -> js.size.toDouble, "stages" -> js.map(_.stages).sum.toDouble,
      "tasks" -> js.map(_.tasks).sum.toDouble, "job_s" -> busyMs / 1e3,
      "driver_gap_s" -> math.max(0L, wallMs - busyMs) / 1e3,
      "task_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
      "task_deser_ms" -> js.map(_.deserMs).sum.toDouble,
      "shuffle_write_bytes" -> js.map(_.shuffleWriteBytes).sum.toDouble,
      "input_bytes" -> js.map(_.inputBytes).sum.toDouble,
      "plan_ms" -> plansIn(c, windows))
  }

  /** Every per-layer metric with its unit, in print order. A traced
    * run prints all of them; one its workload does not reach reads 0. */
  val Units: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.plan_ms" -> "ms", "spark.driver_gap_s" -> "s", "spark.job_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.task_deser_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes", "spark.input_bytes" -> "bytes",
    "spark.gc_ms" -> "ms",
    "ngram.train_s" -> "s", "ngram.model_bytes" -> "bytes",
    "ngram.items_scored" -> "count", "ngram.score_s" -> "s",
    "islands.smooth_s" -> "s", "islands.find_s" -> "s", "islands.time_ranges_s" -> "s",
    "islands.found" -> "count", "islands.pair_hit_ratio" -> "ratio",
    "lake.pending_s" -> "s",
    "lake.merge_ms" -> "ms", "lake.dv_delete_ms" -> "ms", "lake.commits" -> "count",
    "lake.files_added" -> "count", "lake.files_removed" -> "count",
    "lake.write_amp" -> "ratio",
    "lake.snapshot_ms" -> "ms", "lake.files_kept_ratio" -> "ratio",
    "lake.read_point_ms" -> "ms", "lake.read_range_ms" -> "ms",
    "lake.compact_s" -> "s", "lake.compact_bytes_rewritten" -> "bytes",
    "lake.vacuum_s" -> "s", "lake.vacuum_files_deleted" -> "count",
    "lake.live_files" -> "count",
    "cdf.window_versions" -> "count", "cdf.rows" -> "count",
    "view.refresh_s" -> "s", "view.lag_versions" -> "count",
    "kernel.q28_s" -> "s", "kernel.q66_s" -> "s", "kernel.q103_s" -> "s",
    "kernel.q99_s" -> "s", "kernel.q31_s" -> "s",
    "host.steal_ms" -> "ms", "host.iowait_ms" -> "ms",
    "cold.pairs" -> "count", "cold.ngram.items_scored" -> "count",
    "cold.spark.tasks" -> "count",
    "incr.pairs" -> "count", "incr.ngram.items_scored" -> "count",
    "incr.spark.tasks" -> "count",
    "trace.spans" -> "count")

  /** Per-layer metrics of a traced run: span self times and counts,
    * Spark census figures, and `extra` readings the workload took at
    * its layer boundaries. */
  def metrics(tr: Tracer, c: Census, phases: Vector[Phase], baseNano: Long, baseEpoch: Long,
              gcMs: Long, stealMs: Long, iowaitMs: Long,
              extra: Map[String, Double]): Seq[(String, (Double, String))] = {
    val spans = tr.spans
    val self = tr.selfNanos
    def named(n: String) = spans.filter(_.name == n)
    def selfS(n: String): Double = named(n).map(sp => self(sp.id)).sum / 1e9
    def medMs(n: String, useSelf: Boolean = false): Double = {
      val xs = named(n).map(sp => (if (useSelf) self(sp.id) else sp.end - sp.start) / 1e6)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def windows(p: String) = phases.filter(_._1 == p)
      .map(x => (epochOf(x._2, baseNano, baseEpoch), epochOf(x._3, baseNano, baseEpoch)))
    // the run's Spark figures cover its timed phases, not its set-ups
    val all = spark(c, phases.filter(_._1 != "setup").map(x =>
      (epochOf(x._2, baseNano, baseEpoch), epochOf(x._3, baseNano, baseEpoch))))
    val measured: Map[String, Double] = Map(
      "spark.gc_ms" -> gcMs.toDouble,
      "ngram.train_s" -> medMs("ngram.train") / 1e3,
      "ngram.score_s" -> selfS("ngram.score"),
      "islands.smooth_s" -> selfS("islands.smooth"),
      "islands.find_s" -> selfS("islands.find"),
      "islands.time_ranges_s" -> selfS("islands.time_ranges"),
      "lake.pending_s" -> selfS("lake.pending"),
      "lake.merge_ms" -> medMs("lake.merge"),
      "lake.dv_delete_ms" -> medMs("lake.dv_delete"),
      "lake.commits" -> Seq("lake.append", "lake.merge", "lake.dv_delete", "lake.compact")
        .map(named(_).size).sum.toDouble,
      "lake.snapshot_ms" -> medMs("lake.snapshot"),
      "lake.read_point_ms" -> medMs("lake.read_point", useSelf = true),
      "lake.read_range_ms" -> medMs("lake.read_range"),
      "lake.compact_s" -> selfS("lake.compact"),
      "lake.vacuum_s" -> selfS("lake.vacuum"),
      "view.refresh_s" -> medMs("view.refresh") / 1e3,
      "host.steal_ms" -> stealMs.toDouble,
      "host.iowait_ms" -> iowaitMs.toDouble,
      "cold.spark.tasks" -> spark(c, windows("pipeline_cold"))("tasks"),
      "incr.spark.tasks" -> spark(c, windows("pipeline_incremental"))("tasks"),
      "trace.spans" -> spans.size.toDouble
    ) ++ all.map { case (k, v) => s"spark.$k" -> v } ++
      Kernels.Rows.map(q => s"${Kernels.spanName(q)}_s" -> medMs(Kernels.spanName(q)) / 1e3)
    val values = measured ++ extra
    Units.map { case (k, u) => k -> (values.getOrElse(k, 0.0), u) }
  }

  /** The layer table of one traced run, as JSON: per phase, its wall
    * time, Spark figures, and each layer's span count and self time.
    * Within a phase the self times of its spans sum to the thread time
    * the benchmark spent there (the serving phase runs three threads). */
  def table(tr: Tracer, c: Census, phases: Vector[Phase], baseNano: Long, baseEpoch: Long): String = {
    val spans = tr.spans
    val self = tr.selfNanos
    val byId = spans.map(sp => sp.id -> sp).toMap
    def root(sp: Span): Span = byId.get(sp.parent).fold(sp)(root)
    val rows = phases.map(_._1).distinct.map { p =>
      val ws = phases.filter(_._1 == p)
      val wall = ws.map(x => x._3 - x._2).sum / 1e9
      val mine = spans.filter(sp => root(sp).name == "phase." + p)
      val layers = mine.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
        name -> Map("spans" -> ss.size, "self_s" -> ss.map(sp => self(sp.id)).sum / 1e9)
      }.toMap
      p -> Map("wall_s" -> wall, "runs" -> ws.size,
        "spark" -> spark(c, ws.map(x => (epochOf(x._2, baseNano, baseEpoch),
          epochOf(x._3, baseNano, baseEpoch)))),
        "layers" -> layers)
    }
    Json.value(rows.toMap)
  }
}
