package perfbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{ManifestLake, Resources}

/** The score lake as analysts and view maintainers use it: a closed
  * loop of two readers and one writer on one session. Every read is
  * checked against the writer's shadow model of acknowledged writes. */
object Serving {

  val Models = 20
  val RowsPerFile = 125L
  val UpsertRows = 50
  val RetractVids = 5
  val RefreshEvery = 2
  val MaintainEvery = 4
  val RangeWidth = 50L
  /** Bytes of one submitted row as fixed-width values (8 + 4 + 4 + 4 + 8). */
  val RowBytes = 28L

  final case class Dirs(lake: String, view: String, checkpoint: String)

  /** A lake row's payload, keyed by (vid_id, model_id). */
  final case class Cell(nItems: Int, nIslands: Int, rev: Long)
  /** Shadow state, vid-major so a range check touches only its vids. */
  type State = Map[Long, Map[Int, Cell]]

  /** Zipf exponent over videos by recency: reads and writes favour
    * recent videos. */
  val RecencySkew = 1.0

  val schema: StructType = StructType(Seq(
    StructField("vid_id", LongType), StructField("model_id", IntegerType),
    StructField("n_items", IntegerType), StructField("n_islands", IntegerType),
    StructField("rev", LongType)))
  val viewSchema: StructType = StructType(Seq(
    StructField("model_id", IntegerType), StructField("n_pairs", LongType),
    StructField("islands", LongType)))
  val viewAggs = Seq(ManifestLake.AggSpec("n_pairs", "count"),
    ManifestLake.AggSpec("islands", "sum", "n_islands"))

  private def rowsOf(s: SparkSession, cells: Seq[((Long, Int), Cell)]) =
    s.createDataFrame(cells.map { case ((v, m), c) =>
      Row(v, m, c.nItems, c.nIslands, c.rev)
    }.asJava, schema)

  /** Seeds the lake with `vids` × [[Models]] rows clustered by vid_id
    * within model partitions, enables its change feed and backfills
    * the islands-per-model view. With `warmUp`, also runs a point and
    * a range read once. Returns the seeded state. */
  def seed(s: SparkSession, dir: String, vids: Int, seed: Long, warmUp: Boolean): (Dirs, State) = {
    val d = Dirs(s"$dir/serving_lake", s"$dir/serving_view", s"$dir/serving_ckpt")
    val r = new SplittableRandom(seed)
    val cells = for (v <- 0L until vids; m <- 0 until Models)
      yield (v, m) -> Cell(10 + r.nextInt(91), r.nextInt(4), 0L)
    ManifestLake.append(s, d.lake,
      rowsOf(s, cells).repartition(col("model_id")).sortWithinPartitions("model_id", "vid_id"),
      "model_id", maxRecordsPerFile = RowsPerFile,
      statsCols = Seq("vid_id"), bloomCols = Seq("vid_id"))
    ManifestLake.setProperties(d.lake, Map("enableChangeDataFeed" -> "true"))
    ManifestLake.create(d.view, viewSchema, "model_id")
    refreshView(s, d)
    if (warmUp) {
      // the read paths most operations take; writes stay cold, as a
      // cold merge costs about as much as the whole warm-up
      ManifestLake.readPoint(s, d.lake, "vid_id", 0L).collect()
      ManifestLake.readWhere(s, d.lake, "vid_id", BigDecimal(0), BigDecimal(RangeWidth - 1))
        .agg(count(lit(1)), sum(col("n_islands"))).head()
    }
    Resources.release()
    val state: State = cells.groupBy(_._1._1).map { case (v, cs) =>
      v -> cs.map { case ((_, m), c) => m -> c }.toMap
    }
    (d, state)
  }

  def refreshView(s: SparkSession, d: Dirs): Unit = {
    val q = ManifestLake.maintainAggView(s, d.lake, d.view, Seq("model_id"), viewAggs,
      "islands_per_model", d.checkpoint, "model_id")
    if (!q.awaitTermination(120000L)) {
      q.stop(); throw new IllegalStateException("view refresh did not terminate")
    }
  }

  final case class Result(point: Vector[Stats.Sample], range: Vector[Stats.Sample],
                          upsert: Vector[Stats.Sample], retract: Vector[Stats.Sample],
                          refresh: Vector[Stats.Sample], maintenance: Vector[Stats.Sample],
                          opsPerSec: Double, checksFailed: Vector[String],
                          checks: Int, layer: Map[String, Double])

  /** Runs the loop for `seconds`; operations in flight then finish and
    * are checked, but only those done inside the window count toward
    * its throughput. */
  def run(s: SparkSession, d: Dirs, initial: State, vids: Int, seconds: Int, seed: Long,
          tr: Tracer): Result = {
    val history = new AtomicReference(Vector(initial))
    val acked = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val checks = new java.util.concurrent.atomic.AtomicInteger(0)
    val ends = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Boolean)]()
    val point, range, upsert, retract, refresh, maint =
      new java.util.concurrent.ConcurrentLinkedQueue[Stats.Sample]()
    val recency = DataGen.zipfCdf(vids, RecencySkew)
    def recentVid(r: SplittableRandom): Long = vids - 1L - DataGen.draw(recency, r)

    def timed(q: java.util.Queue[Stats.Sample], name: String)(op: => Unit): Boolean = {
      val t0 = System.nanoTime()
      val ok = try { tr.span(name)(op); true } catch {
        case e: Throwable =>
          failures.add(s"$name: $e"); false
      } finally Resources.release()
      val t1 = System.nanoTime()
      q.add(Stats.Sample((t1 - t0) / 1e6, ok)); ends.add((t1, ok))
      ok
    }
    /** The states a read that started after `k0` acknowledged commits
      * may observe: any from k0 on, including one in flight. */
    def consistent(k0: Int)(matches: State => Boolean): Boolean = {
      val h = history.get()
      (k0 until h.size).exists(k => matches(h(k)))
    }
    def check(ok: Boolean, what: => String): Unit = {
      checks.incrementAndGet()
      if (!ok) failures.add(what)
    }

    // write-path counts of a traced run, kept by the writer thread alone
    var filesAdded, filesRemoved, bytesAdded, userBytes = 0L
    def tracked(rowsSubmitted: Int)(op: => Boolean): Boolean =
      if (!tr.enabled) op
      else {
        val before = ManifestLake.latestSnapshot(d.lake).get.files.toSet
        val ok = op
        val after = ManifestLake.latestSnapshot(d.lake).get.files.toSet
        val added = after -- before
        filesAdded += added.size
        filesRemoved += (before -- after).size
        bytesAdded += added.toSeq.map(f => Files.size(Paths.get(d.lake, f))).sum
        userBytes += rowsSubmitted * RowBytes
        ok
      }

    val keptRatio = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
    var compactedBytes = 0L
    var vacuumed = 0L
    val cdfWindows = mutable.ArrayBuffer.empty[(Long, Long)]
    def recordCdfWindow(): Unit = tr.span("cdf.window") {
      val latest = ManifestLake.latestSnapshot(d.lake).fold(0L)(_.version)
      val hw = ManifestLake.maintainers(d.lake).find(_.appId == "islands_per_model")
        .fold(0L)(_.highWater)
      val rows = if (latest > hw) ManifestLake.readChangeFeed(s, d.lake, hw, latest).count() else 0L
      cdfWindows += ((latest - hw, rows))
    }

    val phaseSpan = tr.currentId
    def reader(id: Int): Runnable = () => {
      tr.adopt(phaseSpan)
      val r = new SplittableRandom(seed * 31 + id)
      while (!stop.get()) {
        val k0 = acked.get()
        if (r.nextInt(4) < 3) {
          val v = recentVid(r)
          timed(point, "lake.read_point") {
            if (tr.enabled) tr.span("lake.snapshot") {
              val snap = ManifestLake.latestSnapshot(d.lake).get
              val kept = ManifestLake.pruneFilesPoint(snap, "vid_id", v)
              keptRatio.add((kept.size, snap.files.size))
            }
            val got = ManifestLake.readPoint(s, d.lake, "vid_id", v)
              .select("model_id", "n_items", "n_islands", "rev").collect()
              .map(x => x.getInt(0) -> Cell(x.getInt(1), x.getInt(2), x.getLong(3))).toMap
            check(consistent(k0)(_.getOrElse(v, Map.empty) == got),
              s"point read of vid $v matches no acknowledged state")
          }
        } else {
          val lo = math.max(0L, recentVid(r) - RangeWidth / 2)
          val hi = lo + RangeWidth - 1
          timed(range, "lake.read_range") {
            val row = ManifestLake.readWhere(s, d.lake, "vid_id", BigDecimal(lo), BigDecimal(hi))
              .agg(count(lit(1)), coalesce(sum(col("n_islands")), lit(0L)),
                coalesce(sum(col("rev")), lit(0L))).head()
            val got = (row.getLong(0), row.getLong(1), row.getLong(2))
            check(consistent(k0) { st =>
              val cs = (lo to hi).flatMap(v => st.getOrElse(v, Map.empty).values)
              (cs.size.toLong, cs.map(_.nIslands.toLong).sum, cs.map(_.rev).sum) == got
            }, s"range read [$lo, $hi] matches no acknowledged state: $got")
          }
        }
      }
    }

    def writer: Runnable = () => {
      tr.adopt(phaseSpan)
      val r = new SplittableRandom(seed * 31 + 7)
      var commits = 0
      var rev = 0L
      while (!stop.get()) {
        rev += 1
        val cur = history.get().last
        val m = r.nextInt(Models)
        val ok = if (r.nextInt(5) < 4) {
          val vs = Iterator.continually(recentVid(r)).distinct.take(UpsertRows).toVector
          val cells = vs.map(v => (v, m) -> Cell(10 + r.nextInt(91), r.nextInt(6), rev))
          val next = cells.foldLeft(cur) { case (st, ((v, mm), c)) =>
            st.updated(v, st.getOrElse(v, Map.empty).updated(mm, c))
          }
          history.set(history.get() :+ next)
          tracked(cells.size) {
            timed(upsert, "lake.merge") {
              ManifestLake.merge(s, d.lake, rowsOf(s, cells), Seq("vid_id", "model_id"))
            }
          }
        } else {
          val vs = Iterator.continually(recentVid(r)).distinct.take(RetractVids).toVector
          val next = vs.foldLeft(cur) { (st, v) =>
            st.get(v).fold(st)(ms => st.updated(v, ms - m))
          }
          val expect = vs.count(v => cur.get(v).exists(_.contains(m)))
          history.set(history.get() :+ next)
          tracked(0) {
            timed(retract, "lake.dv_delete") {
              val n = ManifestLake.deleteWhereDv(s, d.lake,
                col("vid_id").isin(vs: _*) && col("model_id") === m)
              check(n == expect, s"retraction deleted $n rows, shadow model expects $expect")
            }
          }
        }
        // a failed commit never applies: its state is replaced by the last acknowledged one
        if (!ok) history.set(history.get().dropRight(1) :+ cur)
        acked.set(history.get().size - 1)
        commits += 1
        if (commits % RefreshEvery == 0) {
          if (tr.enabled) recordCdfWindow()
          timed(refresh, "view.refresh")(refreshView(s, d))
        }
        if (commits % MaintainEvery == 0)
          timed(maint, "lake.maintenance") {
            tr.span("lake.compact") {
              val before = ManifestLake.latestSnapshot(d.lake).get.files
              ManifestLake.compact(s, d.lake, "model_id", RowsPerFile, clusterBy = Some("vid_id"))
              val after = ManifestLake.latestSnapshot(d.lake).get.files.toSet
              compactedBytes += before.filterNot(after).map(f => Files.size(Paths.get(d.lake, f))).sum
            }
            tr.span("lake.vacuum") {
              vacuumed += ManifestLake.vacuum(d.lake, keepVersions = 5, graceMillis = 0L)
            }
          }
      }
    }

    val threads = Seq(new Thread(reader(1), "reader-1"), new Thread(reader(2), "reader-2"),
      new Thread(writer, "writer"))
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    Thread.sleep(seconds * 1000L)
    val deadline = System.nanoTime()
    stop.set(true)
    threads.foreach(_.join())
    val rate = Stats.closedLoopRate(ends.asScala.toVector, t0, deadline)

    // final convergence: the view and the full lake against the model
    refreshView(s, d)
    val finalState = history.get().last
    val full = ManifestLake.read(s, d.lake).collect()
      .map(x => (x.getAs[Long]("vid_id"), x.getAs[Int]("model_id")) ->
        Cell(x.getAs[Int]("n_items"), x.getAs[Int]("n_islands"), x.getAs[Long]("rev"))).toMap
    val model = finalState.toSeq.flatMap { case (v, ms) => ms.map { case (m, c) => (v, m) -> c } }.toMap
    check(full == model, s"final full read differs from the shadow model " +
      s"(${full.size} rows read, ${model.size} expected)")
    val view = ManifestLake.readAggView(s, d.view).select("model_id", "n_pairs", "islands")
    val want = ManifestLake.read(s, d.lake).groupBy("model_id")
      .agg(count(lit(1)).as("n_pairs"), sum(col("n_islands")).as("islands"))
    check(view.exceptAll(want).isEmpty && want.exceptAll(view).isEmpty,
      "the islands-per-model view differs from a from-scratch aggregate of the lake")
    Resources.release()

    val layer =
      if (!tr.enabled) Map.empty[String, Double]
      else Map(
        "lake.files_added" -> filesAdded.toDouble,
        "lake.files_removed" -> filesRemoved.toDouble,
        "lake.write_amp" -> bytesAdded.toDouble / math.max(1L, userBytes),
        "lake.files_kept_ratio" -> {
          val k = keptRatio.asScala.toVector
          if (k.isEmpty) 0.0 else k.map(_._1).sum.toDouble / math.max(1, k.map(_._2).sum)
        },
        "lake.compact_bytes_rewritten" -> compactedBytes.toDouble,
        "lake.vacuum_files_deleted" -> vacuumed.toDouble,
        "lake.live_files" -> ManifestLake.latestSnapshot(d.lake).fold(0)(_.files.size).toDouble,
        "cdf.window_versions" -> (if (cdfWindows.isEmpty) 0.0
          else Stats.median(cdfWindows.map(_._1.toDouble).toSeq)),
        "cdf.rows" -> (if (cdfWindows.isEmpty) 0.0
          else Stats.median(cdfWindows.map(_._2.toDouble).toSeq)),
        "view.lag_versions" -> (if (cdfWindows.isEmpty) 0.0
          else cdfWindows.map(_._1.toDouble).max))
    Result(point.asScala.toVector, range.asScala.toVector, upsert.asScala.toVector,
      retract.asScala.toVector, refresh.asScala.toVector, maint.asScala.toVector,
      rate, failures.asScala.toVector, checks.get(), layer)
  }

  /** Bytes under the lake and view directories ÷ bytes of the data
    * files their latest snapshots name. */
  def spaceAmp(d: Dirs): Double = {
    def under(dir: String): Long = {
      val st = Files.walk(Paths.get(dir))
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
    def live(dir: String): Long =
      ManifestLake.latestSnapshot(dir).fold(0L)(_.files.map(f => Files.size(Paths.get(dir, f))).sum)
    (under(d.lake) + under(d.view)).toDouble / math.max(1L, live(d.lake) + live(d.view))
  }
}
