package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The key planner under the keyed lake writes ([[ManifestLake.planKeys]]
  * behind `merge`, `deleteKeysDv` and `replaceKeysBatch`): compound keys
  * prune on every tracked column, a merge of all-new keys reads no lake
  * file, pruning never changes a result, and the one-job duplicate gate
  * agrees with Spark's grouping. */
class KeyPlanSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("vid_id", LongType), StructField("model_id", IntegerType),
    StructField("step", IntegerType), StructField("score", DoubleType)))
  private val keyCols = Seq("vid_id", "model_id")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("lake").toString

  /** A lake laid out like the pipeline's score lake: partitioned by
    * model, stats and bloom on the video id. */
  private def scoreLake(prefix: String, cdf: Boolean = false): String = {
    val dir = tmp(prefix)
    ManifestLake.create(dir, schema, "model_id", statsCols = Seq("vid_id"),
      bloomCols = Seq("vid_id"), cdfEnabled = if (cdf) Some("true") else None)
    dir
  }

  private type R = (Option[Long], Int, Int, Double)

  private def frame(rows: Seq[R]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (v, m, st, sc) =>
        Row(v.map(Long.box).orNull, m, st, sc) }: _*), schema)

  private def keyFrame(keys: Seq[(Option[Long], Int)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(keys.map { case (v, m) =>
        Row(v.map(Long.box).orNull, m) }: _*),
      StructType(schema.fields.take(2)))

  private def rowsOf(dir: String): Seq[R] =
    ManifestLake.read(spark, dir).select("vid_id", "model_id", "step", "score")
      .collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq.sortBy(_.toString)

  /** Runs `f` with `files` of the lake moved away, so any scan of them
    * fails; puts them back afterwards. */
  private def hidden[T](dir: String, files: Seq[String])(f: => T): T = {
    val aside = Files.createTempDirectory("kp_aside")
    val moved: Seq[(Path, Path)] = files.map { rel =>
      val src = Paths.get(dir).resolve(rel)
      val dst = aside.resolve(rel.replace('/', '_'))
      Files.move(src, dst)
      (src, dst)
    }
    try f finally moved.foreach { case (src, dst) => Files.move(dst, src) }
  }

  test("merge into an empty declared lake appends; an empty update frame commits nothing") {
    val dir = scoreLake("kp_empty")
    val v0 = ManifestLake.latestSnapshot(dir).get.version
    // the duplicate-key gate still runs first
    val e = intercept[IllegalArgumentException] {
      ManifestLake.merge(spark, dir,
        frame(Seq((Some(1L), 0, 0, 1.0), (Some(1L), 0, 0, 2.0))), keyCols)
    }
    assert(e.getMessage.contains("duplicate keys"))
    assert(ManifestLake.latestSnapshot(dir).get.version == v0)

    val empty = frame(Nil)
    assert(ManifestLake.merge(spark, dir, empty, keyCols) ==
      ManifestLake.MergeStats(0L, 0L, 0))
    assert(ManifestLake.latestSnapshot(dir).get.version == v0,
      "an empty merge must not commit")

    val seed = (0L until 40L).map(v => (Some(v), (v % 4).toInt, 0, v.toDouble))
    assert(ManifestLake.merge(spark, dir, frame(seed), keyCols) ==
      ManifestLake.MergeStats(0L, 40L, 0))
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(snap.version == v0 + 1)
    assert(snap.files.nonEmpty && snap.files.forall(_.startsWith("model_id=")),
      s"declared partition not applied: ${snap.files.take(3)}")
    assert(snap.stats.keySet == snap.files.toSet &&
      snap.stats.valuesIterator.forall(_.exists(_.col == "vid_id")))
    assert(snap.blooms.keySet == snap.files.toSet &&
      snap.blooms.valuesIterator.forall(_.exists(_.col == "vid_id")))
    assert(rowsOf(dir) == seed.sortBy(_.toString))
    // an empty frame into a lake with files commits nothing either
    assert(ManifestLake.merge(spark, dir, empty, keyCols) ==
      ManifestLake.MergeStats(0L, 0L, 0))
    assert(ManifestLake.latestSnapshot(dir).get.version == snap.version)

    // a lake with no files and no declared partition keeps refusing
    val bare = tmp("kp_bare")
    ManifestLake.append(spark, bare, frame(seed), "model_id")
    ManifestLake.deleteWhere(spark, bare, lit(true))
    assert(ManifestLake.latestSnapshot(bare).get.files.isEmpty)
    val e2 = intercept[IllegalStateException] {
      ManifestLake.merge(spark, bare, frame(seed), keyCols)
    }
    assert(e2.getMessage.contains("merge into an empty lake is an append"))
  }

  test("compound-key merge of all-new keys runs no detection scan, with exact MergeStats") {
    val dir = scoreLake("kp_newkeys")
    val seed = (0L until 200L).flatMap(v =>
      (0 until 4).map(m => (Some(v), m, 0, (v * 10 + m).toDouble)))
    ManifestLake.merge(spark, dir, frame(seed), keyCols)
    val snap = ManifestLake.latestSnapshot(dir).get
    val fresh = (1000L until 1050L).flatMap(v =>
      (0 until 4).map(m => (Some(v), m, 1, -1.0)))
    val plan = ManifestLake.planKeys(snap, frame(fresh), keyCols, nullSafe = false)
    assert(plan.candidates.isEmpty, s"new keys kept ${plan.candidates.length} files")
    assert(plan.rows == fresh.length && !plan.duplicated)
    // every existing data file is gone while the merge runs: any
    // detection or survivor scan would fail
    val stats = hidden(dir, snap.files) {
      ManifestLake.merge(spark, dir, frame(fresh), keyCols)
    }
    assert(stats == ManifestLake.MergeStats(0L, fresh.length.toLong, 0))
    assert(rowsOf(dir) == (seed ++ fresh).sortBy(_.toString))

    // a mixed batch prunes to the matched videos' files and stays exact
    val mixed = (190L until 210L).map(v => (Some(v), 2, 2, -2.0)) ++
      Seq((None, 1, 2, -3.0))
    val mixedPlan = ManifestLake.planKeys(ManifestLake.latestSnapshot(dir).get,
      frame(mixed), keyCols, nullSafe = false)
    assert(mixedPlan.candidates.nonEmpty && mixedPlan.candidates.forall(_.startsWith("model_id=2/")),
      s"candidates outside the batch's partition: ${mixedPlan.candidates}")
    val s2 = ManifestLake.merge(spark, dir, frame(mixed), keyCols)
    assert(s2.rowsUpdated == 10L && s2.rowsInserted == 11L && s2.filesRewritten >= 1)
    assert(ManifestLake.read(spark, dir).count() == seed.length + fresh.length + 11L)
  }

  test("keyed writes at the commit hook: deleteKeysDv rebases over an append, aborts on a compact; a re-delivered replace commits once") {
    val dir = scoreLake("kp_race")
    val seed = (0L until 40L).map(v => (Some(v), (v % 4).toInt, 0, v.toDouble))
    ManifestLake.merge(spark, dir, frame(seed), keyCols)

    // an append lands after the delete's detection and sidecar writes,
    // before its CAS: the set-union rebase keeps it
    val late = (100L until 110L).map(v => (Some(v), (v % 4).toInt, 1, -1.0))
    val n = ManifestLake.onNextCommit(dir) {
      ManifestLake.append(spark, dir, frame(late), "model_id"); ()
    }(ManifestLake.deleteKeysDv(spark, dir, keyFrame(Seq((Some(5L), 1), (Some(6L), 2))), keyCols))
    assert(n == 2L)
    val afterDelete = seed.filterNot(r => r._1.contains(5L) || r._1.contains(6L)) ++ late
    assert(rowsOf(dir) == afterDelete.sortBy(_.toString))

    // a compaction that replaced the targeted file aborts the delete
    val v0 = ManifestLake.latestSnapshot(dir).get.version
    val e = intercept[IllegalStateException] {
      ManifestLake.onNextCommit(dir) {
        ManifestLake.compact(spark, dir, "model_id", targetRecordsPerFile = 1000L); ()
      }(ManifestLake.deleteKeysDv(spark, dir, keyFrame(Seq((Some(7L), 3))), keyCols))
    }
    assert(e.getMessage.contains("re-run deleteKeysDv"), e.getMessage)
    val compacted = ManifestLake.latestSnapshot(dir).get
    assert(compacted.version == v0 + 1 && compacted.op == "compact",
      "the compaction stands; the delete burned no version")
    assert(rowsOf(dir) == afterDelete.sortBy(_.toString))

    // the same (appId, batchId) delivered again inside the replace's
    // own commit window: the inner delivery commits, the outer one
    // finds its batch committed and drops its staged files
    val keys = keyFrame(Seq((Some(8L), 0)))
    val rows = frame(Seq((Some(8L), 0, 2, 8.5)))
    def replace(): Boolean = ManifestLake.replaceKeysBatch(spark, dir, keys, rows,
      keyCols, "kp_race", 1L, "model_id")
    var inner = false
    val outer = ManifestLake.onNextCommit(dir) { inner = replace() }(replace())
    assert(inner && !outer, s"inner $inner, outer $outer")
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(snap.version == compacted.version + 1 && snap.txns.get("kp_race").contains(1L))
    assert(rowsOf(dir) ==
      (afterDelete.filterNot(_._1.contains(8L)) :+ ((Some(8L), 0, 2, 8.5))).sortBy(_.toString))
    assert(!replace(), "a later re-delivery is gated too")
    // every data file on disk is named by some version's manifest
    val named = (1L to snap.version).flatMap(ManifestLake.snapshotAt(dir, _))
      .flatMap(_.files).toSet
    val onDisk = ManifestLogModelSpec.dataFilesOnDisk(dir)
    assert(onDisk.subsetOf(named), s"unnamed data files: ${onDisk -- named}")
  }

  test("random compound-key sequences: pruned planning equals every-file planning and the model") {
    val rnd = new scala.util.Random(20261017L)
    val pruned = scoreLake("kp_prop_a", cdf = true)
    val full = scoreLake("kp_prop_b", cdf = true)
    val model = mutable.ArrayBuffer.empty[R]
    def both[T](f: String => T): T = {
      val a = f(pruned)
      val b = ManifestLake.keyPlanUnpruned.withValue(true)(f(full))
      assert(a == b, s"pruned $a vs every-file $b")
      a
    }
    def matches(r: R, k: (Option[Long], Int), nullSafe: Boolean): Boolean =
      r._2 == k._2 && (if (nullSafe) r._1 == k._1 else r._1.isDefined && r._1 == k._1)
    def someKeys(n: Int): Seq[(Option[Long], Int)] =
      rnd.shuffle(model.map(r => (r._1, r._2)).distinct.toSeq).take(n)
    def freshKeys(step: Int, n: Int): Seq[(Option[Long], Int)] =
      (0 until n).map(i => (Some(10000L * step + i), rnd.nextInt(4)))
    val nullKey: () => Seq[(Option[Long], Int)] =
      () => if (rnd.nextInt(3) == 0) Seq((None, rnd.nextInt(4))) else Nil

    // seeded through a merge into the empty declared lake, with one
    // NULL-video row per model for the null-safe replace to find
    val seed = (0L until 120L).map(v => (Some(v), (v % 4).toInt, 0, v.toDouble)) ++
      (0 until 4).map(m => (None, m, 0, -1.0))
    assert(both(d => ManifestLake.merge(spark, d, frame(seed), keyCols)) ==
      ManifestLake.MergeStats(0L, 124L, 0))
    model ++= seed
    var batch = 0L
    for (step <- 1 to 16) {
      rnd.nextInt(3) match {
        case 0 =>
          // at most one NULL-video key, or the duplicate gate refuses
          val keys = someKeys(rnd.nextInt(12)).filter(_._1.isDefined) ++
            freshKeys(step, rnd.nextInt(8)) ++ nullKey()
          val ups = keys.map { case (v, m) => (v, m, step, rnd.nextDouble()) }
          val got = both(d => ManifestLake.merge(spark, d, frame(ups), keyCols))
          val removed = model.filter(r => ups.exists(u => matches(r, (u._1, u._2), nullSafe = false)))
          val matched = ups.count(u => model.exists(r => matches(r, (u._1, u._2), nullSafe = false)))
          assert(got.rowsUpdated == removed.length && got.rowsInserted == ups.length - matched,
            s"step $step merge: $got")
          model --= removed
          model ++= ups
        case 1 =>
          val keys = (someKeys(rnd.nextInt(10)) ++ freshKeys(step, 3) ++ nullKey()).distinct
          val got = both(d => ManifestLake.deleteKeysDv(spark, d, keyFrame(keys), keyCols))
          val removed = model.filter(r => keys.exists(matches(r, _, nullSafe = false)))
          assert(got == removed.length, s"step $step deleteKeysDv")
          model --= removed
        case _ =>
          val keys = (someKeys(rnd.nextInt(8)) ++
            (if (rnd.nextBoolean()) Seq((None, rnd.nextInt(4))) else Nil)).distinct
          val rows = keys.filter(_ => rnd.nextBoolean()).map { case (v, m) =>
            (v, m, step, -step.toDouble) }
          batch += 1
          assert(both(d => ManifestLake.replaceKeysBatch(spark, d, keyFrame(keys),
            frame(rows), keyCols, "kp", batch, "model_id")))
          model --= model.filter(r => keys.exists(matches(r, _, nullSafe = true)))
          model ++= rows
      }
      val a = rowsOf(pruned)
      assert(a == rowsOf(full), s"step $step: lakes diverged")
      assert(a == model.toSeq.sortBy(_.toString), s"step $step: lake differs from the model")
    }
    def feed(dir: String): Seq[String] = {
      val v = ManifestLake.latestSnapshot(dir).get.version
      ManifestLake.readChangeFeed(spark, dir, 0L, v)
        .drop("_commit_timestamp").collect().map(_.toString).toSeq.sorted
    }
    val fa = feed(pruned)
    assert(fa.nonEmpty && fa == feed(full), "change feeds diverged")
  }

  test("the one-job duplicate gate agrees with grouping for -0.0/0.0, NaN, NULL and binary keys") {
    val dir = tmp("kp_gate")
    val ks = StructType(Seq(StructField("k", DoubleType), StructField("b", BinaryType),
      StructField("p", StringType)))
    ManifestLake.create(dir, ks, "p")
    val snap = ManifestLake.latestSnapshot(dir).get
    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
    def df(rows: Row*): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), ks)
    val cases: Seq[(String, DataFrame, Seq[String])] = Seq(
      ("-0.0/0.0", df(Row(-0.0, null, "x"), Row(0.0, null, "x")), Seq("k")),
      ("NaN/NaN", df(Row(Double.NaN, null, "x"), Row(otherNaN, null, "x")), Seq("k")),
      ("NULL/NULL", df(Row(null, null, "x"), Row(null, null, "x")), Seq("k")),
      ("distinct doubles", df(Row(1.0, null, "x"), Row(2.0, null, "x")), Seq("k")),
      ("binary twins", df(Row(1.0, Array[Byte](1, 2), "x"), Row(1.0, Array[Byte](1, 2), "x")),
        Seq("k", "b")),
      ("binary differs", df(Row(1.0, Array[Byte](1, 2), "x"), Row(1.0, Array[Byte](1, 3), "x")),
        Seq("k", "b")),
      ("NULL inside a tuple", df(Row(null, Array[Byte](7), "x"), Row(null, Array[Byte](7), "x")),
        Seq("k", "b")))
    cases.foreach { case (name, keys, cols) =>
      val grouped = keys.groupBy(cols.map(col): _*).count().filter($"count" > 1).isEmpty
      val sampled = ManifestLake.planKeys(snap, keys, cols, nullSafe = false)
      val fallback = ManifestLake.planKeys(snap, keys, cols, nullSafe = false, cap = 0)
      assert(sampled.sample.isDefined && fallback.sample.isEmpty)
      assert(sampled.duplicated == !grouped, s"$name: one-job gate vs grouping")
      assert(fallback.duplicated == !grouped, s"$name: grouped fallback vs grouping")
      assert(sampled.rows == 2L && fallback.rows == 2L, name)
    }
    // and through merge itself
    val lake = tmp("kp_gate_merge")
    ManifestLake.create(lake, ks, "p")
    val e = intercept[IllegalArgumentException] {
      ManifestLake.merge(spark, lake, df(Row(-0.0, null, "x"), Row(0.0, null, "x")), Seq("k"))
    }
    assert(e.getMessage.contains("duplicate keys"))
  }

  test("past 100 000 keys the planner falls back to envelopes and stays exact") {
    val dir = scoreLake("kp_big")
    ManifestLake.merge(spark, dir,
      spark.range(0, 2000).select($"id".as("vid_id"), ($"id" % 4).cast("int").as("model_id"),
        lit(0).as("step"), $"id".cast("double").as("score")), keyCols)
    // 300 existing keys + 100 200 new ones
    val ups = spark.range(0, 300).union(spark.range(10000, 110200))
      .select($"id".as("vid_id"), ($"id" % 4).cast("int").as("model_id"),
        lit(1).as("step"), lit(-1.0).as("score"))
    val snap = ManifestLake.latestSnapshot(dir).get
    val plan = ManifestLake.planKeys(snap, ups, keyCols, nullSafe = false)
    assert(plan.sample.isEmpty, "100 500 keys must take the fallback")
    assert(plan.rows == 100500L && !plan.duplicated)
    val stats = ManifestLake.merge(spark, dir, ups, keyCols)
    assert(stats.rowsUpdated == 300L && stats.rowsInserted == 100200L &&
      stats.filesRewritten >= 1)
    val back = ManifestLake.read(spark, dir)
    assert(back.count() == 2000L + 100200L)
    assert(back.filter($"step" === 1).count() == 100500L)

    val gone = spark.range(300, 600).union(spark.range(200000, 300200))
      .select($"id".as("vid_id"), ($"id" % 4).cast("int").as("model_id"))
    assert(ManifestLake.deleteKeysDv(spark, dir, gone, keyCols) == 300L)
    assert(ManifestLake.read(spark, dir).count() == 2000L + 100200L - 300L)
  }
}
