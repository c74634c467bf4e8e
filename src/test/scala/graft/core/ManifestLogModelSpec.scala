package graft.core

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Model-based randomized exercise of the manifest log under the
  * delta encoding: random interleavings of append / MoR delete / MoR
  * update / COW delete / compact / restore are replayed against an
  * in-memory model (`doc_id → n_chars`), and after EVERY commit the
  * lake must read back exactly the model — then three random retained
  * versions must time-travel to exactly their recorded models, and a
  * final vacuum must leave the latest version whole. Hand-picked
  * cases pin known shapes; this pins the interactions a case table
  * can't enumerate (a delta based on a delta based on a restore that
  * re-published DV'd files, a compact that purges mid-chain, …).
  * A second pass crashes random ops at the commit hook
  * ([[ManifestLake.onNextCommit]]), before their CAS: the lake must
  * stay exactly at its model, and retention must reclaim everything
  * the crashed ops staged. Seeded, so a failure replays
  * deterministically. */
class ManifestLogModelSpec extends SparkSpec {
  import spark.implicits._

  private def df(ids: Seq[Long]) =
    ids.toDF("doc_id").select($"doc_id",
      concat(lit("s"), ($"doc_id" % 2).cast("string")).as("source"),
      ($"doc_id" * 10).as("n_chars"))

  private def readModel(dir: String): Map[Long, Long] =
    ManifestLake.read(spark, dir).select($"doc_id", $"n_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** A crash injected at the commit hook, before the CAS. */
  private final class InjectedCrash extends RuntimeException("injected crash before the CAS")

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))

  /** Retention down to the latest version must leave no data file
    * outside its manifest — including the staged output of every op
    * that crashed before its commit. */
  private def assertNoOrphans(dir: String, what: String): Unit = {
    ManifestLake.vacuum(dir, keepVersions = 1, graceMillis = 0L)
    val live = ManifestLake.latestSnapshot(dir).get.files.toSet
    val orphans = ManifestLogModelSpec.dataFilesOnDisk(dir) -- live
    assert(orphans.isEmpty, s"$what: vacuum left ${orphans.size} orphan(s): ${orphans.take(3)}")
    assert(live.forall(f => Files.exists(Paths.get(dir).resolve(f))), s"$what: vacuum took a live file")
  }

  /** Four seeded scenarios of random ops against the model. With
    * `crashRnd`, a third of the ops (picked by it) first run under a
    * commit hook that throws: an op that reaches its commit must fail
    * with the lake still at the same version and reading exactly the
    * model, then it runs again for real. Returns the crashes injected. */
  private def scenarios(seed: Long, crashRnd: Option[scala.util.Random]): Int = {
    val rnd = new scala.util.Random(seed)
    var crashes = 0
    for (scenario <- 1 to 4) {
      val dir = Files.createTempDirectory(s"mlog_model_$scenario")
        .resolve("lake").toString
      val model = mutable.Map.empty[Long, Long] // doc_id -> n_chars
      val byVersion = mutable.Map.empty[Long, Map[Long, Long]]
      var nextId = 0L

      def commitAndCheck(opName: String): Unit = {
        val v = ManifestLake.latestSnapshot(dir).get.version
        byVersion(v) = model.toMap
        val got = readModel(dir)
        assert(got == model.toMap,
          s"scenario $scenario after $opName at v$v: lake has ${got.size} " +
            s"rows vs model ${model.size}; diff=${(got.keySet -- model.keySet).take(5)}" +
            s"/${(model.keySet -- got.keySet).take(5)}")
      }

      def crashFirst[T](opName: String)(op: => T): T =
        if (!crashRnd.exists(_.nextInt(3) == 0)) op
        else {
          val v0 = ManifestLake.latestSnapshot(dir).get.version
          try {
            val r = ManifestLake.onNextCommit(dir)(throw new InjectedCrash)(op)
            assert(ManifestLake.latestSnapshot(dir).get.version == v0,
              s"scenario $scenario: $opName committed without running the commit hook")
            r // the op reached no commit
          } catch {
            case _: InjectedCrash =>
              crashes += 1
              assert(ManifestLake.latestSnapshot(dir).get.version == v0,
                s"scenario $scenario: crashed $opName moved the version")
              assert(readModel(dir) == model.toMap,
                s"scenario $scenario: crashed $opName changed the lake")
              op
          }
        }

      // seed the lake
      ManifestLake.append(spark, dir, df(0L until 40L), "source",
        maxRecordsPerFile = 8L, statsCols = Seq("doc_id"))
      (0L until 40L).foreach(i => model(i) = i * 10)
      nextId = 40L
      commitAndCheck("seed")

      for (step <- 1 to 12) {
        rnd.nextInt(6) match {
          case 0 => // append a fresh id run
            val k = 5 + rnd.nextInt(20)
            crashFirst(s"append($k)")(ManifestLake.append(spark, dir,
              df(nextId until nextId + k), "source",
              maxRecordsPerFile = 8L, statsCols = Seq("doc_id")))
            (nextId until nextId + k).foreach(i => model(i) = i * 10)
            nextId += k
            commitAndCheck(s"append($k)")
          case 1 => // MoR delete by residue
            val m = 3 + rnd.nextInt(5); val r = rnd.nextInt(m)
            val n = crashFirst(s"dvDelete(%$m==$r)")(
              ManifestLake.deleteWhereDv(spark, dir, $"doc_id" % m === r))
            val hit = model.keySet.filter(_ % m == r)
            assert(n == hit.size, s"dvDelete %$m==$r: $n vs model ${hit.size}")
            hit.foreach(model.remove)
            if (n > 0) commitAndCheck(s"dvDelete(%$m==$r)")
          case 2 => // MoR update by range
            val lo = rnd.nextLong(math.max(1L, nextId))
            val hi = lo + 1 + rnd.nextInt(30)
            val n = crashFirst(s"dvUpdate([$lo,$hi))")(
              ManifestLake.updateWhereDv(spark, dir,
                $"doc_id" >= lo && $"doc_id" < hi,
                Seq("n_chars" -> lit(-step.toLong))))
            val hit = model.keySet.filter(i => i >= lo && i < hi)
            assert(n == hit.size, s"dvUpdate [$lo,$hi): $n vs model ${hit.size}")
            hit.foreach(i => model(i) = -step.toLong)
            if (n > 0) commitAndCheck(s"dvUpdate([$lo,$hi))")
          case 3 => // COW delete by range (purges DVs it rewrites through)
            val lo = rnd.nextLong(math.max(1L, nextId))
            val hi = lo + 1 + rnd.nextInt(15)
            val n = crashFirst(s"cowDelete([$lo,$hi))")(
              ManifestLake.deleteWhere(spark, dir,
                $"doc_id" >= lo && $"doc_id" < hi))
            val hit = model.keySet.filter(i => i >= lo && i < hi)
            assert(n == hit.size, s"cowDelete [$lo,$hi): $n vs model ${hit.size}")
            hit.foreach(model.remove)
            if (n > 0) commitAndCheck(s"cowDelete([$lo,$hi))")
          case 4 => // compact (may no-op: burns no version then)
            crashFirst("compact")(ManifestLake.compact(spark, dir, "source",
              targetRecordsPerFile = 64L))
            commitAndCheck("compact")
          case 5 => // restore to a random recorded version
            val targets = byVersion.keys.toVector.sorted
            val t = targets(rnd.nextInt(targets.length))
            crashFirst(s"restore(v$t)")(ManifestLake.restore(dir, t))
            model.clear(); byVersion(t).foreach { case (k, v) => model(k) = v }
            commitAndCheck(s"restore(v$t)")
        }
      }

      // time travel: three random recorded versions read their models
      val vs = byVersion.keys.toVector.sorted
      for (_ <- 1 to 3) {
        val v = vs(rnd.nextInt(vs.length))
        val snap = ManifestLake.snapshotAt(dir, v).get
        val got = ManifestLake.read(spark, dir, Some(snap))
          .select($"doc_id", $"n_chars")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == byVersion(v), s"scenario $scenario travel to v$v")
      }

      // vacuum with zero grace must keep the latest version whole
      ManifestLake.vacuum(dir, keepVersions = 2, graceMillis = 0L)
      assert(readModel(dir) == model.toMap, s"scenario $scenario post-vacuum")
      assertNoOrphans(dir, s"scenario $scenario")
      assert(readModel(dir) == model.toMap, s"scenario $scenario post-retention")
    }
    crashes
  }

  test("random op sequences: every commit and travel target reads exactly its model") {
    scenarios(20260815L, crashRnd = None)
  }

  test("a crash at the commit hook leaves the lake at its model; the rerun commits") {
    val crashes = scenarios(20261018L, Some(new scala.util.Random(7L)))
    info(s"$crashes ops crashed at the hook and reran")
    assert(crashes >= 8, s"only $crashes crashes injected")
  }

  test("a crash at the commit hook of a SQL MERGE or an addConstraint changes nothing") {
    spark.conf.set("spark.sql.catalog.graft_crash", classOf[GraftCatalog].getName)
    val dir = Files.createTempDirectory("mlog_crash_sql").resolve("lake").toString
    ManifestLake.append(spark, dir, df(0L until 40L).repartition(4), "source",
      statsCols = Seq("doc_id"))
    val model = (0L until 40L).map(i => i -> i * 10).toMap
    val v0 = ManifestLake.latestSnapshot(dir).get.version
    val mergeSql = s"MERGE INTO graft_crash.`$dir` g USING " +
      "(SELECT id AS doc_id, concat('s', CAST(id % 2 AS STRING)) AS source, " +
      "-id AS n_chars FROM range(30, 50)) u ON g.doc_id = u.doc_id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    val e = intercept[Throwable](
      ManifestLake.onNextCommit(dir)(throw new InjectedCrash)(spark.sql(mergeSql)))
    assert(messages(e).exists(_.contains("injected crash")), messages(e).mkString("\n"))
    assert(ManifestLake.latestSnapshot(dir).get.version == v0, "crashed MERGE moved the version")
    assert(readModel(dir) == model, "crashed MERGE changed the lake")
    spark.sql(mergeSql)
    val merged = model ++ (30L until 50L).map(i => i -> -i)
    assert(readModel(dir) == merged)

    val v1 = ManifestLake.latestSnapshot(dir).get.version
    intercept[InjectedCrash](ManifestLake.onNextCommit(dir)(throw new InjectedCrash)(
      ManifestLake.addConstraint(spark, dir, "id_nonneg", "doc_id >= 0")))
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(snap.version == v1 && snap.constraints.isEmpty,
      "crashed addConstraint committed its property")
    assert(readModel(dir) == merged)
    ManifestLake.addConstraint(spark, dir, "id_nonneg", "doc_id >= 0")
    assert(ManifestLake.latestSnapshot(dir).get.constraints == Seq("id_nonneg" -> "doc_id >= 0"))
    assertNoOrphans(dir, "SQL MERGE + addConstraint")
    assert(readModel(dir) == merged)
  }
}

object ManifestLogModelSpec {

  /** Every data parquet file under the lake (change sidecars aside),
    * relative to its root. */
  def dataFilesOnDisk(dir: String): Set[String] = {
    val root = Paths.get(dir)
    val st = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString)
        .filterNot(_.startsWith(ManifestLake.CdfDir + "/"))
        .toSet
    } finally st.close()
  }
}
