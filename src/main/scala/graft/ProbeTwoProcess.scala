package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.ManifestLake

/** TWO-JVM commit-race probe — the lake's cross-PROCESS writer-safety
  * claim, exercised for real instead of asserted: every prior race pin
  * (specs arming `ManifestLake.onNextCommit`) runs two THREADS in one JVM,
  * where `Files.createLink`'s CAS could in principle be masked by
  * in-process serialization. The reference's writers are genuinely
  * separate OS processes coordinating only through shared state
  * (island_worker.py:72-99 `FOR UPDATE SKIP LOCKED`;
  * server/async_processing_server.py:223-321 queue leases) — this
  * probe is the lake-side equivalent: two child JVMs, one lake
  * directory, no coordination except the manifest CAS itself.
  *
  * `runMain graft.ProbeTwoProcess drive <workDir>` creates a declared
  * lake (stats + bloom on doc_id — the heavy-metadata production
  * config, so rebases carry real payloads), then launches two child
  * JVMs with plain `java -cp` (the forked run's own classpath):
  *  - worker A: 12 exactly-once appends (`appendBatch`, its own appId);
  *  - worker B: 9 appends under a second appId, interleaved with
  *    compactions and a long-grace `vacuum` — the full mix of
  *    set-union rebases (appends), replace rebases (compaction), and
  *    concurrent reclaim the cluster story depends on.
  * Both workers log every commit's (worker, batch, version) to stdout.
  *
  * The driver then asserts, from the artifacts alone:
  *  1. both processes exit 0 — every commit landed through CAS retries;
  *  2. the version chain is CONTIGUOUS 1..latest — no version lost or
  *     double-claimed (the CAS's no-replace guarantee across JVMs);
  *  3. the committed version sets INTERLEAVE — the race actually
  *     happened (a serialized run would prove nothing);
  *  4. exactly-once content: every (worker, batch) group reads back
  *     exactly its written row count, no batch missing or doubled,
  *     total row census == Σ manifest `rows:` (metadata stayed exact
  *     through racing compaction);
  *  5. txn high-waters carry both appIds at their final batch ids;
  *  6. skipping metadata never eroded: every live file still tracks
  *     stats AND bloom on doc_id after racing compactions;
  *  7. the concurrent vacuum (grace = 1 h) reclaimed nothing a reader
  *     or the racing writer needed — implied by 4 (content exact), and
  *     its staged-dir walk ran against live staging.
  * Prints one JSON line per check plus a final PASS/FAIL. */
object ProbeTwoProcess {

  private val RowsPerBatch = 500L

  def main(args: Array[String]): Unit = args.toList match {
    case "worker" :: lake :: id :: n :: style :: Nil => worker(lake, id, n.toInt, style)
    case "drive" :: work :: Nil => drive(work)
    case "pubworker" :: coord :: lake :: id :: n :: Nil =>
      pubWorker(coord, lake, id, n.toInt)
    case "drivepub" :: work :: Nil => drivePublish(work)
    case "pubvacwriter" :: coord :: lake :: n :: Nil =>
      pubVacWriter(coord, lake, n.toInt)
    case "pubvacvacuum" :: lake :: stop :: Nil => pubVacVacuum(lake, stop)
    case "drivepubvac" :: work :: Nil => drivePublishVacuum(work)
    case "pubhistwriter" :: coord :: lake :: n :: Nil =>
      pubHistWriter(coord, lake, n.toInt)
    case "drivepubhist" :: work :: Nil => drivePublishHistorical(work)
    case other => sys.error(
      s"usage: drive <workDir> | drivepub <workDir> | drivepubvac <workDir> " +
        s"| drivepubhist <workDir> | worker ... | pubworker ... | " +
        s"pubvacwriter ... | pubvacvacuum ...; got $other")
  }

  private def session(tag: String): SparkSession =
    SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .appName(s"graft-2proc-$tag").getOrCreate()

  private def batchDf(s: SparkSession, id: String, b: Int) = {
    import s.implicits._
    val base = (id.hashCode.toLong & 0xffffL) * 10000000L + b * 10000L
    s.range(0, RowsPerBatch).select(
      ($"id" + base).as("doc_id"),
      concat(lit("s"), ($"id" % 4).cast("string")).as("source"),
      lit(id).as("worker"),
      lit(b.toLong).as("batch"))
  }

  /** One writer process: `style=append` is pure appends; `style=mixed`
    * interleaves every third step with compact + long-grace vacuum. */
  private def worker(lake: String, id: String, n: Int, style: String): Unit = {
    val s = session(id)
    s.sparkContext.setLogLevel("ERROR")
    (0 until n).foreach { b =>
      if (style == "mixed" && b % 3 == 2) {
        ManifestLake.compact(s, lake, "source", targetRecordsPerFile = 1024L * 1024)
        ManifestLake.vacuum(lake, keepVersions = 2, graceMillis = 3600L * 1000)
      }
      val snap = ManifestLake.appendBatch(s, lake, batchDf(s, id, b), "source",
        appId = id, batchId = b.toLong, maxRecordsPerFile = 128L)
      println(s"""{"commit":{"worker":"$id","batch":$b,"version":${snap.version}}}""")
    }
    s.stop()
  }

  private def drive(work: String): Unit = {
    val root = Paths.get(work)
    Files.createDirectories(root)
    val lake = root.resolve(s"twoproc_lake_${java.util.UUID.randomUUID()}").toString
    val s = session("drive")
    s.sparkContext.setLogLevel("ERROR")
    val schema = batchDf(s, "w1", 0).schema
    ManifestLake.create(lake, schema, "source",
      statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))

    // child JVMs on this process's own classpath + module opens
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).filter(a =>
        a.startsWith("--add-opens") || a.startsWith("--add-exports"))
    def spawn(id: String, n: Int, style: String): (Process, java.io.File) = {
      val log = root.resolve(s"$id.log").toFile
      val cmd = (Seq(javaBin, "-Xmx3g", "-cp", cp) ++
        // getInputArguments splits "--add-opens X" into two entries on
        // some JVMs and keeps "--add-opens=X" whole on others — pass
        // through verbatim either way, plus the known-needed set
        opens.toSeq ++ jdk17Opens ++
        Seq("graft.ProbeTwoProcess", "worker", lake, id, n.toString, style))
      val pb = new ProcessBuilder(cmd: _*)
      pb.directory(root.toFile)
      pb.redirectErrorStream(true)
      pb.redirectOutput(log)
      (pb.start(), log)
    }
    val t0 = System.nanoTime()
    val (p1, log1) = spawn("w1", 12, "append")
    val (p2, log2) = spawn("w2", 9, "mixed")
    val rc1 = p1.waitFor(); val rc2 = p2.waitFor()
    val wallSec = (System.nanoTime() - t0) / 1e9

    def commits(f: java.io.File): Seq[(String, Long, Long)] = {
      val re = """\{"commit":\{"worker":"(\w+)","batch":(\d+),"version":(\d+)\}\}""".r
      scala.io.Source.fromFile(f).getLines().collect {
        case re(w, b, v) => (w, b.toLong, v.toLong)
      }.toSeq
    }
    val c1 = commits(log1); val c2 = commits(log2)
    val checks = scala.collection.mutable.ListBuffer.empty[(String, Boolean, String)]
    checks += (("exit_codes", rc1 == 0 && rc2 == 0, s"w1=$rc1 w2=$rc2"))

    val snap = ManifestLake.latestSnapshot(lake).get
    // versions on disk may have a vacuumed prefix; CONTIGUITY of the
    // surviving suffix + the commit logs' full coverage is the claim
    val vs = ManifestLake.versions(lake).sorted
    val contiguous = vs.zip(vs.drop(1)).forall { case (a, b) => b == a + 1 } &&
      vs.lastOption.contains(snap.version)
    checks += (("version_chain_contiguous", contiguous,
      s"${vs.headOption.getOrElse(-1L)}..${vs.lastOption.getOrElse(-1L)} (${vs.length} manifests)"))

    // the race really happened: the two workers' committed versions
    // interleave (each worker's max exceeds the other's min)
    val interleaved = c1.nonEmpty && c2.nonEmpty &&
      c1.map(_._3).max > c2.map(_._3).min && c2.map(_._3).max > c1.map(_._3).min
    checks += (("commits_interleaved", interleaved,
      s"w1=[${c1.map(_._3).min},${c1.map(_._3).max}] w2=[${c2.map(_._3).min},${c2.map(_._3).max}]"))

    // exactly-once content: every batch present exactly once at its
    // exact row count; nothing else in the lake
    import s.implicits._
    val byBatch = ManifestLake.read(s, lake)
      .groupBy($"worker", $"batch").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expected = ((0 until 12).map(b => ("w1", b.toLong)) ++
      (0 until 9).map(b => ("w2", b.toLong))).map(_ -> RowsPerBatch).toMap
    checks += (("exactly_once_content", byBatch == expected,
      s"${byBatch.size} groups, expected ${expected.size}"))

    val censusTotal = snap.files.flatMap(snap.netRows).sum
    val readTotal = ManifestLake.read(s, lake).count()
    checks += (("rows_census_exact",
      censusTotal == readTotal && readTotal == 21L * RowsPerBatch &&
        snap.rows.keySet == snap.files.toSet,
      s"census=$censusTotal read=$readTotal"))

    checks += (("txn_highwaters", snap.txns.get("w1").contains(11L) &&
      snap.txns.get("w2").contains(8L), snap.txns.toString))

    val indexed = snap.files.forall(f =>
      snap.stats.get(f).exists(_.exists(_.col == "doc_id")) &&
        snap.blooms.get(f).exists(_.exists(_.col == "doc_id")))
    checks += (("skipping_index_intact", indexed, s"${snap.files.length} files"))

    checks.foreach { case (k, ok, detail) =>
      println(s"""{"check":"$k","pass":$ok,"detail":"$detail"}""")
    }
    val pass = checks.forall(_._2)
    println(s"""{"probe":"two_process_commits","pass":$pass,"wall_sec":$wallSec,"versions":${snap.version}}""")
    s.stop()
    if (!pass) sys.exit(1)
  }

  private def jdk17Opens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** One publisher process: n CAS publishes of {lake -> 1} against the
    * shared coordinator — no Spark session, the publish primitive is
    * pure filesystem (exactly what runs on a driver at scale). */
  private def pubWorker(coord: String, lake: String, id: String, n: Int): Unit = {
    // start barrier: JVM startup dwarfs a publish, so without a gate
    // the two processes would serialize and the probe would race
    // nothing — spin until the driver drops the go-file
    val go = Paths.get(coord).resolveSibling("go")
    while (!Files.exists(go)) Thread.sleep(5)
    (0 until n).foreach { i =>
      val seq = graft.core.PublishLog.publish(coord, Map(lake -> 1L))
      println(s"""{"pub":{"worker":"$id","i":$i,"seq":$seq}}""")
    }
  }

  /** Two-PROCESS publish race ([[graft.core.PublishLog]]): the thread
    * race in PublishSpec could in principle be masked by in-JVM
    * serialization; two child JVMs CAS-ing the same coordinator pin
    * the `link(2)` no-replace claim at the process level, like the
    * manifest race in `drive`. Asserts: both exit 0, the 2×100 publishes
    * (released together by a go-file barrier, so the processes
    * genuinely overlap) claim exactly the contiguous sequences 1..200
    * with no duplicate or gap, both workers' claims interleave, and every record parses
    * back to the exact vector. */
  private def drivePublish(work: String): Unit = {
    val root = Paths.get(work)
    Files.createDirectories(root)
    val coord = root.resolve(s"pub_coord_${java.util.UUID.randomUUID()}").toString
    val lake = root.resolve(s"pub_lake_${java.util.UUID.randomUUID()}").toString
    val s = session("drivepub")
    s.sparkContext.setLogLevel("ERROR")
    ManifestLake.append(s, lake, batchDf(s, "seed", 0), "source")
    s.stop()

    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).filter(a =>
        a.startsWith("--add-opens") || a.startsWith("--add-exports"))
    def spawn(id: String, n: Int): (Process, java.io.File) = {
      val log = root.resolve(s"pub_$id.log").toFile
      val cmd = (Seq(javaBin, "-Xmx512m", "-cp", cp) ++
        opens.toSeq ++ jdk17Opens ++
        Seq("graft.ProbeTwoProcess", "pubworker", coord, lake, id, n.toString))
      val pb = new ProcessBuilder(cmd: _*)
      pb.directory(root.toFile); pb.redirectErrorStream(true)
      pb.redirectOutput(log)
      (pb.start(), log)
    }
    val (p1, log1) = spawn("p1", 100)
    val (p2, log2) = spawn("p2", 100)
    Thread.sleep(4000) // let both JVMs reach the barrier
    Files.createFile(Paths.get(coord).resolveSibling("go"))
    val rc1 = p1.waitFor(); val rc2 = p2.waitFor()
    def seqs(f: java.io.File): Seq[(String, Long)] = {
      val re = """\{"pub":\{"worker":"(\w+)","i":\d+,"seq":(\d+)\}\}""".r
      scala.io.Source.fromFile(f).getLines().collect {
        case re(w, q) => (w, q.toLong)
      }.toSeq
    }
    val c1 = seqs(log1); val c2 = seqs(log2)
    val all = (c1 ++ c2).map(_._2)
    val checks = Seq(
      ("exit_codes", rc1 == 0 && rc2 == 0, s"p1=$rc1 p2=$rc2"),
      ("contiguous_exactly_once", all.sorted == (1L to 200L),
        s"claimed=${all.length} distinct=${all.distinct.length} " +
          s"max=${all.max}"),
      ("interleaved",
        c1.map(_._2).max > c2.map(_._2).min && c2.map(_._2).max > c1.map(_._2).min,
        s"p1=[${c1.map(_._2).min},${c1.map(_._2).max}] " +
          s"p2=[${c2.map(_._2).min},${c2.map(_._2).max}]"),
      ("records_parse", (1L to 200L).forall(q =>
        graft.core.PublishLog.vectorAt(coord, q) == Map(lake -> 1L)), ""))
    checks.foreach { case (name, ok, detail) =>
      println(s"""{"check":"$name","pass":$ok,"detail":"$detail"}""")
    }
    println(s"""{"probe":"two_process_publish","pass":${checks.forall(_._2)}}""")
  }

  /** One writer+publisher process: the production pattern — commit a
    * batch, publish the fresh version — repeated n times while a
    * second process vacuums underneath. */
  private def pubVacWriter(coord: String, lake: String, n: Int): Unit = {
    val s = session("pubvacw")
    s.sparkContext.setLogLevel("ERROR")
    (0 until n).foreach { b =>
      // periodic compaction commits a FULL manifest (its rewrite makes
      // the delta body larger than the snapshot), breaking the delta
      // #base chain — without it every manifest would survive as chain
      // substrate and the probe could never observe retirement
      if (b % 4 == 3)
        ManifestLake.compact(s, lake, "source", targetRecordsPerFile = 1024L * 1024)
      val snap = ManifestLake.appendBatch(s, lake, batchDf(s, "pw", b),
        "source", appId = "pw", batchId = b.toLong, maxRecordsPerFile = 128L)
      val seq = graft.core.PublishLog.publish(coord, Map(lake -> snap.version))
      println(s"""{"pubvac":{"i":$b,"seq":$seq,"version":${snap.version}}}""")
    }
    s.stop()
  }

  /** The racing vacuum process: aggressive version retention
    * (keepVersions=1) in a tight loop until the stop-file drops. The
    * 30 s grace keeps the concurrent writer's staged-but-uncommitted
    * files safe (the documented operator contract); manifest
    * RETIREMENT is not grace-gated, so the publish pin is the only
    * thing standing between the loop and the published versions. */
  private def pubVacVacuum(lake: String, stop: String): Unit = {
    var loops = 0
    while (!Files.exists(Paths.get(stop))) {
      ManifestLake.vacuum(lake, keepVersions = 1, graceMillis = 30000L)
      loops += 1
      Thread.sleep(20)
    }
    println(s"""{"vacloops":$loops}""")
  }

  /** The historical-publish writer: appends generations, and at every
    * step publishes an OLD version (latest − 4) — under the racing
    * keepVersions=1 vacuum those are exactly the retirement
    * candidates, so the publish's pre-check/CAS/verify handshake is
    * genuinely exercised: a publish either THROWS loudly (pre-check
    * found the manifest gone, or the post-CAS verify retracted the
    * vector) or RETURNS SUCCESS — in which case the immediate pinned
    * read must be row-exact. Logs every outcome. */
  private def pubHistWriter(coord: String, lake: String, n: Int): Unit = {
    val s = session("pubhistw")
    s.sparkContext.setLogLevel("ERROR")
    (0 until n).foreach { b =>
      if (b % 4 == 3)
        ManifestLake.compact(s, lake, "source", targetRecordsPerFile = 1024L * 1024)
      val snap = ManifestLake.appendBatch(s, lake, batchDf(s, "ph", b),
        "source", appId = "ph", batchId = b.toLong, maxRecordsPerFile = 128L)
      val target = math.max(2L, snap.version - 4)
      val outcome = try {
        val seq = graft.core.PublishLog.publish(coord, Map(lake -> target))
        // SUCCESS must mean immediately serveable, row-exact
        val got = graft.core.PublishLog.readPublishedAt(s, coord, seq, lake).count()
        s""""seq":$seq,"version":$target,"rows":$got"""
      } catch {
        case e: Exception =>
          s""""refused":true,"kind":"${e.getClass.getSimpleName}""""
      }
      println(s"""{"pubhist":{"i":$b,$outcome}}""")
    }
    s.stop()
  }

  /** Two-PROCESS HISTORICAL-publish-vs-vacuum race — the r13 TOCTOU
    * scope note closed: publishing an OLD version concurrently with an
    * in-flight vacuum could previously land a vector whose manifest
    * had just retired (armed-but-broken: fails loudly at read, but the
    * publish RETURNED SUCCESS). The handshake (vacuum `_vacuum.intent`
    * marker + post-delete retraction sweep; publish post-CAS re-verify
    * + tombstone) guarantees: every publish that returns success is
    * immediately serveable and is NEVER later retracted while inside
    * the retain window; every armed-but-broken vector is tombstoned so
    * no consumer can pin it. Asserts exactly that from the artifacts. */
  private def drivePublishHistorical(work: String): Unit = {
    val root = Paths.get(work)
    Files.createDirectories(root)
    val uuid = java.util.UUID.randomUUID()
    val coord = root.resolve(s"pubhist_coord_$uuid").toString
    val lake = root.resolve(s"pubhist_lake_$uuid").toString
    val stop = root.resolve(s"pubhist_stop_$uuid").toString
    val s = session("drivepubhist")
    s.sparkContext.setLogLevel("ERROR")
    ManifestLake.append(s, lake, batchDf(s, "seed", 0), "source") // v1
    ManifestLake.setProperties(lake, Map(
      "publish.coord" -> coord, "publish.retain" -> "3"))         // v2
    graft.core.PublishLog.publish(coord, Map(lake -> 2L))

    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).filter(a =>
        a.startsWith("--add-opens") || a.startsWith("--add-exports"))
    def spawn(tag: String, xmx: String, args: Seq[String]): (Process, java.io.File) = {
      val log = root.resolve(s"pubhist_$tag.log").toFile
      val cmd = (Seq(javaBin, s"-Xmx$xmx", "-cp", cp) ++
        opens.toSeq ++ jdk17Opens ++
        Seq("graft.ProbeTwoProcess") ++ args)
      val pb = new ProcessBuilder(cmd: _*)
      pb.directory(root.toFile); pb.redirectErrorStream(true)
      pb.redirectOutput(log)
      (pb.start(), log)
    }
    val rounds = 16
    val (vp, vlog) = spawn("vac", "512m", Seq("pubvacvacuum", lake, stop))
    val (wp, wlog) = spawn("writer", "3g",
      Seq("pubhistwriter", coord, lake, rounds.toString))
    val rcW = wp.waitFor()
    Files.createFile(Paths.get(stop))
    val rcV = vp.waitFor()

    val okRe = """\{"pubhist":\{"i":(\d+),"seq":(\d+),"version":(\d+),"rows":(\d+)\}\}""".r
    val refRe = """\{"pubhist":\{"i":(\d+),"refused":true.*""".r
    var succ = Vector.empty[(Int, Long, Long, Long)]
    var refused = 0
    scala.io.Source.fromFile(wlog).getLines().foreach {
      case okRe(i, q, v, r) => succ :+= ((i.toInt, q.toLong, v.toLong, r.toLong))
      case refRe(_)         => refused += 1
      case _                => ()
    }
    val loopsRe = """\{"vacloops":(\d+)\}""".r
    val loops = scala.io.Source.fromFile(vlog).getLines().collectFirst {
      case loopsRe(n) => n.toInt
    }.getOrElse(0)
    // every SUCCESS read back row-exact at publish time: version v
    // holds seed + batches 0..(v-3) (v2 = seed+props; batch b commits
    // at version... compactions shift it, so assert against the
    // logged read instead: rows > 0 and divisible by RowsPerBatch)
    val immediate = succ.forall(t => t._4 > 0 && t._4 % RowsPerBatch == 0)
    // no succeeded vector is retracted while inside the FINAL retain
    // window; out-of-window retractions are the honest tombstone of a
    // legitimately-retired snapshot
    val live = graft.core.PublishLog.liveVersions(coord)
    val window = live.takeRight(3).toSet
    val violations = succ.filter(t =>
      graft.core.PublishLog.isRetracted(coord, t._2) && window.contains(t._2))
    // the newest in-window successes still read row-exact NOW
    val finalReads = succ.filter(t => window.contains(t._2)).map { t =>
      val got = try graft.core.PublishLog
        .readPublishedAt(s, coord, t._2, lake).count()
      catch { case _: Exception => -1L }
      (t._2, t._4, got)
    }
    val checks = Seq(
      ("exit_codes", rcW == 0 && rcV == 0, s"writer=$rcW vacuum=$rcV"),
      ("vacuum_overlapped", loops >= 3, s"loops=$loops"),
      ("race_not_vacuous", succ.nonEmpty && (refused > 0 || loops > 50),
        s"succ=${succ.length} refused=$refused loops=$loops"),
      ("success_immediately_serveable", immediate && succ.nonEmpty,
        succ.map(t => s"i${t._1}:${t._4}").mkString(" ")),
      ("no_inwindow_success_retracted", violations.isEmpty,
        s"violations=${violations.map(_._2)}"),
      ("inwindow_success_still_exact",
        finalReads.forall { case (_, atPublish, now) => now == atPublish },
        finalReads.map(t => s"seq${t._1}:${t._3}/${t._2}").mkString(" ")))
    checks.foreach { case (name, ok, detail) =>
      println(s"""{"check":"$name","pass":$ok,"detail":"$detail"}""")
    }
    println(s"""{"probe":"two_process_publish_historical","pass":${checks.forall(_._2)}}""")
    s.stop()
  }

  /** Two-PROCESS publish-vs-vacuum race: a writer process commits and
    * publishes 12 generations while a second process loops an
    * aggressive `vacuum` (keepVersions=1) against the same lake. The
    * lake declares `publish.coord` + `publish.retain=2`, so the pin
    * computed inside each racing vacuum census is all that keeps
    * published manifests alive. Asserts: both exit 0, the vacuum loop
    * genuinely overlapped the writer (≥3 iterations), versions BELOW
    * the retain window were actually retired (the vacuum wasn't
    * vacuous), and the newest `publish.retain` publishes read back
    * row-exact AFTER the dust settles — every currently-published
    * read stayed serveable through the race. */
  private def drivePublishVacuum(work: String): Unit = {
    val root = Paths.get(work)
    Files.createDirectories(root)
    val uuid = java.util.UUID.randomUUID()
    val coord = root.resolve(s"pubvac_coord_$uuid").toString
    val lake = root.resolve(s"pubvac_lake_$uuid").toString
    val stop = root.resolve(s"pubvac_stop_$uuid").toString
    val s = session("drivepubvac")
    s.sparkContext.setLogLevel("ERROR")
    ManifestLake.append(s, lake, batchDf(s, "seed", 0), "source") // v1
    ManifestLake.setProperties(lake, Map(
      "publish.coord" -> coord, "publish.retain" -> "2"))         // v2
    graft.core.PublishLog.publish(coord, Map(lake -> 2L))

    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).filter(a =>
        a.startsWith("--add-opens") || a.startsWith("--add-exports"))
    def spawn(tag: String, xmx: String, args: Seq[String]): (Process, java.io.File) = {
      val log = root.resolve(s"pubvac_$tag.log").toFile
      val cmd = (Seq(javaBin, s"-Xmx$xmx", "-cp", cp) ++
        opens.toSeq ++ jdk17Opens ++
        Seq("graft.ProbeTwoProcess") ++ args)
      val pb = new ProcessBuilder(cmd: _*)
      pb.directory(root.toFile); pb.redirectErrorStream(true)
      pb.redirectOutput(log)
      (pb.start(), log)
    }
    val rounds = 12
    val (vp, vlog) = spawn("vac", "512m", Seq("pubvacvacuum", lake, stop))
    val (wp, wlog) = spawn("writer", "3g",
      Seq("pubvacwriter", coord, lake, rounds.toString))
    val rcW = wp.waitFor()
    Files.createFile(Paths.get(stop))
    val rcV = vp.waitFor()

    val pubRe = """\{"pubvac":\{"i":(\d+),"seq":(\d+),"version":(\d+)\}\}""".r
    val pubs = scala.io.Source.fromFile(wlog).getLines().collect {
      case pubRe(i, q, v) => (i.toInt, q.toLong, v.toLong)
    }.toVector.sortBy(_._2)
    val loopsRe = """\{"vacloops":(\d+)\}""".r
    val loops = scala.io.Source.fromFile(vlog).getLines().collectFirst {
      case loopsRe(n) => n.toInt
    }.getOrElse(0)
    // one settled vacuum after the race: the racing loop may have
    // exited mid-history, so retirement-below-the-window is asserted
    // against a census that saw the final publishes
    ManifestLake.vacuum(lake, keepVersions = 1, graceMillis = 30000L)
    val retain = 2
    val newest = pubs.takeRight(retain)
    val serveable = newest.map { case (i, seq, v) =>
      val expected = RowsPerBatch * (2 + i) // seed + batches 0..i
      val got = try graft.core.PublishLog
        .readPublishedAt(s, coord, seq, lake).count()
      catch { case e: Exception => -1L }
      (seq, v, expected, got)
    }
    val liveVersions = ManifestLake.versions(lake).toSet
    val pinnedNow = newest.map(_._3).toSet
    val retiredBelow = pubs.dropRight(retain).map(_._3)
      .count(v => !liveVersions.contains(v))
    val checks = Seq(
      ("exit_codes", rcW == 0 && rcV == 0, s"writer=$rcW vacuum=$rcV"),
      ("vacuum_overlapped", loops >= 3, s"loops=$loops"),
      ("published_reads_serveable",
        serveable.forall(t => t._3 == t._4) && serveable.nonEmpty,
        serveable.map(t => s"seq${t._1}@v${t._2}:${t._4}/${t._3}").mkString(" ")),
      ("pinned_manifests_alive", pinnedNow.subsetOf(liveVersions),
        s"pinned=$pinnedNow live=${liveVersions.toVector.sorted.takeRight(6)}"),
      ("unpinned_actually_retired", retiredBelow > 0,
        s"retired=$retiredBelow of ${pubs.length - retain} below the window"))
    checks.foreach { case (name, ok, detail) =>
      println(s"""{"check":"$name","pass":$ok,"detail":"$detail"}""")
    }
    println(s"""{"probe":"two_process_publish_vacuum","pass":${checks.forall(_._2)}}""")
    s.stop()
  }
}
