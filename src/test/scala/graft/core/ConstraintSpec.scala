package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** CHECK constraints ([[ManifestLake.addConstraint]] /
  * [[ManifestLake.withCheckConstraints]]): Delta's constraint surface.
  * The contract pinned here: every write path enforces (append,
  * appendBatch, MoR update images, merge rows, SQL INSERT, SQL COW
  * UPDATE), enforcement is row-wise inside the staged write (no second
  * scan), NULL passes / FALSE violates (SQL CHECK), a violating write
  * commits NOTHING, and add-time validation scans the existing corpus.
  */
class ConstraintSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("lake").toString

  private def mkLake(dir: String, n: Long = 100L): Unit = {
    import spark.implicits._
    val df = spark.range(0, n)
      .select($"id".as("doc_id"),
        concat(lit("s"), ($"id" % 2).cast("string")).as("source"),
        ($"id" * 10).as("n_chars"))
    ManifestLake.append(spark, dir, df, "source", statsCols = Seq("doc_id"))
  }

  private def rows(doc0: Long, nChars: Long, n: Long = 5L) = {
    import spark.implicits._
    spark.range(doc0, doc0 + n)
      .select($"id".as("doc_id"), lit("s0").as("source"),
        lit(nChars).as("n_chars"))
  }

  private def msgs(t: Throwable): List[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).toList

  test("append enforces; the violating batch commits NOTHING; drop lifts it") {
    import spark.implicits._
    val dir = tmp("cons_append")
    mkLake(dir)
    ManifestLake.addConstraint(spark, dir, "chars_nonneg", "n_chars >= 0")
    val v = ManifestLake.latestSnapshot(dir).get.version
    ManifestLake.append(spark, dir, rows(1000, 7), "source")      // passes
    val e = intercept[Throwable](
      ManifestLake.append(spark, dir, rows(2000, -1), "source"))
    assert(msgs(e).exists(m => m.contains("chars_nonneg") &&
      m.contains("CHECK (n_chars >= 0)")), msgs(e).mkString("\n"))
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(snap.version == v + 1, "the violating append must not commit")
    assert(ManifestLake.read(spark, dir).filter($"n_chars" < 0).count() == 0L)
    ManifestLake.dropConstraint(dir, "chars_nonneg")
    ManifestLake.append(spark, dir, rows(2000, -1), "source")     // now legal
    assert(ManifestLake.read(spark, dir).filter($"n_chars" < 0).count() == 5L)
  }

  test("NULL passes, FALSE violates; an append omitting the referenced column passes") {
    import spark.implicits._
    val dir = tmp("cons_null")
    // doc_id 1.. so every existing n_chars = id*10 is strictly positive
    val seed = spark.range(1, 100)
      .select($"id".as("doc_id"),
        concat(lit("s"), ($"id" % 2).cast("string")).as("source"),
        ($"id" * 10).as("n_chars"))
    ManifestLake.append(spark, dir, seed, "source", statsCols = Seq("doc_id"))
    ManifestLake.addConstraint(spark, dir, "chars_pos", "n_chars > 0")
    // explicit NULL in the referenced column: SQL CHECK passes it
    val withNull = spark.range(3000, 3005)
      .select($"id".as("doc_id"), lit("s0").as("source"),
        lit(null).cast("long").as("n_chars"))
    ManifestLake.append(spark, dir, withNull, "source")
    // a frame that legally OMITS n_chars (additive-evolution read
    // contract null-fills): same rule, passes
    val omitted = spark.range(4000, 4005)
      .select($"id".as("doc_id"), lit("s0").as("source"))
    ManifestLake.append(spark, dir, omitted, "source")
    assert(ManifestLake.read(spark, dir)
      .filter($"doc_id" >= 3000).count() == 10L)
  }

  test("add-time validation scans the corpus and refuses with the casualty count") {
    val dir = tmp("cons_existing")
    mkLake(dir)  // doc_id 0..99
    val e = intercept[IllegalStateException](
      ManifestLake.addConstraint(spark, dir, "big_ids", "doc_id >= 50"))
    assert(e.getMessage.contains("50 existing row(s)"), e.getMessage)
    assert(ManifestLake.latestSnapshot(dir).get.constraints.isEmpty)
  }

  test("MoR update images and merge rows are checked; nondeterministic constraints refuse") {
    import spark.implicits._
    val dir = tmp("cons_dml")
    mkLake(dir)
    ManifestLake.addConstraint(spark, dir, "chars_cap", "n_chars < 100000")
    val e1 = intercept[Throwable](ManifestLake.updateWhereDv(spark, dir,
      $"doc_id" === 3, Seq("n_chars" -> lit(100000L))))
    assert(msgs(e1).exists(_.contains("chars_cap")), msgs(e1).mkString("\n"))
    assert(ManifestLake.read(spark, dir)
      .filter($"n_chars" >= 100000).count() == 0L)
    val bad = Seq((7L, "s1", 999999L)).toDF("doc_id", "source", "n_chars")
    val e2 = intercept[Throwable](
      ManifestLake.merge(spark, dir, bad, Seq("doc_id")))
    assert(msgs(e2).exists(_.contains("chars_cap")), msgs(e2).mkString("\n"))
    val e3 = intercept[IllegalArgumentException](
      ManifestLake.addConstraint(spark, dir, "flaky", "rand() < 0.5"))
    assert(e3.getMessage.contains("deterministic"))
  }

  test("SQL surface: INSERT and copy-on-write UPDATE enforce; CALL manages the lifecycle") {
    import spark.implicits._
    val dir = tmp("cons_sql")
    mkLake(dir)
    spark.conf.set("spark.sql.catalog.graft_cons",
      classOf[GraftCatalog].getName)
    spark.sql(s"CALL graft_cons.add_constraint(path => '$dir', " +
      "name => 'chars_nonneg', check => 'n_chars >= 0')")
    assert(ManifestLake.latestSnapshot(dir).get.constraints ==
      Seq("chars_nonneg" -> "n_chars >= 0"))
    spark.sql(s"INSERT INTO graft_cons.`$dir` VALUES (900, 's0', 5)")
    val e1 = intercept[Throwable](
      spark.sql(s"INSERT INTO graft_cons.`$dir` VALUES (901, 's0', -5)"))
    assert(msgs(e1).exists(_.contains("chars_nonneg")), msgs(e1).mkString("\n"))
    val vBefore = ManifestLake.latestSnapshot(dir).get.version
    val e2 = intercept[Throwable](
      spark.sql(s"UPDATE graft_cons.`$dir` SET n_chars = -1 WHERE doc_id = 3"))
    assert(msgs(e2).exists(_.contains("chars_nonneg")), msgs(e2).mkString("\n"))
    assert(ManifestLake.latestSnapshot(dir).get.version == vBefore,
      "the violating SQL UPDATE must not commit")
    assert(ManifestLake.read(spark, dir).filter($"n_chars" < 0).count() == 0L)
    spark.sql(s"CALL graft_cons.drop_constraint(path => '$dir', " +
      "name => 'chars_nonneg')")
    spark.sql(s"UPDATE graft_cons.`$dir` SET n_chars = -1 WHERE doc_id = 3")
    assert(ManifestLake.read(spark, dir).filter($"n_chars" < 0).count() == 1L)
  }

  test("the streaming sink enforces constraints per micro-batch; the stream fails loudly") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val dir = tmp("cons_stream")
    mkLake(dir, n = 10L)
    ManifestLake.addConstraint(spark, dir, "chars_nonneg", "n_chars >= 0")
    val ckpt = java.nio.file.Files.createTempDirectory("cons_stream_ckpt").toString
    val ms = MemoryStream[(Long, String, Long)]
    val q = ms.toDF().toDF("doc_id", "source", "n_chars")
      .writeStream.format("graft")
      .option("path", dir).option("checkpointLocation", ckpt)
      .option("appId", "consStream").start()
    try {
      ms.addData((100L, "s0", 5L))
      q.processAllAvailable()
      assert(ManifestLake.read(spark, dir).count() == 11L)
      ms.addData((101L, "s0", -5L))
      val e = intercept[Throwable](q.processAllAvailable())
      assert(msgs(e).exists(_.contains("chars_nonneg")) ||
        q.exception.exists(ex => msgs(ex).exists(_.contains("chars_nonneg"))),
        msgs(e).mkString("\n"))
    } finally q.stop()
    // the violating micro-batch committed nothing
    assert(ManifestLake.read(spark, dir).count() == 11L)
    assert(ManifestLake.read(spark, dir).filter($"n_chars" < 0).count() == 0L)
  }

  test("CREATE TABLE declares constraints via TBLPROPERTIES; first INSERT already enforces") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft_cddl",
      classOf[GraftCatalog].getName)
    val dir = tmp("cons_ddl")
    spark.sql(s"CREATE TABLE graft_cddl.`$dir` " +
      "(doc_id BIGINT, source STRING, n_chars BIGINT) " +
      "PARTITIONED BY (source) " +
      "TBLPROPERTIES('statsCols'='doc_id', " +
      "'constraint.chars_nonneg'='n_chars >= 0')")
    assert(ManifestLake.latestSnapshot(dir).get.constraints ==
      Seq("chars_nonneg" -> "n_chars >= 0"))
    spark.sql(s"INSERT INTO graft_cddl.`$dir` VALUES (1, 's0', 5)")
    val e = intercept[Throwable](
      spark.sql(s"INSERT INTO graft_cddl.`$dir` VALUES (2, 's0', -5)"))
    assert(msgs(e).exists(_.contains("chars_nonneg")), msgs(e).mkString("\n"))
    assert(ManifestLake.read(spark, dir).count() == 1L)
    // a malformed declaration refuses the CREATE itself
    val e2 = intercept[Throwable](spark.sql(
      s"CREATE TABLE graft_cddl.`${tmp("cons_ddl2")}` (a BIGINT, s STRING) " +
        "PARTITIONED BY (s) TBLPROPERTIES('constraint.bad name'='a > 0')"))
    assert(msgs(e2).exists(_.contains("[A-Za-z0-9_]")), msgs(e2).mkString("\n"))
  }

  test("constraints survive clone and keep enforcing there; CALL clone round-trips") {
    import spark.implicits._
    val src = tmp("cons_clone_src")
    mkLake(src)
    ManifestLake.addConstraint(spark, src, "chars_nonneg", "n_chars >= 0")
    val dst = Files.createTempDirectory("cons_clone_dst").resolve("lake").toString
    spark.conf.set("spark.sql.catalog.graft_consc",
      classOf[GraftCatalog].getName)
    val out = spark.sql(s"CALL graft_consc.clone(source => '$src', " +
      s"target => '$dst')").collect().head
    assert(out.getAs[Long]("n_rows") == 100L)
    assert(ManifestLake.latestSnapshot(dst).get.constraints ==
      Seq("chars_nonneg" -> "n_chars >= 0"))
    val e = intercept[Throwable](
      ManifestLake.append(spark, dst, rows(5000, -3), "source"))
    assert(msgs(e).exists(_.contains("chars_nonneg")), msgs(e).mkString("\n"))
  }

  test("CREATE-time constraints resolve against the declared schema: a typo'd column refuses") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    // a misspelled column would otherwise be accepted and then NEVER
    // enforce (the write guard null-fills missing attributes and NULL
    // passes SQL CHECK) — the typo must die at CREATE
    val e = intercept[Throwable](ManifestLake.create(
      tmp("cons_typo"), schema, "source",
      constraints = Map("chars_nonneg" -> "n_charss >= 0")))
    assert(msgs(e).exists(m => m.contains("n_charss") &&
      m.contains("not in the declared schema")), msgs(e).mkString("\n"))
    // the same expression over the REAL column is accepted, and
    // expressions composing functions over declared columns resolve
    ManifestLake.create(tmp("cons_ok"), schema, "source",
      constraints = Map(
        "chars_nonneg" -> "n_chars >= 0",
        "src_shape" -> "length(source) > 0 AND doc_id IS NOT NULL"))
    // ...and the SQL TBLPROPERTIES path refuses the same typo
    spark.conf.set("spark.sql.catalog.graft_ctypo",
      classOf[GraftCatalog].getName)
    val e2 = intercept[Throwable](spark.sql(
      s"CREATE TABLE graft_ctypo.`${tmp("cons_typo2")}` (a BIGINT, s STRING) " +
        "PARTITIONED BY (s) TBLPROPERTIES('constraint.pos'='aa > 0')"))
    assert(msgs(e2).exists(_.contains("not in the declared schema")),
      msgs(e2).mkString("\n"))
  }

  test("addConstraint re-validates files a concurrent commit added: the race cannot commit a violated constraint") {
    import spark.implicits._
    val dir = tmp("cons_race")
    mkLake(dir)
    // a concurrent append lands AFTER the validation scan, BEFORE the
    // property commit — with violating rows the constraint must refuse
    val e = intercept[IllegalStateException](
      ManifestLake.onNextCommit(dir) {
        ManifestLake.append(spark, dir, rows(9000, -7), "source"); ()
      }(ManifestLake.addConstraint(spark, dir, "chars_nonneg", "n_chars >= 0")))
    assert(e.getMessage.contains("concurrent commit") &&
      e.getMessage.contains("violating"), e.getMessage)
    assert(ManifestLake.latestSnapshot(dir).get.constraints.isEmpty,
      "the refused constraint must not be committed")
    // with a CLEAN concurrent append the constraint still commits
    // (delta re-scan passes; the rebase is not itself a failure)
    ManifestLake.deleteWhereDv(spark, dir, $"doc_id" >= 9000 && $"doc_id" < 9100)
    ManifestLake.onNextCommit(dir) {
      ManifestLake.append(spark, dir, rows(9100, 7), "source"); ()
    }(ManifestLake.addConstraint(spark, dir, "chars_nonneg", "n_chars >= 0"))
    assert(ManifestLake.latestSnapshot(dir).get.constraints ==
      Seq("chars_nonneg" -> "n_chars >= 0"))
  }

  test("clone strips analyze.* props (source-relative staleness) and redoes size-mismatched partial copies") {
    import spark.implicits._
    val src = tmp("cons_anlz_src")
    mkLake(src)
    Cbo.analyze(spark, src)
    assert(ManifestLake.latestSnapshot(src).get.props.keys
      .exists(_.startsWith("analyze.")), "precondition: source analyzed")
    val dst = Files.createTempDirectory("cons_anlz_dst").resolve("lake").toString
    // simulate a crash-interrupted NON-atomic copy from a prior run: a
    // truncated file already sits at one destination path — the re-run
    // must redo it, not adopt it
    val srcSnap = ManifestLake.latestSnapshot(src).get
    val f0 = srcSnap.files.head
    val to = java.nio.file.Paths.get(dst).resolve(f0)
    Files.createDirectories(to.getParent)
    Files.write(to, Array[Byte](1, 2, 3)) // truncated garbage
    ManifestLake.clone(src, dst)
    val cloned = ManifestLake.latestSnapshot(dst).get
    assert(!cloned.props.keys.exists(_.startsWith("analyze.")),
      s"analyze.* must not survive clone: ${cloned.props}")
    assert(Cbo.persistedStats(dst).isEmpty,
      "the clone must force a fresh ANALYZE, not serve source-relative stats")
    assert(Files.size(to) ==
      Files.size(java.nio.file.Paths.get(src).resolve(f0)),
      "the truncated leftover must be redone, not adopted")
    assert(ManifestLake.read(spark, dst).count() == 100L)
  }
}
