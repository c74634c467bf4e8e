package graft.core

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Manifest-committed lake — the concurrent-writer-safe evolution of
  * [[Layout.compactLake]]'s rename-swap (whose staging protocol is safe
  * for concurrent READERS but documented single-writer: a writer
  * appending into a partition mid-swap lands files in the directory the
  * swap is about to rename away). This is the same idea Delta Lake /
  * Iceberg build on, reduced to its load-bearing core over plain
  * partitioned parquet:
  *
  *  - the lake's contents are DEFINED by a manifest, not by directory
  *    listing: `_manifests/v{N}` is a text file of relative data-file
  *    paths, and readers open exactly the files the highest committed
  *    manifest names. Uncommitted files are invisible — a crashed
  *    writer leaves garbage bytes, never garbage rows;
  *  - every write lands files under dot-prefixed staging (invisible to
  *    any directory-listing reader too), hard-renames them into the
  *    partition directories under collision-free UUID names, and then
  *    COMMITS by publishing manifest N+1;
  *  - the commit primitive is compare-and-swap via
  *    `Files.createLink(vN+1, tmp)` — `link(2)` fails with EEXIST
  *    atomically if vN+1 already exists. POSIX `rename(2)` silently
  *    REPLACES an existing target, so an atomic-move "commit" would let
  *    two racing writers both believe they won; hard-link creation is
  *    the local-FS primitive with no-replace semantics (HDFS gets this
  *    from rename-without-overwrite; S3 needs a commit service — the
  *    protocol is unchanged, only this one CAS call is swapped per
  *    filesystem);
  *  - a loser of the CAS race re-reads the latest manifest, REBASES its
  *    intent on it, and retries: appenders only add paths, so their
  *    rebase is set-union; compaction replaces old paths with new ones,
  *    so its rebase keeps any file appended since its snapshot and
  *    abandons a partition's swap if another compactor already removed
  *    the files it meant to replace (its staged output is deleted,
  *    nothing is lost — the other compactor's result stands);
  *  - nothing is ever deleted at commit time: replaced files stay on
  *    disk so readers pinned to an older manifest finish their scans.
  *    [[vacuum]] reclaims files unreferenced by the last K manifests —
  *    the retention/GC half of the protocol, run out-of-band like
  *    Delta's VACUUM.
  *
  * On that commit core the standard table-format capabilities are each
  * a few header lines, not new machinery:
  *  - exactly-once streaming ([[appendBatch]]/[[streamSink]]): per-app
  *    `#txn` high-waters ride every commit, so a re-delivered
  *    micro-batch is a no-op;
  *  - time travel ([[read]] with a snapshot, [[snapshotAt]]): commits
  *    never delete data files, so every un-vacuumed version stays a
  *    complete consistent read;
  *  - data skipping ([[readWhere]]/[[pruneFiles]]): per-file footer
  *    min/max committed in the file line prunes opens from the
  *    manifest alone;
  *  - CDC ([[readChanges]]): `#op`-tagged commits make
  *    "rows added since version N" a metadata file-diff, with
  *    compaction rewrites invisible;
  *  - schema evolution ([[evolveSchema]], `#schema` header): reads
  *    apply the committed schema (added columns null-fill, zero
  *    per-file inference), type flips fail the commit by name.
  *
  * At 100 TB the manifest is the scan plan: a read opens zero
  * directories and exactly the named files, so the small-file pathology
  * compaction repairs never taxes the planner either. Commit I/O is
  * O(changed files), not O(live files): ordinary commits write a DELTA
  * manifest (`#base:` + `+`/`-` edits against the parent) and every
  * [[ManifestCheckpointEvery]]-th version writes a full snapshot — the
  * Delta-Lake JSON-log + checkpoint shape — so an append of 50 files
  * into a million-file lake writes ~50 lines, while a read resolves at
  * most `ManifestCheckpointEvery - 1` delta files past a checkpoint. A
  * billion-file lake would add Iceberg-style manifest sharding on top,
  * not change the commit protocol.
  */
object ManifestLake {

  private val ManifestDir = "_manifests"
  private val MaxCommitRetries = 50

  /** Delta-log cadence: a commit whose version is a multiple of this
    * writes a FULL snapshot (a checkpoint); every other commit writes
    * only its diff against the parent (`#base:<v>` header, `+<line>` /
    * `-<path>` body) when the diff is smaller. Caps any resolve chain
    * at `ManifestCheckpointEvery - 1` delta files — the Delta-Lake
    * checkpoint interval idea (theirs is 10). */
  private[core] val ManifestCheckpointEvery = 16L

  /** A committed lake version. `files` are relative data paths;
    * `txns` is the per-writer-app high-water batch id carried forward
    * by every commit (Delta's txn appId/version pair): a streaming
    * writer whose micro-batch is re-delivered after a crash checks its
    * app's high-water and skips the duplicate — exactly-once commits
    * on top of at-least-once delivery, O(#apps) manifest overhead. */
  final case class Snapshot(version: Long, files: Vector[String],
                            txns: Map[String, Long] = Map.empty,
                            stats: Map[String, Vector[FileStats]] = Map.empty,
                            op: String = "append",
                            schema: Option[org.apache.spark.sql.types.StructType] = None,
                            blooms: Map[String, Vector[FileBloom]] = Map.empty,
                            tsMillis: Option[Long] = None,
                            rows: Map[String, Long] = Map.empty,
                            props: Map[String, String] = Map.empty,
                            buckets: Map[String, Int] = Map.empty,
                            dvs: Map[String, DvStore.Dv] = Map.empty,
                            cdfFiles: Vector[String] = Vector.empty,
                            sizes: Map[String, FileSize] = Map.empty) {
    /** Rows a read of `f` actually emits: footer count minus its
      * deletion vector. Exact — DV counts are exact, so COUNT(*) and
      * LIMIT-prefix planning stay manifest-answerable under deletes. */
    def netRows(f: String): Option[Long] =
      rows.get(f).map(_ - dvs.get(f).fold(0L)(_.count))
    /** Declared layout (SQL `CREATE TABLE ... PARTITIONED BY` /
      * TBLPROPERTIES), carried forward by every commit. Empty on
      * writer-created lakes, whose layout is established by first
      * data instead. */
    def declaredPartitionCol: Option[String] = props.get(PropPartitionCol)
    def declaredStatsCols: Seq[String] = csvProp(PropStatsCols)
    def declaredBloomCols: Seq[String] = csvProp(PropBloomCols)
    /** How SQL `DELETE FROM` mutates this lake: `copy-on-write` (the
      * default — rewrite affected files) or `merge-on-read` (position
      * sidecars, cost ∝ deleted rows; Iceberg's `write.delete.mode`). */
    def declaredDeleteMode: String =
      props.getOrElse(PropDeleteMode, "copy-on-write")
    /** Delta's `delta.enableChangeDataFeed`: when true, COPY-ON-WRITE
      * mutations (delete/update/merge — Scala and SQL alike) write
      * commit-time change sidecars under `_cdf/`, referenced by the
      * same CAS commit's `#cdf:` headers, so [[readChangeFeed]] and
      * the DSv2/stream faces serve row-level changes for BOTH mutation
      * modes. Default false: COW DML stays sidecar-free (no extra
      * write cost) and a CDF read over such a commit fails loudly, as
      * before. */
    def cdfEnabled: Boolean = props.get(PropCdfEnabled).contains("true")
    /** Declared hash-bucket layout `(col, numBuckets)` — the secondary
      * clustering that lets storage-partitioned joins run on the KEY
      * column (doc_id-shaped), not just the partition directory. Set
      * on the first bucketed append or by DDL; a contract like
      * [[declaredPartitionCol]] once set. */
    def declaredBucket: Option[(String, Int)] = for {
      c <- props.get(PropBucketCol)
      n <- props.get(PropBucketN).flatMap(_.toIntOption) if n > 0
    } yield (c, n)
    /** CHECK constraints (`constraint.<name>` props — Delta's
      * `delta.constraints.*` shape): name → SQL predicate, enforced
      * row-wise on every write path. Sorted for deterministic error
      * ordering. */
    def constraints: Seq[(String, String)] = props.iterator.collect {
      case (k, v) if k.startsWith(PropConstraintPrefix) =>
        (k.stripPrefix(PropConstraintPrefix), v)
    }.toSeq.sortBy(_._1)
    /** COLUMN MAPPING (Delta's column-mapping name mode, props-encoded):
      * `colmap.<physical>=<logical>` renames a committed column
      * METADATA-ONLY — `schema` (and every manifest-internal structure:
      * stats, blooms, partition directories, bucket declarations,
      * constraint expressions) stays keyed on PHYSICAL names, the
      * names the parquet bytes actually carry; the logical name exists
      * only at the API boundary ([[ManifestLake.read]]'s output, write
      * entry translation, the DSv2 table schema). `coldrop.<physical>`
      * hides a committed column from reads without touching a byte —
      * time travel to a pre-drop version still serves it (that
      * snapshot has no coldrop prop). */
    /** Whether a dotted `colmap.`/`coldrop.` key is a NESTED field
      * path, not a legacy TOP-LEVEL mapping of a physical column whose
      * name itself contains '.'. Pre-nested-DDL builds only refused
      * '=', '\n', '\r' in column names, so such keys can legally exist
      * on older lakes — re-reading them as nested paths would silently
      * stop applying the rename/drop (or worse, misapply it under an
      * unrelated struct root). The disambiguation is against the
      * COMMITTED schema: a key that names a whole committed column is
      * top-level; otherwise it is nested only when its root segment is
      * a committed STRUCT column. New-build DDL refuses '.' in every
      * segment, so post-change lakes never reach the fallback. */
    private def nestedKeyPath(k: String): Option[Seq[String]] =
      if (!k.contains('.')) None
      else if (schema.exists(_.fieldNames.contains(k))) None
      else {
        val root = k.takeWhile(_ != '.')
        if (schema.exists(sc => sc.fieldNames.contains(root) &&
            sc(root).dataType
              .isInstanceOf[org.apache.spark.sql.types.StructType]))
          Some(scala.collection.immutable.ArraySeq.unsafeWrapArray(
            k.split('.')))
        else None
      }
    def renames: Map[String, String] = props.iterator.collect {
      case (k, v) if k.startsWith(PropColMapPrefix)
          && nestedKeyPath(k.stripPrefix(PropColMapPrefix)).isEmpty =>
        (k.stripPrefix(PropColMapPrefix), v)
    }.toMap
    def droppedCols: Set[String] = props.iterator.collect {
      case (k, _) if k.startsWith(PropColDropPrefix)
          && nestedKeyPath(k.stripPrefix(PropColDropPrefix)).isEmpty =>
        k.stripPrefix(PropColDropPrefix)
    }.toSet
    /** NESTED column mapping: a dotted `colmap.`/`coldrop.` key is a
      * PHYSICAL FIELD PATH through struct columns (`root.mid.leaf` —
      * every segment the physical name; the DDL refuses segment names
      * containing '.', so the encoding is unambiguous — see
      * [[nestedKeyPath]] for the legacy dotted-top-level fallback).
      * The value of a nested rename is the field's new LEAF name;
      * drops hide the whole subtree. Same era rules as top-level
      * mapping: the props live per-snapshot, so time travel is
      * automatically correct. */
    def nestedRenames: Map[Seq[String], String] = props.iterator.flatMap {
      case (k, v) if k.startsWith(PropColMapPrefix) =>
        nestedKeyPath(k.stripPrefix(PropColMapPrefix)).map(_ -> v)
      case _ => None
    }.toMap
    def nestedDrops: Set[Seq[String]] = props.iterator.flatMap {
      case (k, _) if k.startsWith(PropColDropPrefix) =>
        nestedKeyPath(k.stripPrefix(PropColDropPrefix))
      case _ => None
    }.toSet
    /** Top-level physical columns with nested mapping beneath them. */
    def nestedRoots: Set[String] =
      nestedRenames.keysIterator.map(_.head).toSet ++
        nestedDrops.iterator.map(_.head)
    def mappingActive: Boolean = props.keysIterator.exists(k =>
      k.startsWith(PropColMapPrefix) || k.startsWith(PropColDropPrefix))
    /** The physical column's user-facing name (itself when unmapped). */
    def logicalName(physical: String): String =
      renames.getOrElse(physical, physical)
    /** The user-facing name's physical column, None for unknown or
      * dropped names. Rename/add refusals guarantee a logical name
      * never collides with a different column's physical name, so the
      * rename map wins and the fallthrough is safe. */
    def physicalName(logical: String): Option[String] = {
      val viaMap = renames.collectFirst { case (p, l) if l == logical => p }
      viaMap.orElse(schema.flatMap(_.fieldNames.find(_ == logical))
        .filterNot(p => droppedCols.contains(p) || renames.contains(p)))
    }
    /** The user-facing schema: committed (physical) schema with
      * renames applied and dropped columns hidden, order preserved. */
    def logicalSchema: Option[org.apache.spark.sql.types.StructType] =
      schema.map { sc =>
        if (!mappingActive) sc
        else org.apache.spark.sql.types.StructType(sc.fields.toIndexedSeq
          .filterNot(f => droppedCols.contains(f.name))
          .map(f => f.copy(name = logicalName(f.name),
            dataType = ManifestLake.nestedLogicalType(this, f.dataType,
              Seq(f.name)))))
      }
    private def csvProp(k: String): Seq[String] =
      props.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
  }

  private[core] val PropPartitionCol = "partitionCol"
  private[core] val PropStatsCols = "statsCols"
  private[core] val PropBloomCols = "bloomCols"
  private[core] val PropBucketCol = "bucketCol"
  private[core] val PropBucketN = "bucketN"
  private[core] val PropDeleteMode = "write.delete.mode"
  private[core] val PropConstraintPrefix = "constraint."
  private[core] val DeleteModes = Set("copy-on-write", "merge-on-read")
  private[core] val PropCdfEnabled = "enableChangeDataFeed"
  /** Publish-aware retention (the [[PublishLog]] trade closed): a lake
    * that declares its coordinator directory here has [[vacuum]]
    * protect every version the newest [[PropPublishRetain]] (default
    * 2) publish vectors name for it — so automated retention can never
    * retire a manifest the CURRENT cross-lake snapshot still serves. */
  private[core] val PropPublishCoord = "publish.coord"
  private[core] val PropPublishRetain = "publish.retain"
  /** Column-mapping props — see [[Snapshot.renames]]. */
  private[core] val PropColMapPrefix = "colmap."
  private[core] val PropColDropPrefix = "coldrop."
  /** Commit-time change sidecars live here (Delta's `_change_data`):
    * UNPARTITIONED parquet carrying the lake's columns plus a stored
    * `_change_type`, referenced per-commit by `#cdf:` headers — never
    * by the `files` ledger, so plain reads/time travel never see them
    * and vacuum reclaims them with their manifest's retirement. */
  private[core] val CdfDir = "_cdf"
  private[core] val CdfTypeCol = "_change_type"

  /** One min/max endpoint of a tracked column: numeric (BigDecimal so
    * int64 keys compare exactly — a double would corrupt ids past
    * 2^53) or string. String bounds compare by UNSIGNED UTF-8 BYTE
    * order — the order parquet's UTF8 column statistics are computed
    * in AND the order Spark's UTF8String sorts/compares in, so the
    * manifest's prune decision and the engine's row-level comparison
    * agree exactly. (Java's String.compareTo is UTF-16 code-unit
    * order, which disagrees on supplementary characters — never used
    * here.) */
  sealed abstract class Bound
  object Bound {
    final case class Num(v: BigDecimal) extends Bound
    final case class Str(v: String) extends Bound
    private[core] def utf8Cmp(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
    /** None = incomparable kinds (numeric vs string) — pruning must
      * then conservatively KEEP the file. */
    private[core] def cmp(a: Bound, b: Bound): Option[Int] = (a, b) match {
      case (Num(x), Num(y)) => Some(x.compare(y))
      case (Str(x), Str(y)) => Some(utf8Cmp(x, y))
      case _                => None
    }
    private[core] def min(a: Bound, b: Bound): Bound =
      if (cmp(a, b).getOrElse(0) <= 0) a else b
    private[core] def max(a: Bound, b: Bound): Bound =
      if (cmp(a, b).getOrElse(0) >= 0) a else b
  }

  /** String stat bounds longer than this are NOT committed (the whole
    * column is dropped for that file — conservatively kept by every
    * prune). Truncating a max to a prefix would UNDERSTATE it (prefix
    * < full string), silently skipping files that match; Delta solves
    * this with last-char increment, we simply refuse — long-string
    * columns (full text) are not range-scan keys. */
  val MaxStringStatChars: Int = 96

  /** Per-file min/max of one tracked column (files may track several
    * — Delta records stats for N leading columns, same idea), read
    * from the parquet FOOTER at
    * commit time (no data pass) and carried in the manifest line —
    * Delta-style data skipping. At 100 TB on object storage this is
    * the difference between a point lookup opening K clustered files
    * and opening every file in the lake to ask its footer the same
    * question: the manifest answers before any file is touched. */
  /** `nulls` is the column's exact null count in the file (from the
    * footer's per-row-group numNulls, present only when EVERY row
    * group reports it) — what makes ORDER-BY-LIMIT file skipping
    * SOUND: min/max ignore nulls, and NULLS FIRST/LAST placement can't
    * be reasoned about without knowing how many there are. None (old
    * manifests, writers that omit numNulls) simply disables the
    * optimizations that need it. */
  final case class FileStats(col: String, min: Bound, max: Bound,
                             nulls: Option[Long] = None) {
    def overlaps(lo: Bound, hi: Bound): Boolean =
      Bound.cmp(max, lo).forall(_ >= 0) && Bound.cmp(min, hi).forall(_ <= 0)
    // string bounds ride base64'd (they may contain the ':' / tab
    // separators); numeric keeps the bare legacy form, so pre-string
    // manifests parse unchanged. Colon-BEARING column names round-trip
    // (the parser reconstructs them positionally, ManifestParseSpec),
    // but a name whose LAST colon-component equals a reserved marker
    // ("bf"/"s64") would shift a NUMERIC segment's dispatch into the
    // wrong branch at parse time ("x:bf:10:99" reads as a bloom) and
    // brick every subsequent latestSnapshot — rejected at ENCODE time
    // so an unparseable line can never be committed. Tabs/newlines are
    // the line/segment separators themselves — always rejected.
    private def requireEncodableCol(): Unit = {
      require(!col.contains('\t') && !col.contains('\n'),
        s"stats column name '$col' contains a manifest separator — " +
          "rename or alias it before tracking")
      val lastSeg = col.substring(col.lastIndexOf(':') + 1)
      require(lastSeg != "bf" && lastSeg != "s64" && lastSeg != "nn",
        s"stats column name '$col' ends in a reserved manifest marker " +
          "component (':bf' / ':s64' / ':nn') — rename or alias it before tracking")
    }
    def encoded: String = { requireEncodableCol(); (min, max) match {
      case (Bound.Str(mn), Bound.Str(mx)) =>
        def b64(v: String) = java.util.Base64.getEncoder.encodeToString(
          v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        s"$col:s64:${b64(mn)}:${b64(mx)}"
      case (Bound.Num(mn), Bound.Num(mx)) => s"$col:$mn:$mx"
      case other => throw new IllegalStateException(s"mixed-kind stats: $other")
    } }
    /** The null count rides as its own `col:nn:<n>` segment so pre-nn
      * parsers (and manifests) stay byte-compatible. */
    def encodedNulls: Option[String] =
      { requireEncodableCol(); nulls.map(n => s"$col:nn:$n") }
  }

  /** Per-file byte length + modification time (epoch millis), recorded
    * ONCE at commit time (the Delta/Iceberg `add.size` design) so scan
    * planning never touches the filesystem: `manifestScan`, the DSv2
    * split planner and the CDF legs build their `FileStatus` /
    * `PartitionedFile` entries straight from the manifest. Committed
    * data files are immutable (the engine only ever CREATES and
    * hard-links them), so the recorded values hold for the file's whole
    * life. Encoded as a `sz:<bytes>:m<mtime>` line segment — the `m`
    * prefix keeps the shape disjoint from a numeric stats segment of a
    * column named "sz" (whose max is a bare decimal) the same way the
    * dv segment's `_dv/` path prefix disambiguates it. Absent on
    * pre-size manifests, where planning falls back to the statted read
    * (counted by [[planStatCalls]]). */
  final case class FileSize(bytes: Long, mtime: Long) {
    def encoded: String = s"sz:$bytes:m$mtime"
  }

  /** Census of plan-time filesystem metadata calls the manifest could
    * not answer (pre-size manifests / staged-not-yet-committed files).
    * Probe-facing: a lake read planned purely from the manifest leaves
    * this untouched. */
  val planStatCalls = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Per-file Bloom filter over one column — the POINT-LOOKUP half of
    * data skipping (Delta's bloom filter index). Min/max stats prune
    * RANGES; on a high-cardinality key whose values interleave across
    * files (multi-source appends, no clustering) every file's range
    * covers every probe and min/max prunes nothing — the bloom answers
    * "does this file possibly CONTAIN v" from the manifest line alone,
    * so a needle lookup in a 100 TB lake opens ~1 file instead of all
    * of them. Sized at [[BloomBitsPerKey]] bits/row (rounded up to a
    * power-of-two word count, k=[[BloomK]] probes ⇒ ~1 % false
    * positives — a fp only costs one wasted file open, never a wrong
    * row). Bits ride the manifest line base64'd; an all-zero bloom
    * (empty file) correctly answers "contains nothing". Membership
    * uses Kirsch–Mitzenmacher double hashing over [[BloomHash]]'s
    * canonical value hash — one scalar implementation shared by the
    * distributed build pass and the driver-side probe, so the two can
    * never disagree. */
  final case class FileBloom(col: String, k: Int, bits: Array[Long]) {
    def mBits: Int = bits.length * 64
    def mightContain(v: Any): Boolean = {
      // a zero-WORD filter only arises from a corrupt/truncated
      // manifest payload (an empty FILE still gets ≥1 all-zero word);
      // degrade to "might contain" (keep the file) instead of letting
      // remainderUnsigned-by-zero throw on every probe
      if (bits.isEmpty) return true
      val (h1, h2) = BloomHash.pair(v)
      var i = 0
      while (i < k) {
        val pos = java.lang.Long.remainderUnsigned(h1 + i.toLong * h2, mBits.toLong).toInt
        if ((bits(pos >>> 6) & (1L << (pos & 63))) == 0L) return false
        i += 1
      }
      true
    }
    def encoded: String = {
      // bloom segments carry their "bf" marker at a fixed offset from
      // the END (k + payload follow it), so colon-bearing names parse
      // correctly; only the line/segment separators themselves are
      // unencodable
      require(!col.contains('\t') && !col.contains('\n'),
        s"bloom column name '$col' contains a manifest separator — " +
          "rename or alias it before tracking")
      val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
      bits.foreach(bb.putLong)
      s"$col:bf:$k:${java.util.Base64.getEncoder.encodeToString(bb.array())}"
    }
  }

  private[core] val BloomBitsPerKey = 10L
  private[core] val BloomK = 7

  /** Canonical deterministic value hashing for [[FileBloom]] — public
    * algorithms only (FNV-1a 64 over UTF-8 bytes for strings,
    * splitmix64 finalization): integer kinds hash through their Long
    * value so a probe with `42L` finds rows written as int32, and the
    * same scalar code runs in the executor-side build and the
    * driver-side probe. */
  private[core] object BloomHash {
    def splitmix64(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    private def fnv1a64(bytes: Array[Byte]): Long = {
      var h = 0xCBF29CE484222325L
      var i = 0
      while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001B3L; i += 1 }
      h
    }
    def canonical(v: Any): Long = v match {
      case l: Long    => splitmix64(l)
      case i: Int     => splitmix64(i.toLong)
      case s: Short   => splitmix64(s.toLong)
      case b: Byte    => splitmix64(b.toLong)
      case s: String  => splitmix64(fnv1a64(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      case other => splitmix64(fnv1a64(
        other.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    }
    /** The two independent 64-bit streams double hashing derives all k
      * probe positions from. */
    def pair(v: Any): (Long, Long) = {
      val h = canonical(v)
      (splitmix64(h ^ 0xA24BAED4963EE407L), splitmix64(h ^ 0x9FB21C651E98DF25L) | 1L)
    }
  }

  /** Per-partition compaction outcome (same contract as
    * [[Layout.CompactStat]]): `filesBefore == filesAfter` means the
    * partition was already at target and was NOT rewritten. */
  final case class CompactStat(partition: String, rows: Long,
                               filesBefore: Long, filesAfter: Long)

  private def manifestPath(root: Path, v: Long): Path =
    root.resolve(ManifestDir).resolve(f"v$v%012d")

  /** Highest committed snapshot, or None for a virgin directory. */
  def latestSnapshot(dir: String): Option[Snapshot] =
    versions(dir).maxOption.map(v => parseManifest(Paths.get(dir), v))

  /** Every committed manifest version still on disk, ascending (vacuum
    * retires old ones, so the vector may not start at 1). One
    * directory listing of `_manifests/` — O(retained versions),
    * independent of data size. */
  def versions(dir: String): Vector[Long] = {
    val mdir = Paths.get(dir).resolve(ManifestDir)
    if (!Files.isDirectory(mdir)) Vector.empty
    else {
      val st = Files.list(mdir)
      try st.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
        .map(_.drop(1).toLong).toVector.sorted
      finally st.close()
    }
  }

  /** `TIMESTAMP AS OF` resolution: the highest-versioned retained
    * snapshot whose commit wall time (`#ts` header) is ≤ `tsMillis`.
    * Resolution scans the retained manifests — O(retained versions)
    * driver-side parses, independent of data size; version, not time,
    * remains the primary addressing scheme (time is a convenience
    * layered on it, exactly Delta's model). Snapshots without a `#ts`
    * header (pre-ts manifests) can't be time-addressed and are
    * skipped; clock skew between racing writers is tolerated by
    * picking the max VERSION among qualifying commits, so time travel
    * never orders history differently than the manifest log does.
    * None = every retained timestamped commit is later than
    * `tsMillis`. */
  def snapshotAsOfTimestamp(dir: String, tsMillis: Long): Option[Snapshot] = {
    // resolution reads ONLY the header lines of each manifest (they
    // lead the file), newest first, and stops at the first qualifying
    // version — never the file lines, whose count is data-proportional.
    // Commit wall times are monotone in the common case, so the scan
    // usually touches one or two headers; clock skew merely makes it
    // read further back, never resolve differently (max VERSION among
    // qualifying == first qualifying in descending version order,
    // because any earlier version is by definition a lower version).
    versions(dir).reverseIterator
      .find(v => commitTs(Paths.get(dir), v).exists(_ <= tsMillis))
      .flatMap(v => snapshotAt(dir, v))
  }

  /** [[snapshotAsOfTimestamp]]'s window-START complement (Delta's
    * `startingTimestamp` rule): the LOWEST retained version whose
    * commit wall time is ≥ `tsMillis` — the first commit a
    * timestamp-addressed CDC/CDF window must include. Header-only
    * reads, ascending, stops at the first qualifying version (same
    * skew argument as the AS-OF scan, mirrored). None = every
    * retained timestamped commit is earlier. */
  private[core] def firstVersionAtOrAfter(dir: String, tsMillis: Long): Option[Long] =
    versions(dir).sorted
      .find(v => commitTs(Paths.get(dir), v).exists(_ >= tsMillis))

  /** The `#ts` header of one manifest, reading header lines only —
    * O(headers), not O(files). None = pre-ts manifest, malformed
    * value, or a manifest vacuumed between listing and read. */
  private def commitTs(root: Path, v: Long): Option[Long] = {
    val p = manifestPath(root, v)
    if (!Files.exists(p)) return None
    val lines = Files.lines(p)
    try lines.iterator().asScala
      .takeWhile(l => l.isEmpty || l.startsWith("#"))
      .collectFirst { case l if l.startsWith("#ts:") =>
        l.stripPrefix("#ts:").toLongOption
      }.flatten
    finally lines.close()
  }

  /** The `#op:` header of one manifest, reading header lines only —
    * what a stream's change-commit guard dispatches on without parsing
    * file lines. None = missing manifest or pre-header legacy (which
    * could only be an append). */
  private[core] def opOf(root: Path, v: Long): Option[String] = {
    val p = manifestPath(root, v)
    if (!Files.exists(p)) return None
    val lines = Files.lines(p)
    try lines.iterator().asScala
      .takeWhile(l => l.isEmpty || l.startsWith("#"))
      .collectFirst { case l if l.startsWith("#op:") => l.stripPrefix("#op:") }
    finally lines.close()
  }

  /** A specific committed version, if its manifest still exists (vacuum
    * retires manifests past the grace window). */
  def snapshotAt(dir: String, version: Long): Option[Snapshot] = {
    val root = Paths.get(dir)
    if (Files.exists(manifestPath(root, version)))
      Some(parseManifest(root, version))
    else None
  }

  /** The `#base:` header of one manifest (delta commits only), reading
    * header lines only — the pointer a delta resolves against. */
  private def baseVersion(headers: Vector[String]): Option[Long] =
    headers.collectFirst {
      case h if h.startsWith("#base:") => h.stripPrefix("#base:").toLongOption
    }.flatten

  private[core] def baseVersionOf(root: Path, v: Long): Option[Long] = {
    val p = manifestPath(root, v)
    if (!Files.exists(p)) return None
    val lines = Files.lines(p)
    try baseVersion(lines.iterator().asScala
      .takeWhile(l => l.isEmpty || l.startsWith("#")).toVector)
    finally lines.close()
  }

  /** Parsed-manifest cache. A committed manifest file is IMMUTABLE —
    * the hard-link CAS only ever CREATES `vN`, vacuum only ever
    * deletes it — so a parse is reusable for the file's whole life.
    * Every version-walking surface re-parses the same manifests
    * (`$history`/`$files` census per version, CDF window resolution,
    * time-travel lookups, the commit loop's latest-read per attempt),
    * and each parse of a delta manifest re-reads its whole `#base:`
    * chain — without a cache a 30-version census costs O(30 × chain)
    * file reads, at object-storage latency the dominant term. Entries
    * validate (size, mtime) on hit, so even a hand-rewritten manifest
    * (hostile-manifest tests) re-parses; bounded LRU keeps the
    * worst-case footprint at [[ManifestCacheMax]] snapshots. */
  private val ManifestCacheMax = 64
  private final case class CachedManifest(
      size: Long, mtime: java.nio.file.attribute.FileTime, snap: Snapshot)
  private val manifestCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, CachedManifest](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, CachedManifest]): Boolean =
          size() > ManifestCacheMax
      })

  private def parseManifest(root: Path, v: Long): Snapshot = {
    val p = manifestPath(root, v)
    val key = p.toAbsolutePath.toString
    val attrs = Files.readAttributes(p,
      classOf[java.nio.file.attribute.BasicFileAttributes])
    val hit = manifestCache.get(key)
    if (hit != null && hit.size == attrs.size &&
        hit.mtime == attrs.lastModifiedTime) return hit.snap
    val parsed = parseManifestUncached(root, v)
    manifestCache.put(key, CachedManifest(attrs.size, attrs.lastModifiedTime, parsed))
    parsed
  }

  private def parseManifestUncached(root: Path, v: Long): Snapshot = {
    val lines = Files.readAllLines(manifestPath(root, v))
      .asScala.filter(_.nonEmpty).toVector
    // "#txn:<appId>:<batchId>" header lines carry writer high-waters and
    // "#op:<kind>" the commit's operation (append/batch/compact — what
    // CDC readers dispatch on); data paths never start with '#' (they
    // start "<col>=..."), so pre-header manifests parse unchanged. A
    // file line may carry one tab-separated "<col>:<min>:<max>" stats
    // suffix PER TRACKED COLUMN (tabs are illegal in our partition/
    // file names); lines without any are simply never pruned.
    val (headers, topBody) = lines.partition(_.startsWith("#"))
    // Delta commits carry "#base:<v>" and a body of "+<full line>" /
    // "-<path>" edits against that base. Resolution walks the chain
    // down to the nearest checkpoint (a manifest with no #base — at
    // most ManifestCheckpointEvery-1 hops) and replays the edits
    // forward. Headers (op/ts/txn/schema/props) are NEVER chained —
    // every commit writes its own in full, so only the TOP manifest's
    // headers are read. Data paths start "<col>=...", so the +/-
    // markers are unambiguous; a full snapshot's body replays
    // unchanged through the same loop (no edit markers ⇒ plain put).
    val fileLines: Vector[String] =
      if (baseVersion(headers).isEmpty) topBody
      else {
        var chain = List(topBody) // bodies, base-first after the walk
        var base = baseVersion(headers)
        while (base.isDefined) {
          val ls = Files.readAllLines(manifestPath(root, base.get))
            .asScala.filter(_.nonEmpty).toVector
          val (hs, body) = ls.partition(_.startsWith("#"))
          chain ::= body
          base = baseVersion(hs)
        }
        val resolved = new java.util.LinkedHashMap[String, String]()
        chain.foreach(_.foreach { l =>
          if (l.startsWith("-")) resolved.remove(l.drop(1))
          else {
            val line = if (l.startsWith("+")) l.drop(1) else l
            resolved.put(line.takeWhile(_ != '\t'), line)
          }
        })
        // full manifests list files path-sorted; resolution re-sorts so
        // a delta-resolved snapshot is indistinguishable from the full
        // snapshot the same state would have written
        resolved.values().iterator().asScala.toVector
          .sortBy(_.takeWhile(_ != '\t'))
      }
    val txns = headers.collect {
      case h if h.startsWith("#txn:") =>
        val rest = h.stripPrefix("#txn:")
        val i = rest.lastIndexOf(':')
        rest.take(i) -> rest.drop(i + 1).toLong
    }.toMap
    val op = headers.collectFirst {
      case h if h.startsWith("#op:") => h.stripPrefix("#op:")
    }.getOrElse("append")
    val schema = headers.collectFirst {
      case h if h.startsWith("#schema:") =>
        org.apache.spark.sql.types.DataType.fromJson(h.stripPrefix("#schema:"))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
    }
    // "#ts:<epochMillis>" = the commit's wall time (TIMESTAMP AS OF
    // resolution); absent in pre-ts manifests, which then simply can't
    // be addressed by time. A malformed value degrades to absent
    // rather than bricking the snapshot (the hostile-manifest rule).
    val ts = headers.collectFirst {
      case h if h.startsWith("#ts:") => h.stripPrefix("#ts:").toLongOption
    }.flatten
    // "#prop:<key>=<value>" = declared layout (CREATE TABLE DDL),
    // carried forward by every commit like txn high-waters. Keys are
    // '='-free by construction; a malformed line degrades to absent.
    val props = headers.collect {
      case h if h.startsWith("#prop:") =>
        val kv = h.stripPrefix("#prop:")
        val i = kv.indexOf('=')
        if (i <= 0) None else Some(kv.take(i) -> kv.drop(i + 1))
    }.flatten.toMap
    // "#cdf:<relpath>[\tsz:<bytes>:m<mtime>]" = THIS commit's change
    // sidecars (per-commit, like #op — never chained or carried
    // forward), optionally with the sidecar's size so CDF reads plan
    // without statting (paths can't contain tabs, so the split is
    // unambiguous; pre-size headers are just the path). Only entries
    // under _cdf/ are honored (the hostile-manifest rule: a stray
    // header can never make the change feed open an arbitrary path).
    val cdfParsed: Vector[(String, Option[FileSize])] = headers.collect {
      case h if h.startsWith("#cdf:" + CdfDir + "/") =>
        val body = h.stripPrefix("#cdf:")
        val i = body.indexOf('\t')
        if (i < 0) (body, None)
        else {
          val sz = body.drop(i + 1).split(':')
          val parsedSz =
            if (sz.length == 3 && sz(0) == "sz" &&
                sz(1).nonEmpty && sz(1).forall(_.isDigit) &&
                sz(2).length > 1 && sz(2).head == 'm' &&
                sz(2).tail.forall(_.isDigit))
              Some(FileSize(sz(1).toLong, sz(2).tail.toLong))
            else None
          (body.take(i), parsedSz)
        }
    }
    val cdf = cdfParsed.map(_._1)
    val parsed = fileLines.map { l =>
      val segs = l.split('\t')
      val sts = Vector.newBuilder[FileStats]
      val bfs = Vector.newBuilder[FileBloom]
      var nRows: Option[Long] = None
      var nBucket: Option[Int] = None
      var dv: Option[DvStore.Dv] = None
      var fsz: Option[FileSize] = None
      val nullsByCol = scala.collection.mutable.HashMap.empty[String, Long]
      segs.drop(1).foreach { seg =>
        val parts = seg.split(':')
        // "rows:<n>" / "bucket:<id>" (exactly 2 parts) are unambiguous:
        // stats segments always carry ≥3 parts (col:min:max), blooms
        // ≥4 — no column name can encode to a 2-part segment
        if (parts.length == 2 && parts(0) == "rows" &&
            parts(1).nonEmpty && parts(1).forall(_.isDigit)) {
          nRows = Some(parts(1).toLong)
        } else if (parts.length == 2 && parts(0) == "bucket") {
          // any 2-part bucket segment is claimed here (a stats segment
          // needs ≥3 parts, so nothing else can own it); a malformed
          // id degrades to absent rather than bricking the snapshot
          nBucket = if (parts(1).nonEmpty && parts(1).forall(_.isDigit))
            parts(1).toIntOption else None
        } else if (parts.length == 3 && parts(0) == "dv" &&
            parts(2).startsWith(DvStore.DvDir + "/") &&
            parts(1).nonEmpty && parts(1).forall(_.isDigit)) {
          // "dv:<count>:<sidecar>" = the file's deletion vector. The
          // sidecar path always starts "_dv/" — a numeric stats segment
          // for a column named "dv" ("dv:<min>:<max>") can never match
          // (its max is a decimal), so the shapes stay disjoint
          dv = Some(DvStore.Dv(parts(2), parts(1).toLong))
        } else if (parts.length == 3 && parts(0) == "sz" &&
            parts(1).nonEmpty && parts(1).forall(_.isDigit) &&
            parts(2).length > 1 && parts(2).head == 'm' &&
            parts(2).tail.forall(_.isDigit)) {
          // "sz:<bytes>:m<mtime>" = the file's length + mtime (see
          // [[FileSize]]). The 'm' prefix makes the shape disjoint from
          // a numeric stats segment of a column named "sz" (whose max
          // is a bare decimal, never 'm'-prefixed)
          fsz = Some(FileSize(parts(1).toLong, parts(2).tail.toLong))
        } else if (parts.length >= 4 && parts(parts.length - 3) == "bf") {
          val bytes = java.util.Base64.getDecoder.decode(parts.last)
          val bb = java.nio.ByteBuffer.wrap(bytes)
          val bits = Array.fill(bytes.length / 8)(bb.getLong)
          bfs += FileBloom(parts.dropRight(3).mkString(":"),
            parts(parts.length - 2).toInt, bits)
        } else if (parts.length >= 4 && parts(parts.length - 3) == "s64") {
          def dec(x: String) = new String(java.util.Base64.getDecoder.decode(x),
            java.nio.charset.StandardCharsets.UTF_8)
          sts += FileStats(parts.dropRight(3).mkString(":"),
            Bound.Str(dec(parts(parts.length - 2))), Bound.Str(dec(parts.last)))
        } else if (parts.length >= 3 && parts(parts.length - 2) == "nn" &&
            parts.last.nonEmpty && parts.last.forall(_.isDigit)) {
          // "col:nn:<count>" = the column's null count (checked AFTER
          // bf/s64, whose markers sit one position left — a genuine
          // bloom/string segment can never reach this branch; a
          // numeric stats segment can't either, its min is a decimal)
          nullsByCol(parts.dropRight(2).mkString(":")) = parts.last.toLong
        } else
          sts += FileStats(parts.dropRight(2).mkString(":"),
            Bound.Num(BigDecimal(parts(parts.length - 2))),
            Bound.Num(BigDecimal(parts.last)))
      }
      val stsWithNulls = sts.result().map(st =>
        nullsByCol.get(st.col).fold(st)(n => st.copy(nulls = Some(n))))
      (segs.head, stsWithNulls, bfs.result(), nRows, nBucket, dv, fsz)
    }
    Snapshot(v, parsed.map(_._1),
      txns, parsed.collect { case (p, sts, _, _, _, _, _) if sts.nonEmpty => p -> sts }.toMap,
      op, schema,
      parsed.collect { case (p, _, bfs, _, _, _, _) if bfs.nonEmpty => p -> bfs }.toMap,
      ts,
      parsed.collect { case (p, _, _, Some(n), _, _, _) => p -> n }.toMap,
      props,
      parsed.collect { case (p, _, _, _, Some(b), _, _) => p -> b }.toMap,
      parsed.collect { case (p, _, _, _, _, Some(d), _) => p -> d }.toMap,
      cdf,
      parsed.collect { case (p, _, _, _, _, _, Some(z)) => p -> z }.toMap ++
        cdfParsed.collect { case (p, Some(z)) => p -> z })
  }

  /** One manifest file line: path + its rows/bucket/dv/stats/bloom
    * segments. Change detection in [[tryCommit]] compares per-file
    * STATE maps (rows/buckets/dvs/stats/blooms — cheap pointer-or-value
    * equalities), NOT re-encoded lines, so byte-identical re-encoding
    * is not load-bearing: a commit path that rebuilds semantically
    * identical metadata merely re-states the file in the delta (larger,
    * still correct). The one caveat is FileBloom's `Array[Long]`, which
    * compares by REFERENCE inside case-class equality — rebuilt-but-
    * equal blooms count as changed (noted at the tryCommit call site). */
  private def encodeFileLine(f: String,
                             rows: Map[String, Long],
                             buckets: Map[String, Int],
                             dvs: Map[String, DvStore.Dv],
                             stats: Map[String, Vector[FileStats]],
                             blooms: Map[String, Vector[FileBloom]],
                             sizes: Map[String, FileSize]): String = {
    val segs = rows.get(f).toVector.map(n => s"rows:$n") ++
      sizes.get(f).toVector.map(_.encoded) ++
      buckets.get(f).toVector.map(b => s"bucket:$b") ++
      dvs.get(f).toVector.map(d => s"dv:${d.count}:${d.path}") ++
      stats.get(f).toVector.flatten.map(_.encoded) ++
      stats.get(f).toVector.flatten.flatMap(_.encodedNulls) ++
      blooms.get(f).toVector.flatten.map(_.encoded)
    if (segs.isEmpty) f else (f +: segs).mkString("\t")
  }

  /** CAS-commit `files` as version `asVersion`; false = lost the race
    * (a manifest with that version already exists). When `parent` is
    * the immediately preceding version, still on disk, and `asVersion`
    * is not a checkpoint multiple, the manifest is written as a DELTA
    * (`#base:` + `+`/`-` edits) iff that is strictly smaller than the
    * full snapshot — so commit I/O is O(changed files), not O(live
    * files): at a million-file lake an append of 50 files writes ~50
    * lines, not a million, and per-file bloom payloads (the heaviest
    * segments) are re-written only for files that actually changed. */
  private def tryCommit(root: Path, asVersion: Long, files: Vector[String],
                        txns: Map[String, Long],
                        stats: Map[String, Vector[FileStats]], op: String,
                        schema: Option[org.apache.spark.sql.types.StructType],
                        blooms: Map[String, Vector[FileBloom]],
                        tsMillis: Long,
                        rows: Map[String, Long],
                        props: Map[String, String],
                        buckets: Map[String, Int],
                        dvs: Map[String, DvStore.Dv],
                        parent: Option[Snapshot],
                        cdfFiles: Vector[String],
                        sizes: Map[String, FileSize]): Boolean = {
    val mdir = root.resolve(ManifestDir)
    Files.createDirectories(mdir)
    val tmp = mdir.resolve(s".tmp_${UUID.randomUUID()}")
    val delta: Option[Vector[String]] = parent match {
      case Some(p) if asVersion % ManifestCheckpointEvery != 0L &&
          asVersion == p.version + 1 &&
          Files.exists(manifestPath(root, p.version)) =>
        // change detection compares per-file STATE, not re-encoded
        // lines: unchanged files inherit their metadata objects through
        // commitLoop (latest.stats ++ staged...), so these are cheap
        // pointer-or-value equalities — commit CPU is O(live) pointer
        // checks + O(changed) encoding, never O(live) string building.
        // (A commit path that REBUILDS identical metadata instead of
        // inheriting merely re-states the file in the delta — larger,
        // still correct. BigDecimal bounds compare by VALUE, so "5" vs
        // "5.0" counts as unchanged and resolution keeps the parent's
        // line — semantically identical.)
        val fileSet = files.toSet
        val parentSet = p.files.toSet
        def unchanged(f: String): Boolean =
          rows.get(f) == p.rows.get(f) &&
            buckets.get(f) == p.buckets.get(f) &&
            dvs.get(f) == p.dvs.get(f) &&
            stats.get(f) == p.stats.get(f) &&
            blooms.get(f) == p.blooms.get(f) &&
            sizes.get(f) == p.sizes.get(f)
        val removed = p.files.filterNot(fileSet).sorted.map("-" + _)
        val addedOrChanged = files.sorted.collect {
          case f if !parentSet.contains(f) || !unchanged(f) =>
            "+" + encodeFileLine(f, rows, buckets, dvs, stats, blooms, sizes)
        }
        val body = removed ++ addedOrChanged
        if (body.length < files.length) Some(body) else None
      case _ => None
    }
    val headers = (Vector(s"#op:$op", s"#ts:$tsMillis") ++
      delta.flatMap(_ => parent.map(p => s"#base:${p.version}")).toVector ++
      schema.map(sc => s"#schema:${sc.json}").toVector) ++
      txns.toVector.sorted.map { case (app, b) => s"#txn:$app:$b" } ++
      props.toVector.sorted.map { case (k, v) => s"#prop:$k=$v" } ++
      cdfFiles.sorted.map(f =>
        s"#cdf:$f" + sizes.get(f).fold("")(z => "\t" + z.encoded))
    val fileLines = delta.getOrElse(files.sorted.map(f =>
      encodeFileLine(f, rows, buckets, dvs, stats, blooms, sizes)))
    Files.write(tmp, (headers ++ fileLines).asJava)
    try {
      try { Files.createLink(manifestPath(root, asVersion), tmp); true }
      catch { case _: FileAlreadyExistsException => false }
    } finally Files.deleteIfExists(tmp)
  }

  /** A commit's desired outcome: the full file list, writer
    * high-waters, and per-file stats (pruned to `files`' keys at
    * write). */
  private final case class Ledger(files: Vector[String],
                                  txns: Map[String, Long],
                                  stats: Map[String, Vector[FileStats]],
                                  op: String,
                                  schema: Option[org.apache.spark.sql.types.StructType],
                                  blooms: Map[String, Vector[FileBloom]] = Map.empty,
                                  rows: Map[String, Long] = Map.empty,
                                  props: Option[Map[String, String]] = None,
                                  buckets: Map[String, Int] = Map.empty,
                                  dvs: Option[Map[String, DvStore.Dv]] = None,
                                  cdf: Vector[String] = Vector.empty)

  private val commitHooks =
    new java.util.concurrent.ConcurrentHashMap[String, () => Unit]()

  private def hookKey(root: Path): String = root.toAbsolutePath.normalize.toString

  /** Test seam, the one pre-commit window every write shares: while
    * `body` runs, the next [[commitLoop]] on lake `dir` (spelled any
    * way that normalizes to the same absolute path, from any thread)
    * runs `hook` once on entry — after the operation has staged its
    * files, sidecars, stats and blooms, before the first read of the
    * latest snapshot its CAS rebases on. A concurrent commit made
    * inside `hook` lands in exactly the window a racing writer can
    * hit; it passes straight through, since the hook is removed
    * before it runs. A throwing hook is a crash before the CAS. The
    * scope clears an unfired hook on exit. */
  private[core] def onNextCommit[T](dir: String)(hook: => Unit)(body: => T): T = {
    val key = hookKey(Paths.get(dir))
    val fire: () => Unit = () => hook
    commitHooks.put(key, fire)
    try body finally { commitHooks.remove(key, fire); () }
  }

  /** Rebase-and-retry commit loop: `intent` maps the latest committed
    * snapshot to the desired file list (or None to abandon — e.g. a
    * compaction whose inputs another compactor already replaced). */
  private def commitLoop(root: Path)(
      intent: Option[Snapshot] => Option[Ledger]): Option[Snapshot] = {
    Option(commitHooks.remove(hookKey(root))).foreach(_())
    var attempt = 0
    // commit-time size capture memo — a CAS retry re-runs the intent
    // but never re-stats a file this loop already measured
    val statMemo = scala.collection.mutable.HashMap.empty[String, Option[FileSize]]
    while (attempt < MaxCommitRetries) {
      val latest = latestSnapshot(root.toString)
      intent(latest) match {
        case None => return latest
        case Some(Ledger(files, txns, stats, op, schema, blooms, rows, propsOpt,
            newBuckets, dvsOpt, cdf)) =>
          val fileSet = files.toSet
          val live = stats.view.filterKeys(fileSet).toMap
          val liveBlooms = blooms.view.filterKeys(fileSet).toMap
          val liveRows = rows.view.filterKeys(fileSet).toMap
          // per-file size/mtime: INHERITED for surviving paths (data
          // files are immutable once committed), measured ONCE here for
          // paths new to the manifest — the single central point every
          // commit path flows through, so lake reads plan with zero
          // filesystem calls ([[FileSize]]). Cost: one readAttributes
          // per NEW file per lifetime (Delta's add.size model). A file
          // missing at commit time (hostile/synthetic manifests) simply
          // records no size — reads fall back to the statted path.
          val inherited = latest.map(_.sizes).getOrElse(Map.empty)
          val toStat = (files ++ cdf).filterNot(f =>
            inherited.contains(f) || statMemo.contains(f))
          if (toStat.nonEmpty) parMapMeta(toStat) { f =>
            f -> (try {
              val a = Files.readAttributes(root.resolve(f),
                classOf[java.nio.file.attribute.BasicFileAttributes])
              Some(FileSize(a.size, a.lastModifiedTime.toMillis))
            } catch { case _: java.io.IOException => None })
          }.foreach { case (f, z) => statMemo.synchronized {
            statMemo.put(f, z) } }
          val liveSizes: Map[String, FileSize] =
            (files.iterator ++ cdf.iterator).flatMap { f =>
              inherited.get(f).orElse(statMemo.getOrElse(f, None)).map(f -> _)
            }.toMap
          // bucket ids are INHERITED for surviving paths (UUID file
          // names are never re-keyed) and added for new ones; a path
          // a commit rewrites without bucketing simply has no entry
          val liveBuckets = (latest.map(_.buckets).getOrElse(Map.empty) ++ newBuckets)
            .view.filterKeys(fileSet).toMap
          // deletion vectors are inherited for surviving paths by
          // default (an append can't invalidate another file's DV); a
          // commit that rewrote or restored content passes the exact
          // map instead — removed paths drop via the live-set filter
          // either way
          val liveDvs = dvsOpt.getOrElse(latest.map(_.dvs).getOrElse(Map.empty))
            .view.filterKeys(fileSet).toMap
          // declared layout (CREATE TABLE) is INHERITED by default —
          // carried forward here, in one place, so no commit path can
          // ever drop it; only `create` sets it explicitly
          val props = propsOpt.getOrElse(latest.map(_.props).getOrElse(Map.empty))
          val next = latest.map(_.version + 1).getOrElse(1L)
          val ts = System.currentTimeMillis()
          if (tryCommit(root, next, files, txns, live, op, schema, liveBlooms, ts,
              liveRows, props, liveBuckets, liveDvs, latest, cdf, liveSizes))
            return Some(Snapshot(next, files.sorted, txns, live, op, schema,
              liveBlooms, Some(ts), liveRows, props, liveBuckets, liveDvs, cdf,
              liveSizes))
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"manifest commit on $root lost the CAS race $MaxCommitRetries times")
  }

  /** Additive schema evolution, checked at commit (the Delta rule, and
    * the lake-side mirror of `Tables`' read contract): a new commit may
    * ADD columns and may OMIT existing ones (readers null-fill from the
    * committed schema), but a column that exists in both must keep its
    * exact DataType — a type flip silently corrupts every older file's
    * interpretation, so it fails the commit with the column named. The
    * committed schema is the union, existing fields first. */
  /** Structural type equality ignoring nullability at every level —
    * the comparison schema evolution and the nested-mapping boundary
    * use: nullability is a property of the DATA an expression
    * happened to produce (a rebuilt struct's fields are nullable even
    * when the committed ones weren't), not of the bytes' layout, so
    * it must never fail a commit the way a genuine type flip does. */
  private[core] def sameTypeIgnoreNullability(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean = (a, b) match {
    case (x: org.apache.spark.sql.types.StructType,
          y: org.apache.spark.sql.types.StructType) =>
      x.length == y.length && x.fields.zip(y.fields).forall {
        case (f, g) => f.name == g.name &&
          sameTypeIgnoreNullability(f.dataType, g.dataType) }
    case (x: org.apache.spark.sql.types.ArrayType,
          y: org.apache.spark.sql.types.ArrayType) =>
      sameTypeIgnoreNullability(x.elementType, y.elementType)
    case (x: org.apache.spark.sql.types.MapType,
          y: org.apache.spark.sql.types.MapType) =>
      sameTypeIgnoreNullability(x.keyType, y.keyType) &&
        sameTypeIgnoreNullability(x.valueType, y.valueType)
    case _ => a == b
  }

  private[core] def evolveSchema(committed: Option[org.apache.spark.sql.types.StructType],
                                 incoming: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    committed match {
      case None => incoming
      case Some(cur) =>
        val curByName = cur.fields.map(f => f.name -> f).toMap
        val drift = incoming.fields.flatMap { f =>
          curByName.get(f.name) match {
            case Some(c) if !sameTypeIgnoreNullability(c.dataType, f.dataType) =>
              Some(s"${f.name}: committed ${c.dataType.simpleString}, incoming ${f.dataType.simpleString}")
            case _ => None
          }
        }
        if (drift.nonEmpty) throw new IllegalStateException(
          s"schema evolution rejected (type flips): ${drift.mkString("; ")}")
        // NULLABILITY RELAXES, never tightens: once any committed file
        // may hold a NULL, the manifest schema must say nullable —
        // the DSv2 readers bind the committed flags into codegen
        // (UnsafeProjection skips the null check on nullable=false),
        // so a schema that understates nullability reads NULL slots as
        // garbage zeros, silently. Same deep-merge for struct leaves,
        // array elements and map values.
        import org.apache.spark.sql.types.{ArrayType, DataType, MapType}
        def relax(c: DataType, i: DataType): DataType = (c, i) match {
          case (cs: StructType, is: StructType) =>
            val iBy = is.fields.map(f => f.name -> f).toMap
            StructType(cs.fields.map { cf =>
              iBy.get(cf.name).fold(cf)(f => cf.copy(
                dataType = relax(cf.dataType, f.dataType),
                nullable = cf.nullable || f.nullable))
            })
          case (ca: ArrayType, ia: ArrayType) =>
            ArrayType(relax(ca.elementType, ia.elementType),
              ca.containsNull || ia.containsNull)
          case (cm: MapType, im: MapType) =>
            MapType(relax(cm.keyType, im.keyType),
              relax(cm.valueType, im.valueType),
              cm.valueContainsNull || im.valueContainsNull)
          case _ => c
        }
        val incomingByName = incoming.fields.map(f => f.name -> f).toMap
        val merged = cur.fields.map { cf =>
          incomingByName.get(cf.name).fold(cf)(f => cf.copy(
            dataType = relax(cf.dataType, f.dataType),
            nullable = cf.nullable || f.nullable))
        }
        // ADDED columns are nullable by construction: every file
        // committed BEFORE the add null-fills them on read
        val newFields = incoming.fields
          .filterNot(f => curByName.contains(f.name))
          .map(_.copy(nullable = true))
        StructType(merged ++ newFields)
    }
  }

  /** Stage `df` (partitioned by `partitionCol`) into the lake's
    * partition directories under UUID names and return the relative
    * paths — files exist on disk but are NOT yet in any manifest. */
  /** The synthetic stage-only directory column a bucketed write
    * partitions by (stripped before files land — bucket membership
    * lives in the MANIFEST, not the directory layout, so every
    * existing path/partition-parsing rule is untouched). */
  private val BucketDirCol = "__graft_bucket"

  /** Spark-equivalent bucket id: `pmod(hash(col), n)` — the write side
    * of the SPJ `bucket(n, col)` transform. Kept as the engine-wide
    * definition so the write path, the SQL function catalog's
    * evaluable form ([[GraftBucketFunction]]), and any repair job can
    * never disagree on row placement. */
  private[core] def bucketIdCol(col: String, n: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.hash(org.apache.spark.sql.functions.col(col)),
      org.apache.spark.sql.functions.lit(n))

  private def stageFiles(s: SparkSession, root: Path, df: DataFrame,
                         partitionCol: String, maxRecordsPerFile: Long,
                         writeOptions: Map[String, String],
                         bucket: Option[(String, Int)] = None)
      : (Vector[String], Map[String, Int]) = {
    requirePartitionColEncodable(partitionCol)
    val stage = root.resolve(s".stage_${UUID.randomUUID()}")
    val (toWrite, dirCols) = bucket match {
      case Some((bcol, n)) =>
        require(df.schema.fieldNames.contains(bcol),
          s"bucket column '$bcol' missing from staged frame " +
            s"(${df.schema.fieldNames.mkString(",")})")
        // in-task sort by (partition, bucket, key): each staged file
        // then holds ONE contiguous key run of its bucket, so tracked
        // key stats are tight and point lookups prune within the
        // bucket too — a free local sort, no shuffle
        (df.withColumn(BucketDirCol, bucketIdCol(bcol, n))
          .sortWithinPartitions(
            org.apache.spark.sql.functions.col(partitionCol),
            org.apache.spark.sql.functions.col(BucketDirCol),
            org.apache.spark.sql.functions.col(bcol)),
          Seq(partitionCol, BucketDirCol))
      case None => (df, Seq(partitionCol))
    }
    toWrite.write.partitionBy(dirCols: _*)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .options(writeOptions)
      .parquet(stage.toString)
    val moved = Vector.newBuilder[String]
    val bucketOf = Map.newBuilder[String, Int]
    def moveLeaves(pdir: Path, pname: String, b: Option[Int]): Unit = {
      val dest = root.resolve(pname)
      Files.createDirectories(dest)
      val fs = Files.list(pdir)
      try fs.iterator().asScala.foreach { f =>
        val fname = f.getFileName.toString
        if (fname.endsWith(".parquet")) {
          val unique = s"${UUID.randomUUID()}-$fname"
          Files.move(f, dest.resolve(unique))
          moved += s"$pname/$unique"
          b.foreach(id => bucketOf += s"$pname/$unique" -> id)
        } else if (Files.isDirectory(f) && fname.startsWith(s"$BucketDirCol=")) {
          // bucketed layout: one more stage-only dir level, stripped
          // here — the id rides the manifest instead
          moveLeaves(f, pname, fname.stripPrefix(s"$BucketDirCol=").toIntOption)
        }
      } finally fs.close()
    }
    val parts = Files.list(stage)
    try parts.iterator().asScala.filter(Files.isDirectory(_)).foreach { pdir =>
      moveLeaves(pdir, pdir.getFileName.toString, None)
    } finally parts.close()
    deleteTree(stage)
    (moved.result(), bucketOf.result())
  }

  /** Stage a CHANGE frame (lake columns + a stored [[CdfTypeCol]]) as
    * unpartitioned parquet sidecars under `_cdf/` (Delta's
    * `_change_data`): dot-prefixed staging, then collision-free UUID
    * moves — invisible to everything until the same CAS commit's
    * `#cdf:` headers name them. The partition column rides as a plain
    * DATA column (sidecars are commit-scoped change records, never
    * scanned by partition), and the change-type rides IN the file so
    * one commit's mixed pre/post/insert record is one write. */
  private def stageCdfFiles(s: SparkSession, root: Path,
                            changes: DataFrame): Vector[String] = {
    val stage = root.resolve(s".stage_${UUID.randomUUID()}")
    changes.write.parquet(stage.toString)
    val dest = root.resolve(CdfDir)
    Files.createDirectories(dest)
    val moved = Vector.newBuilder[String]
    val fs = Files.list(stage)
    try fs.iterator().asScala.foreach { f =>
      val n = f.getFileName.toString
      if (n.endsWith(".parquet")) {
        val unique = s"${UUID.randomUUID()}-$n"
        Files.move(f, dest.resolve(unique))
        moved += s"$CdfDir/$unique"
      }
    } finally fs.close()
    deleteTree(stage)
    moved.result()
  }

  /** The change record of a COPY-ON-WRITE rewrite reconstructed as an
    * exact MULTISET diff of removed-vs-added rows — the commit-time
    * half of CDF for the SQL DML paths (ReplaceData hands the engine
    * whole rewritten groups with no per-row change marker, so the diff
    * is the only exact record; the Scala DML paths know their matched
    * rows directly and never come here). Rows the rewrite carried
    * unchanged cancel in the diff; duplicates are handled by count.
    * Labels: an `update` commit's net-removed rows are its
    * `update_preimage`s and net-added its `update_postimage`s — exact,
    * because a COW UPDATE's added-minus-removed is precisely the
    * updated images (caveat, documented: an assignment that leaves a
    * row bit-identical cancels and emits nothing, where the MoR path
    * emits a no-op pre/post pair). `delete`/`merge` commits use
    * net-change labels `delete`/`insert` (Iceberg's changelog-scan
    * semantics): a SQL MERGE's file contents cannot attribute an added
    * row to its matched clause, so pairing updates would be a guess —
    * consumers needing exact three-way merge labels use the Scala
    * [[merge]], which records them directly. One affected-proportional
    * shuffle (group-by over the lake's columns); removed rows read
    * through the pre-commit snapshot's deletion vectors so rows a
    * prior DV delete removed never re-report. */
  private def cdfDiff(s: SparkSession, dir: String, snap: Snapshot,
                      removed: Set[String], added: Vector[String],
                      op: String): Vector[String] = {
    val schema = cdfComparableSchema(dir, snap, op)
    val names = schema.fieldNames.toIndexedSeq
    val rem = if (removed.isEmpty) emptyOf(s, schema)
              else lakeFiles(s, dir, snap, removed.toVector.sorted, Some(schema))
                .select(names.map(col): _*)
    val add = if (added.isEmpty) emptyOf(s, schema)
              else manifestScan(s, dir, added, Some(schema),
                restorePartitions = true, snap.sizes)
                .select(names.map(col): _*)
    val (preType, postType) = op match {
      case "update" => ("update_preimage", "update_postimage")
      case _        => ("delete", "insert")
    }
    stageCdfMultisetDiff(s, Paths.get(dir), names, rem, add, preType, postType)
  }

  /** The CDF multiset-diff guardrail, and its schema: the snapshot
    * must have a committed schema and no map-typed VISIBLE column
    * (maps are not comparable, so a removed-vs-added diff over them
    * is undefined). Coldrop-hidden columns are PROJECTED OUT of the
    * diff: COW rewrites build their files from the logical schema
    * (the dropped physical column is absent and null-fills on read),
    * so diffing over it would make every carried-unchanged row in a
    * rewritten file differ (value vs null) and emit a spurious
    * pre/post pair — and the hidden column is invisible to every
    * feed consumer anyway (toLogical drops it at read). Physical
    * names are kept for the visible fields (sidecars store physical
    * bytes like data files; renames apply at read). */
  private def cdfComparableSchema(dir: String, snap: Snapshot, op: String)
      : org.apache.spark.sql.types.StructType = {
    val committed = snap.schema.getOrElse(throw new IllegalStateException(
      s"lake $dir has $PropCdfEnabled but no committed schema — the " +
        "change-record diff needs one"))
    val schema = org.apache.spark.sql.types.StructType(
      committed.fields.filterNot(f => snap.droppedCols.contains(f.name))
        .map(f => f.copy(dataType = clipNestedDrops(snap, f.dataType,
          Seq(f.name)))))
    def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
      case st: org.apache.spark.sql.types.StructType => st.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    schema.fields.foreach { f =>
      if (hasMap(f.dataType))
        throw new IllegalStateException(
          s"$PropCdfEnabled cannot record a copy-on-write '$op' over map " +
            s"column '${f.name}' (maps are not comparable) — use the " +
            "merge-on-read DML, whose change record is positional")
    }
    schema
  }

  private def emptyOf(s: SparkSession,
                      schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)

  /** Stage `rem − add` as change sidecars: rows net-removed get
    * `preType`, net-added `postType`; rows carried unchanged cancel,
    * duplicates are handled by count. One affected-proportional
    * shuffle (group-by over the lake's columns). */
  private def stageCdfMultisetDiff(s: SparkSession, root: Path,
                                   names: IndexedSeq[String],
                                   rem0: DataFrame, add0: DataFrame,
                                   preType: String, postType: String)
      : Vector[String] = {
    val rem = rem0.withColumn("__graft_w", lit(1L))
    val add = add0.withColumn("__graft_w", lit(-1L))
    val changes = rem.unionByName(add)
      .groupBy(names.map(col): _*)
      .agg(sum(col("__graft_w")).as("__graft_n"))
      .filter(col("__graft_n") =!= 0L)
      .withColumn(CdfTypeCol,
        when(col("__graft_n") > 0, lit(preType)).otherwise(lit(postType)))
      .withColumn("__graft_rep",
        explode(array_repeat(lit(1), abs(col("__graft_n")).cast("int"))))
      .select((names :+ CdfTypeCol).map(col): _*)
    stageCdfFiles(s, root, changes)
  }

  /** The change record of a RESTORE on a CDF-enabled lake: the exact
    * multiset diff current-snapshot → target-snapshot (rows the
    * restore logically deletes get `delete`, rows it re-publishes
    * `insert` — Iceberg's changelog-scan labels, the same ones the COW
    * delete/merge sidecars use). Pruned to the files whose
    * (membership, DV-state) DIFFERS between the two snapshots — a file
    * both snapshots carry with the same DV contributes the same
    * multiset on both sides and never opens — and each side reads
    * through ITS OWN deletion vectors, so rows a prior DV delete
    * removed never re-report. Cost ∝ rows in mutated files, which for
    * a restore is the inherent minimum (its change record IS the
    * snapshot diff). */
  private def cdfRestoreDiff(s: SparkSession, dir: String,
                             cur: Snapshot, target: Snapshot)
      : Vector[String] = {
    val schema = cdfComparableSchema(dir, cur, "restore")
    val names = schema.fieldNames.toIndexedSeq
    val curSet = cur.files.toSet; val tgtSet = target.files.toSet
    val remFiles = cur.files.filter(f =>
      !tgtSet.contains(f) || target.dvs.get(f) != cur.dvs.get(f))
    val addFiles = target.files.filter(f =>
      !curSet.contains(f) || cur.dvs.get(f) != target.dvs.get(f))
    if (remFiles.isEmpty && addFiles.isEmpty) return Vector.empty
    val rem = if (remFiles.isEmpty) emptyOf(s, schema)
              else lakeFiles(s, dir, cur, remFiles, Some(schema))
                .select(names.map(col): _*)
    val add = if (addFiles.isEmpty) emptyOf(s, schema)
              else lakeFiles(s, dir, target, addFiles, Some(schema))
                .select(names.map(col): _*)
    stageCdfMultisetDiff(s, Paths.get(dir), names, rem, add,
      "delete", "insert")
  }

  /** `input_file_name()` → the lake-relative "<col>=<v>/<file>" key.
    * The URI form varies (file:/ vs file:///) AND percent-encodes any
    * byte the on-disk name carries from Hive's partition-value escaping
    * (spaces, '%', non-ASCII) — without decoding, such partitions never
    * reconcile with the staged names and every bloom build / delete on
    * them fails loudly. URI.getPath percent-decodes exactly once,
    * restoring the on-disk name; a string that doesn't parse as a URI
    * is already the plain path. The relative key is always the last
    * two path segments (the lake layout is fixed). */
  private[core] def relFromUri(abs: String): String = {
    val path =
      try Option(new java.net.URI(abs).getPath).getOrElse(abs)
      catch { case _: java.net.URISyntaxException => abs }
    path.split('/').filter(_.nonEmpty).takeRight(2).mkString("/")
  }

  /** Bounded-parallel map for driver-side per-file METADATA reads
    * (footer row counts / stats). These are independent ~KB-sized
    * reads; serially they cost #files × open-latency — measured as
    * the q129 scale-probe's dominant term at 10× files, and at object
    * -storage latency (tens of ms/open) a serial loop over a large
    * lake's footers would take minutes. 16 concurrent opens is
    * comfortably below any filesystem/S3 connection limit. */
  // 16 → 32 (r17): the footer pass is a pure-metadata driver pool —
  // local NVMe and object stores both serve 32 concurrent ~8 KB footer
  // reads comfortably, and every commit path (append/merge/compact)
  // waits on this pool before its CAS. Bounded; not data-path.
  private val MetaReadConcurrency = 32
  private def parMapMeta[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.length <= 1) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(MetaReadConcurrency, xs.length))
      try {
        import scala.concurrent.{Await, ExecutionContext, Future}
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        Await.result(Future.sequence(xs.map(x => Future(f(x)))),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    }

  /** The exact Spark schema a parquet file was written with, read
    * driver-side from the footer's
    * `org.apache.spark.sql.parquet.row.metadata` key (Spark's writer
    * always stamps it; this is the same key `spark.read.parquet`'s
    * inference prefers over type conversion). None for files written
    * outside Spark — callers fall back to the inferring read. */
  private def writtenSparkSchema(s: SparkSession, file: Path)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toString),
      s.sessionState.newHadoopConf()))
    try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .flatMap(j => scala.util.Try(
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption)
    finally reader.close()
  }

  /** Min/max of `col` for one data file PLUS its row count, from the
    * parquet FOOTER in a single open —
    * a metadata read (the row groups' pre-computed statistics), never
    * a data pass. Numeric AND string columns are tracked (strings via
    * the UTF8 logical type's unsigned-byte-ordered stats, capped at
    * [[MaxStringStatChars]]). Returns no stats for a column unless
    * EVERY row group contributes a usable bound — a partially-covered
    * bound would understate the file's range and wrongly prune it
    * (the file is then simply never pruned — safe). The row count is
    * always exact (Σ block record counts): it sizes blooms, feeds the
    * manifest's `rows:` segment, and lets `COUNT(*)` answer from the
    * manifest alone. */
  private def footerMeta(s: SparkSession, file: Path, cols: Seq[String])
      : (Vector[FileStats], Long) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toString),
      s.sessionState.newHadoopConf())
    val reader = ParquetFileReader.open(in)
    try {
      def toBound(v: Any, isString: Boolean): Option[Bound] = v match {
        case l: java.lang.Long    => Some(Bound.Num(BigDecimal(l.longValue)))
        case i: java.lang.Integer => Some(Bound.Num(BigDecimal(i.intValue)))
        case d: java.lang.Double  => Some(Bound.Num(BigDecimal(d.doubleValue)))
        case f: java.lang.Float   => Some(Bound.Num(BigDecimal(f.floatValue.toDouble)))
        case b: org.apache.parquet.io.api.Binary if isString =>
          val sv = b.toStringUsingUTF8
          if (sv.length <= MaxStringStatChars) Some(Bound.Str(sv)) else None
        case _ => None // non-UTF8 binary / bool: no tracked order
      }
      val blocks = reader.getFooter.getBlocks.asScala.toVector
      val sts = cols.toVector.flatMap { col =>
        val perBlock = blocks.map { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == col)
            .flatMap { c =>
              val isString = c.getPrimitiveType.getLogicalTypeAnnotation
                .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
              val st = c.getStatistics
              if (st == null || !st.hasNonNullValue) None
              else for (mn <- toBound(st.genericGetMin, isString);
                        mx <- toBound(st.genericGetMax, isString))
                yield (mn, mx,
                  // exact per-block null count, when the writer set it
                  if (st.isNumNullsSet) Some(st.getNumNulls) else None)
            }
        }
        if (perBlock.isEmpty || perBlock.exists(_.isEmpty)) None
        else {
          val bounds = perBlock.flatten
          // the file-level null count is only exact if EVERY row group
          // reports one — a partial sum would understate and make
          // ORDER-BY-LIMIT skipping unsound
          val nulls =
            if (bounds.forall(_._3.isDefined)) Some(bounds.flatMap(_._3).sum)
            else None
          Some(FileStats(col,
            bounds.map(_._1).reduceLeft(Bound.min),
            bounds.map(_._2).reduceLeft(Bound.max),
            nulls))
        }
      }
      (sts, blocks.map(_.getRowCount).sum)
    } finally reader.close()
  }

  /** One bounded-parallel footer pass over `files`: per-file stats of
    * `cols` (possibly empty) and per-file row counts — the single
    * metadata read every commit path derives its skipping index AND
    * `rows:` segments from. */
  private def footerMetaAll(s: SparkSession, root: Path, files: Seq[String],
                            cols: Seq[String])
      : (Map[String, Vector[FileStats]], Map[String, Long]) = {
    val metas = parMapMeta(files)(f => f -> footerMeta(s, root.resolve(f), cols))
    (metas.collect { case (f, (sts, _)) if sts.nonEmpty => f -> sts }.toMap,
      metas.map { case (f, (_, n)) => f -> n }.toMap)
  }

  /** One distributed pass building a per-file Bloom filter of `cols`
    * over exactly `files` (the NEW files of a commit — never the
    * lake): footer row counts size each filter (power-of-two word
    * count at [[BloomBitsPerKey]]), then a single narrow column scan
    * accumulates per-partition partial bit arrays that OR-merge on the
    * driver. Cost ∝ new-file bytes of the indexed columns; collected
    * partials are (#files × filter size), metadata-shaped. A file
    * contributing no rows keeps an all-zero filter — "contains
    * nothing" is the correct answer for it. */
  private def buildBlooms(s: SparkSession, dir: String, files: Vector[String],
                          cols: Seq[String],
                          knownRows: Map[String, Long] = Map.empty)
      : Map[String, Vector[FileBloom]] = {
    if (files.isEmpty || cols.isEmpty) return Map.empty
    val root = Paths.get(dir)
    // callers that already ran the commit's footer pass hand its counts
    // in — no second footer open per file
    val footerRows: Map[String, Long] =
      if (files.forall(knownRows.contains)) knownRows.view.filterKeys(files.toSet).toMap
      else parMapMeta(files)(f => f -> rowCount(s, root.resolve(f))).toMap
    val words: Map[String, Int] = footerRows.map { case (f, n) =>
      val wanted = math.max(64L, n * BloomBitsPerKey)
      var bits = 64L
      while (bits < wanted && bits < (1L << 30)) bits <<= 1
      f -> (bits / 64).toInt
    }
    val colsV = cols.toVector
    val k = BloomK
    // Staged-file scan WITHOUT a listing job (guide §6): every caller
    // hands files this engine just wrote, so their exact Spark schema
    // sits in the first footer and their statuses come from one
    // bounded writer-side stat pass — the same manifest-fed FileIndex
    // lake reads use. `spark.read.parquet(paths)` here meant a fresh
    // InMemoryFileIndex per bloom-indexed commit: a DISTRIBUTED
    // "Listing leaf files" job past 32 staged paths plus a footer-
    // inference job, per commit, for paths the commit already names.
    // The partition/bucket dir columns are not in the file data; a
    // bloom col outside the written schema (e.g. the partition column
    // itself) keeps the legacy basePath read that restores it, as do
    // non-Spark footers and layouts off the one-level `col=value` shape.
    def resolvable(sc: org.apache.spark.sql.types.StructType,
                   name: String): Boolean =
      sc.fieldNames.contains(name) || {
        var cur: org.apache.spark.sql.types.DataType = sc
        name.split('.').forall { p =>
          cur match {
            case st: org.apache.spark.sql.types.StructType =>
              st.find(_.name == p) match {
                case Some(f) => cur = f.dataType; true
                case None    => false
              }
            case _ => false
          }
        }
      }
    val oneLevel = files.forall { f =>
      val i = f.indexOf('/')
      i > 0 && f.indexOf('/', i + 1) < 0 && f.take(i).contains('=')
    }
    val raw: DataFrame = {
      import org.apache.spark.sql.graftbridge.GraftSqlBridge
      val planned =
        if (!oneLevel) None
        else writtenSparkSchema(s, root.resolve(files.head))
          .filter(sc => colsV.forall(resolvable(sc, _)))
          .map { sc =>
            val statuses = parMapMeta(files) { f =>
              val p = root.resolve(f)
              val attrs = Files.readAttributes(p,
                classOf[java.nio.file.attribute.BasicFileAttributes])
              GraftSqlBridge.LakeFile(p.toAbsolutePath.toString,
                attrs.size, attrs.lastModifiedTime.toMillis)
            }
            GraftSqlBridge.manifestParquetFrame(s, dir, None, sc,
              Seq(("", statuses)))
          }
      planned.getOrElse(
        s.read.option("basePath", dir).parquet(files.map(f => s"$dir/$f"): _*))
    }
    // a dotted name is a struct-leaf path UNLESS a top-level field
    // carries that exact name — same precedence as the stats keying
    def leafCol(name: String): org.apache.spark.sql.Column =
      if (raw.schema.fieldNames.contains(name)) col(s"`$name`") else col(name)
    val df = raw
      .select(input_file_name().as("_bloom_file") +: colsV.map(leafCol): _*)
    val bWords = s.sparkContext.broadcast(words)
    import s.implicits._
    // j == -1 rows carry the per-file ROW COUNT the scan actually saw —
    // reconciled against the footer counts below. The file key is
    // derived from input_file_name's URI form, which can diverge from
    // the staged name on exotic partition values (URL-encoding); an
    // unreconciled file would otherwise commit an all-zero bloom that
    // silently prunes every probe for rows that exist. Loud beats
    // silent: mismatch throws.
    val partials = df.mapPartitions { it =>
      def rel(abs: String): String = ManifestLake.relFromUri(abs)
      val acc = scala.collection.mutable.HashMap.empty[(String, Int), Array[Long]]
      val seen = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { r =>
        val f = rel(r.getString(0))
        seen(f) = seen.getOrElse(f, 0L) + 1L
        val w = bWords.value.getOrElse(f, 0)
        if (w > 0) {
          var j = 0
          while (j < colsV.length) {
            val v = r.get(1 + j)
            if (v != null) {
              val bits = acc.getOrElseUpdate((f, j), new Array[Long](w))
              val (h1, h2) = BloomHash.pair(v)
              val m = w.toLong * 64L
              var i = 0
              while (i < k) {
                val pos = java.lang.Long.remainderUnsigned(h1 + i.toLong * h2, m).toInt
                bits(pos >>> 6) |= 1L << (pos & 63)
                i += 1
              }
            }
            j += 1
          }
        }
      }
      acc.iterator.map { case ((f, j), bits) => (f, j, bits) } ++
        seen.iterator.map { case (f, n) => (f, -1, Array(n)) }
    }.collect()
    val merged = scala.collection.mutable.HashMap.empty[(String, Int), Array[Long]]
    val rowsSeen = scala.collection.mutable.HashMap.empty[String, Long]
    partials.foreach {
      case (f, -1, n) => rowsSeen(f) = rowsSeen.getOrElse(f, 0L) + n(0)
      case (f, j, bits) =>
        merged.get((f, j)) match {
          case Some(a) =>
            var i = 0
            while (i < a.length) { a(i) |= bits(i); i += 1 }
          case None => merged((f, j)) = bits.clone()
        }
    }
    val unreconciled = files.filter(f =>
      rowsSeen.getOrElse(f, 0L) != footerRows(f))
    if (unreconciled.nonEmpty)
      throw new IllegalStateException(
        s"bloom build could not reconcile scanned rows with footers for " +
          s"$unreconciled — input_file_name/staged-name mismatch (partition " +
          "value needing URL-escaping?); refusing to commit a silent " +
          "all-zero filter")
    files.map { f =>
      f -> colsV.indices.toVector.map { j =>
        FileBloom(colsV(j), k, merged.getOrElse((f, j), new Array[Long](words(f))))
      }
    }.toMap
  }

  /** Append `df` to the lake (creating it on first call): stage, then
    * CAS-commit snapshot+new. Appends never remove paths, so rebase
    * under contention is plain set-union — lossless by construction.
    * With `statsCol` set, each staged file's min/max of that column is
    * read from its footer and committed alongside the path, enabling
    * [[readWhere]] file skipping (O(#new files) driver-side footer
    * reads — metadata, not data). With `bloomCols` set, each staged
    * file additionally commits a [[FileBloom]] point-lookup filter of
    * those columns (one extra narrow scan of the NEW files only,
    * [[buildBlooms]]) enabling [[readPoint]] skipping on keys min/max
    * cannot prune. */
  /** DDL-first lake creation (`CREATE TABLE graft.`/dir`` (...)
    * PARTITIONED BY (col) TBLPROPERTIES('statsCols'='...', ...)`):
    * commits an EMPTY v1 manifest carrying the declared schema and
    * layout, so a SQL-only user can declare a lake — with its skipping
    * index — before any data exists. Every later commit inherits the
    * declaration (see commitLoop); appends that omit statsCols still
    * track the declared columns, and appends partitioned differently
    * refuse. Metadata-only: one manifest write, no data files.
    * Duplicate creation fails loudly — a CREATE that silently adopted
    * an existing lake's different schema would be worse than an error.
    * The writer path (`df.write.format("graft")`) remains the
    * data-first alternative; the two converge on identical manifests
    * after the first append. */
  /** Manifest file lines start "<partitionCol>=..." and delta bodies
    * use leading '-'/'+' as edit markers (headers use '#'): a partition
    * column whose NAME begins with one of those would make every
    * delta-resolved snapshot misparse its own file lines — rejected at
    * every write entry point, like [[FileStats.encoded]]'s reserved
    * markers. */
  private def requirePartitionColEncodable(partitionCol: String): Unit =
    require(!partitionCol.startsWith("-") && !partitionCol.startsWith("+") &&
      !partitionCol.startsWith("#"),
      s"partition column '$partitionCol' starts with a manifest marker " +
        "character ('-', '+', '#') — rename or alias it before writing")

  def create(dir: String, schema: org.apache.spark.sql.types.StructType,
             partitionCol: String,
             statsCols: Seq[String] = Nil,
             bloomCols: Seq[String] = Nil,
             bucketBy: Option[(String, Int)] = None,
             deleteMode: Option[String] = None,
             cdfEnabled: Option[String] = None,
             constraints: Map[String, String] = Map.empty): Snapshot = {
    requirePartitionColEncodable(partitionCol)
    // DDL-declared CHECK constraints: the lake is empty, so add-time
    // validation is trivially satisfied — the name/expression hygiene
    // rules apply (the same ones addConstraint enforces), PLUS every
    // referenced column must resolve against the DECLARED schema.
    // Without that, a typo'd column name is accepted and then never
    // enforces: the write guard null-fills attributes missing from
    // the incoming frame (additive-evolution contract) and NULL
    // passes SQL CHECK — the typo would be masked forever.
    val declared =
      schema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    constraints.foreach { case (n, e) =>
      require(n.nonEmpty && n.forall(c => c.isLetterOrDigit || c == '_'),
        s"constraint name must be [A-Za-z0-9_]+, got '$n'")
      require(!e.contains('\n') && !e.contains('\r'),
        s"constraint '$n' expression must be single-line")
      expr(e) // must parse
      val unknownRefs = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(e)
        .collect {
          case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            ua.nameParts.head
        }
        .distinct
        .filterNot(r => declared.contains(r.toLowerCase(java.util.Locale.ROOT)))
      require(unknownRefs.isEmpty,
        s"constraint '$n' CHECK ($e) references column(s) not in the " +
          s"declared schema: ${unknownRefs.mkString(", ")}")
    }
    deleteMode.foreach(m => require(DeleteModes.contains(m),
      s"$PropDeleteMode must be one of ${DeleteModes.mkString(", ")}, got '$m'"))
    cdfEnabled.foreach(v => require(v == "true" || v == "false",
      s"$PropCdfEnabled must be 'true' or 'false', got '$v'"))
    require(schema.fieldNames.contains(partitionCol),
      s"partitionCol '$partitionCol' is not a column of the declared schema")
    bucketBy.foreach { case (c, n) =>
      require(schema.fieldNames.contains(c),
        s"bucket column '$c' is not a column of the declared schema")
      require(n > 0, s"bucketN must be positive, got $n")
    }
    // statsCols AND bloomCols may be DOTTED paths through struct
    // columns (nested-leaf data skipping + point lookup: parquet
    // footers key per-leaf stats by exactly that path, and the bloom
    // build scans the leaf column directly — the shape every
    // from_json corpus needs for `meta.request_id = 'x'` probes)
    def resolvesToLeaf(name: String): Boolean = {
      def walk(dt: org.apache.spark.sql.types.DataType,
               segs: List[String]): Boolean = (dt, segs) match {
        case (_, Nil) => true
        case (st: org.apache.spark.sql.types.StructType, h :: t) =>
          st.fields.find(_.name == h).exists(f => walk(f.dataType, t))
        case _ => false
      }
      schema.fieldNames.contains(name) ||
        (name.contains('.') && walk(schema, name.split('.').toList))
    }
    val unknown = (statsCols ++ bloomCols).filterNot(resolvesToLeaf)
    require(unknown.isEmpty,
      s"declared stats/bloom columns not in the schema: ${unknown.mkString(", ")}")
    val root = Paths.get(dir)
    Files.createDirectories(root)
    if (latestSnapshot(dir).isDefined)
      throw new IllegalStateException(
        s"lake $dir already exists — CREATE TABLE refuses to adopt or " +
          "replace a committed lake (use INSERT / the writer to add data)")
    val props = Map(PropPartitionCol -> partitionCol) ++
      (if (statsCols.nonEmpty) Map(PropStatsCols -> statsCols.distinct.mkString(","))
       else Map.empty) ++
      (if (bloomCols.nonEmpty) Map(PropBloomCols -> bloomCols.distinct.mkString(","))
       else Map.empty) ++
      bucketBy.map { case (c, n) =>
        Map(PropBucketCol -> c, PropBucketN -> n.toString) }.getOrElse(Map.empty) ++
      deleteMode.map(m => Map(PropDeleteMode -> m)).getOrElse(Map.empty) ++
      cdfEnabled.map(v => Map(PropCdfEnabled -> v)).getOrElse(Map.empty) ++
      constraints.map { case (n, e) => (PropConstraintPrefix + n) -> e }
    commitLoop(root) {
      case Some(_) => throw new IllegalStateException(
        s"lake $dir was concurrently created — CREATE TABLE refuses to replace it")
      case None => Some(Ledger(Vector.empty, Map.empty, Map.empty, "create",
        Some(schema), props = Some(props)))
    }.get
  }

  /** `ALTER TABLE ... SET TBLPROPERTIES` — a metadata-only commit that
    * overlays `kvs` on the declared layout. Only MUTABLE properties
    * are accepted here (currently [[PropDeleteMode]]): the structural
    * ones (partitionCol, bucket layout) are contracts every committed
    * file already satisfies — flipping them would lie about the data,
    * so the catalog refuses them before this is ever called. */
  def setProperties(dir: String, kvs: Map[String, String]): Snapshot =
    alterSchema(dir, Seq(AlterSetProps(kvs)))

  /** One schema/property change of an ALTER TABLE statement — the
    * units [[alterSchema]] folds into a SINGLE commit so a multi-change
    * statement is all-or-nothing (a refusal mid-list must not leave
    * earlier changes committed). */
  sealed trait TableAlteration
  final case class AlterSetProps(kvs: Map[String, String]) extends TableAlteration
  final case class AlterRenameColumn(from: String, to: String) extends TableAlteration
  final case class AlterDropColumn(name: String) extends TableAlteration
  final case class AlterWidenColumn(name: String,
      to: org.apache.spark.sql.types.DataType) extends TableAlteration
  final case class AlterAddColumns(
      adds: Seq[org.apache.spark.sql.types.StructField]) extends TableAlteration
  /** NESTED field rename/drop — `path` is the user-facing (logical)
    * field path through struct columns, e.g. Seq("meta", "lang"). */
  final case class AlterRenameNested(path: Seq[String], to: String) extends TableAlteration
  final case class AlterDropNested(path: Seq[String]) extends TableAlteration
  /** NESTED ADD — append `field` to the struct at (logical)
    * `parentPath`; existing files null-fill the new leaf on read. */
  final case class AlterAddNested(parentPath: Seq[String],
      field: org.apache.spark.sql.types.StructField) extends TableAlteration
  /** NESTED type widening — widen the struct leaf at (logical) `path`
    * to a lossless supertype; readers upcast old files at scan time. */
  final case class AlterWidenNested(path: Seq[String],
      to: org.apache.spark.sql.types.DataType) extends TableAlteration

  // enforced HERE, not just at the catalog: a direct caller flipping
  // bucketN/partitionCol would lie about every committed file's
  // placement — wrong joins, not an error
  private def validateMutableProps(kvs: Map[String, String]): Unit = {
    val mutable = Set(PropDeleteMode, PropCdfEnabled,
      PropPublishCoord, PropPublishRetain)
    val illegal = kvs.keySet -- mutable
    require(illegal.isEmpty,
      s"only ${mutable.mkString(", ")} can be altered; " +
        s"structural properties are contracts over committed data: " +
        illegal.mkString(", "))
    kvs.get(PropDeleteMode).foreach(m => require(DeleteModes.contains(m),
      s"$PropDeleteMode must be one of ${DeleteModes.mkString(", ")}, got '$m'"))
    kvs.get(PropCdfEnabled).foreach(v => require(v == "true" || v == "false",
      s"$PropCdfEnabled must be 'true' or 'false', got '$v'"))
    kvs.get(PropPublishRetain).foreach(v =>
      require(v.toIntOption.exists(_ > 0),
        s"$PropPublishRetain must be a positive integer, got '$v'"))
    kvs.get(PropPublishCoord).foreach(v =>
      require(v.nonEmpty && !v.contains('\n') && !v.contains('\r'),
        s"$PropPublishCoord cannot ride a manifest property: '$v'"))
  }

  /** One `ALTER TABLE` statement as ONE commit: every change validates
    * against and folds into the same snapshot view sequentially
    * (statement order — a rename's new name is visible to the next
    * change), and the folded (props, schema) pair lands in a single
    * CAS. A refusal anywhere aborts the whole statement with nothing
    * committed; on a CAS retry the fold re-validates against the new
    * snapshot. Changes that individually no-op fold to identity; an
    * all-no-op statement commits nothing. */
  def alterSchema(dir: String, changes: Seq[TableAlteration]): Snapshot = {
    require(changes.nonEmpty, "ALTER needs at least one change")
    changes.foreach {
      case AlterSetProps(kvs) => validateMutableProps(kvs)
      case _                  => ()
    }
    commitLoop(Paths.get(dir)) {
      case None => throw new IllegalStateException(
        s"no committed manifest in $dir — nothing to alter")
      case Some(latest) =>
        val folded = changes.foldLeft(latest)((s, c) => applyAlteration(dir, s, c))
        if (folded.props == latest.props && folded.schema == latest.schema &&
            folded.stats == latest.stats && folded.blooms == latest.blooms) None
        else {
          val op = if (changes.forall(_.isInstanceOf[AlterSetProps])) "setprops"
                   else "alter"
          Some(Ledger(latest.files, latest.txns, folded.stats, op,
            folded.schema, folded.blooms, latest.rows,
            props = Some(folded.props), buckets = latest.buckets))
        }
    }.get
  }

  /** `ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)` — Delta's
    * constraint surface. Validates the EXISTING corpus in one
    * pushdown-pruned scan (a constraint the lake already violates
    * refuses, counting the casualties — Delta's rule), requires the
    * expression deterministic (it re-evaluates on every write and
    * every task retry), then commits `constraint.<name>` as a table
    * property. From that commit on, every write path enforces it
    * row-wise inside the staged write ([[withCheckConstraints]]):
    * Scala append/appendBatch — and with them the DSv2 `INSERT INTO`
    * and the streaming sink, which route through them — MoR UPDATE
    * images, merge-staged rows, and the SQL copy-on-write
    * UPDATE/MERGE rewrites (validated at [[commitReplace]]). SQL
    * CHECK null semantics throughout: NULL passes, only FALSE
    * violates — so an append that legally omits a referenced column
    * (additive evolution; readers null-fill) passes by the same rule
    * the read applies. NOT NULL is spelled `col IS NOT NULL`.
    *
    * The validation scan is race-safe: when the property commit finds
    * it was rebased over concurrent commits, it re-scans exactly the
    * files those commits added (delta-proportional) and refuses if any
    * violating row slipped in — so the constraint only ever commits
    * against a corpus it validated. */
  def addConstraint(s: SparkSession, dir: String, name: String,
                    checkExpr: String): Snapshot = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name must be [A-Za-z0-9_]+, got '$name'")
    require(!checkExpr.contains('\n') && !checkExpr.contains('\r'),
      "constraint expression must be single-line (it rides a manifest header)")
    val snap = latestSnapshot(dir).getOrElse(throw new IllegalStateException(
      s"no committed manifest in $dir — nothing to constrain"))
    require(!snap.props.contains(PropConstraintPrefix + name),
      s"constraint '$name' already exists on $dir — drop it first")
    val parsed = expr(checkExpr)
    snap.schema.foreach { sc =>
      val empty = s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), sc)
      val det =
        try empty.filter(parsed).queryExecution.analyzed
          .expressions.forall(_.deterministic)
        catch { case _: org.apache.spark.sql.AnalysisException => true }
      require(det,
        s"constraint '$name' must be deterministic, got: $checkExpr")
    }
    val violations = read(s, dir, Some(snap))
      .filter(!coalesce(parsed, lit(true))).count()
    if (violations > 0L) throw new IllegalStateException(
      s"cannot add constraint '$name' CHECK ($checkExpr): $violations " +
        "existing row(s) violate it")
    commitLoop(Paths.get(dir)) {
      case None => throw new IllegalStateException(s"manifest vanished from $dir")
      case Some(latest) =>
        if (latest.props.get(PropConstraintPrefix + name).contains(checkExpr)) None
        else {
          // the validation scan saw `snap`; a rebase means concurrent
          // commits landed in between. Their appended/rewritten files
          // were never validated, so re-scan exactly those before the
          // constraint commits — otherwise an in-flight append of
          // violating rows and the constraint could both commit,
          // leaving the lake violating its own committed property
          // (Delta's conflict checker aborts the txn here; re-scanning
          // the delta is strictly kinder and delta-proportional).
          // DV-only changes to files both snapshots share only REMOVE
          // rows and cannot introduce a violation.
          if (latest.version != snap.version) {
            val fresh = latest.files.filterNot(snap.files.toSet)
            if (fresh.nonEmpty) {
              val late = toLogical(latest,
                lakeFiles(s, dir, latest, fresh, latest.schema))
                .filter(!coalesce(parsed, lit(true))).count()
              if (late > 0L) throw new IllegalStateException(
                s"cannot add constraint '$name' CHECK ($checkExpr): a " +
                  s"concurrent commit (v${snap.version}→v${latest.version}) " +
                  s"added $late violating row(s)")
            }
          }
          Some(Ledger(latest.files, latest.txns, latest.stats, "setprops",
            latest.schema, latest.blooms, latest.rows,
            props = Some(latest.props + (PropConstraintPrefix + name -> checkExpr)),
            buckets = latest.buckets))
        }
    }.get
  }

  /** Persist ANALYZE output ([[Cbo.analyze]]) as `analyze.*` table
    * properties in one metadata commit, REPLACING any earlier analyze
    * generation wholesale (mixing two generations' columns would let a
    * dropped column's stale stats linger). Package-private: the only
    * writer is [[Cbo.analyze]], which stamps the snapshot version the
    * scan measured so consumers can judge staleness. */
  private[core] def persistAnalyze(dir: String,
                                   kvs: Map[String, String]): Snapshot = {
    require(kvs.keysIterator.forall(_.startsWith("analyze.")),
      "persistAnalyze writes only analyze.* properties")
    commitLoop(Paths.get(dir)) {
      case None => throw new IllegalStateException(
        s"no committed manifest in $dir — nothing to analyze")
      case Some(latest) =>
        val cleared = latest.props.filterNot(_._1.startsWith("analyze."))
        Some(Ledger(latest.files, latest.txns, latest.stats, "setprops",
          latest.schema, latest.blooms, latest.rows,
          props = Some(cleared ++ kvs), buckets = latest.buckets))
    }.get
  }

  /** `ALTER TABLE ... DROP CONSTRAINT` — metadata-only; refuses an
    * unknown name (a typo'd drop that silently "succeeds" leaves the
    * operator believing enforcement stopped). */
  def dropConstraint(dir: String, name: String): Snapshot = {
    val key = PropConstraintPrefix + name
    commitLoop(Paths.get(dir)) {
      case None => throw new IllegalStateException(s"no committed manifest in $dir")
      case Some(latest) =>
        require(latest.props.contains(key), s"no constraint '$name' on $dir")
        Some(Ledger(latest.files, latest.txns, latest.stats, "setprops",
          latest.schema, latest.blooms, latest.rows,
          props = Some(latest.props - key), buckets = latest.buckets))
    }.get
  }

  /** CHECK-constraint write guard (Delta's `CheckDeltaInvariant`
    * shape): wraps the outgoing projection so every row evaluates the
    * lake's constraints INSIDE the staged write itself — codegen'd
    * with the write projection, single-pass, no second scan — and
    * fails the job at the FIRST violating row (at 100 TB you do not
    * finish staging a doomed batch) with the violated constraint's
    * name, its expression, and the row rendered into the error. The
    * guard rides the first output column (`when(ok, c).otherwise(
    * raise_error(...))`), which the staged write must materialize for
    * every row, so Catalyst cannot prune it away. A referenced column
    * the frame legally omits (additive evolution) evaluates as NULL,
    * and NULL passes — SQL standard CHECK, matching the read-side
    * null-fill. */
  private[core] def withCheckConstraints(df: DataFrame,
                                         cons: Seq[(String, String)],
                                         renames: Map[String, String] = Map.empty)
      : DataFrame = {
    if (cons.isEmpty) return df
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val exprs = cons.map { case (n, sqlText) => (n, sqlText, expr(sqlText)) }
    // column mapping: the staged frame carries PHYSICAL names, but a
    // constraint added after a RENAME references the logical name —
    // alias each renamed physical column under its logical name so
    // both spellings resolve (never a null-fill masking enforcement)
    val aliased = renames.foldLeft(df) { case (d, (p, l)) =>
      if (d.columns.contains(p) && !d.columns.contains(l))
        d.withColumn(l, col(p))
      else d
    }
    val present =
      aliased.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val parser = df.sparkSession.sessionState.sqlParser
    val missing = cons.flatMap { case (_, sqlText) =>
      parser.parseExpression(sqlText).collect {
        case ua: UnresolvedAttribute => ua.name
      }
    }.distinct.filterNot(c => present.contains(c.toLowerCase(java.util.Locale.ROOT)))
    val checkable = missing.foldLeft(aliased)((d, c) => d.withColumn(c, lit(null)))
    val ok = exprs.map { case (_, _, e) => coalesce(e, lit(true)) }.reduce(_ && _)
    val firstViolated = coalesce(exprs.map { case (n, sqlText, e) =>
      when(!coalesce(e, lit(true)), lit(s"$n CHECK ($sqlText)"))
    }: _*)
    val msg = concat(lit("graft constraint violated: "), firstViolated,
      lit(" by row "),
      substring(to_json(struct(df.columns.toIndexedSeq.map(col): _*)), 1, 400))
    val guard = df.columns.head
    checkable
      .withColumn(guard, when(ok, col(guard)).otherwise(raise_error(msg)))
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  /** `ALTER TABLE ... ADD COLUMNS` — the explicit spelling of the
    * evolution appends already perform implicitly: commit the widened
    * schema (existing fields first, adds after — exactly
    * [[evolveSchema]]'s union order) as a metadata-only "alter"
    * version. Existing files null-fill the new columns on read, the
    * same contract as write-side evolution; no byte is rewritten.
    * Only ADDs are expressible — renames/drops/type changes would
    * reinterpret committed bytes and refuse at the catalog. */
  def addColumns(dir: String,
                 adds: Seq[org.apache.spark.sql.types.StructField]): Snapshot = {
    require(adds.nonEmpty, "ADD COLUMNS requires at least one column")
    alterSchema(dir, Seq(AlterAddColumns(adds)))
  }

  /** NESTED `ADD COLUMNS (parent.path.newField TYPE)` — append fields
    * to the struct at `parentPath`, metadata-only: the committed
    * struct type widens, no byte moves, and existing files NULL-FILL
    * the new leaf on read (parquet's by-name nested resolution — the
    * same physics as a top-level add, one level down). Writers from
    * then on must carry the new struct shape (a frame with the old
    * shape refuses loudly at schema evolution — null the leaf
    * explicitly). Refusals mirror the top-level add: NOT NULL fields,
    * names already used at that level physically (dropped leaves
    * included — resurrection) or logically, non-struct parents. */
  def addColumns(dir: String, parentPath: Seq[String],
                 adds: Seq[org.apache.spark.sql.types.StructField]): Snapshot = {
    require(adds.nonEmpty, "ADD COLUMNS requires at least one field")
    alterSchema(dir, adds.map(f => AlterAddNested(parentPath, f)))
  }

  /** A physical type with NESTED DROPS under `prefix` clipped away —
    * the shape post-drop writers stage and the CDF multiset diff
    * compares (physical leaf names kept). Identity when no nested
    * entry lives under the prefix. Paths never cross arrays/maps (the
    * DDL refuses them), so only struct chains recurse. */
  private[core] def clipNestedDrops(snap: Snapshot,
                                    dt: org.apache.spark.sql.types.DataType,
                                    prefix: Seq[String])
      : org.apache.spark.sql.types.DataType = dt match {
    case st: org.apache.spark.sql.types.StructType
        if snap.nestedDrops.exists(_.startsWith(prefix)) =>
      org.apache.spark.sql.types.StructType(st.fields.toIndexedSeq
        .filterNot(f => snap.nestedDrops.contains(prefix :+ f.name))
        .map(f => f.copy(
          dataType = clipNestedDrops(snap, f.dataType, prefix :+ f.name))))
    case other => other
  }

  /** A physical type with nested drops clipped AND nested renames
    * applied — the user-facing shape of a struct column. */
  private[core] def nestedLogicalType(snap: Snapshot,
                                      dt: org.apache.spark.sql.types.DataType,
                                      prefix: Seq[String])
      : org.apache.spark.sql.types.DataType = dt match {
    case st: org.apache.spark.sql.types.StructType
        if snap.nestedDrops.exists(_.startsWith(prefix)) ||
          snap.nestedRenames.keysIterator.exists(_.startsWith(prefix)) =>
      org.apache.spark.sql.types.StructType(st.fields.toIndexedSeq
        .filterNot(f => snap.nestedDrops.contains(prefix :+ f.name))
        .map { f =>
          val p = prefix :+ f.name
          f.copy(name = snap.nestedRenames.getOrElse(p, f.name),
            dataType = nestedLogicalType(snap, f.dataType, p))
        })
    case other => other
  }

  /** A LOGICAL (possibly nested-pruned) field translated back to
    * physical nested names for the parquet layer, walking the
    * committed physical type alongside — the DSv2 scan's requested
    * schema must carry the names footers do, at every nesting level.
    * The logical field's SHAPE is kept (nested schema pruning may
    * have dropped leaves); only names map. */
  private[core] def physReadField(snap: Snapshot,
                                  logical: org.apache.spark.sql.types.StructField)
      : org.apache.spark.sql.types.StructField = {
    import org.apache.spark.sql.types.{StructField, StructType, ArrayType, DataType}
    val physRoot = snap.physicalName(logical.name).getOrElse(logical.name)
    def rec(lt: DataType, pt: DataType, prefix: Seq[String]): DataType =
      (lt, pt) match {
        case (ls: StructType, ps: StructType)
            if snap.nestedRenames.keysIterator.exists(_.startsWith(prefix)) ||
              snap.nestedDrops.exists(_.startsWith(prefix)) =>
          StructType(ls.fields.toIndexedSeq.map { lf =>
            val pf = ps.fields.find { p =>
              val pp = prefix :+ p.name
              !snap.nestedDrops.contains(pp) &&
                snap.nestedRenames.getOrElse(pp, p.name) == lf.name
            }.getOrElse(throw new IllegalStateException(
              s"no physical field for '${lf.name}' under " +
                s"${prefix.mkString(".")} — mapping out of sync"))
            StructField(pf.name, rec(lf.dataType, pf.dataType, prefix :+ pf.name),
              lf.nullable, lf.metadata)
          })
        case _ => lt
      }
    val physType = snap.schema.flatMap(_.fields.find(_.name == physRoot))
      .map(f => rec(logical.dataType, f.dataType, Seq(physRoot)))
      .getOrElse(logical.dataType)
    logical.copy(name = physRoot, dataType = physType)
  }

  /** Rebuild a LOGICAL struct column as its COMMITTED PHYSICAL shape
    * for staging: renamed leaves back under physical names, dropped
    * leaves re-inserted as typed NULLs at their committed positions —
    * so every file generation carries the identical physical struct
    * and by-name nested reads never diverge. NULL struct rows stay
    * NULL. */
  private def rebuildPhysicalStruct(snap: Snapshot,
                                    c: org.apache.spark.sql.Column,
                                    dt: org.apache.spark.sql.types.DataType,
                                    prefix: Seq[String])
      : org.apache.spark.sql.Column = dt match {
    case st: org.apache.spark.sql.types.StructType
        if snap.nestedDrops.exists(_.startsWith(prefix)) ||
          snap.nestedRenames.keysIterator.exists(_.startsWith(prefix)) =>
      val parts = st.fields.toIndexedSeq.map { f =>
        val p = prefix :+ f.name
        if (snap.nestedDrops.contains(p)) lit(null).cast(f.dataType).as(f.name)
        else {
          val child = c.getField(snap.nestedRenames.getOrElse(p, f.name))
          rebuildPhysicalStruct(snap, child, f.dataType, p).as(f.name)
        }
      }
      when(c.isNull, lit(null).cast(st)).otherwise(struct(parts: _*))
    case _ => c
  }

  /** physical→logical VIEW of a lake frame (no-op when unmapped):
    * dropped columns hidden, renamed columns served under their
    * logical names; struct columns with NESTED mapping rebuild
    * (dropped subtrees clipped via `dropFields`, leaves renamed by a
    * positional cast). A pure column-level Project on unnested lakes
    * — filter pushdown and column pruning pass through it; nested
    * mapping costs a per-row struct rebuild on the mapped roots
    * only. */
  private[core] def toLogical(snap: Snapshot, df: DataFrame): DataFrame =
    if (!snap.mappingActive) df
    else {
      val nested = snap.nestedRoots.filter(df.columns.contains).toSeq.sorted
      val n = nested.foldLeft(df) { (d, r) =>
        val physType = d.schema(d.schema.fieldIndex(r)).dataType
        val dropsUnder = snap.nestedDrops.filter(_.head == r)
          .map(_.tail.mkString(".")).toSeq.sorted
        val clipped = dropsUnder.foldLeft(col(r))((c, p) => c.dropFields(p))
        val target = nestedLogicalType(snap, physType, Seq(r))
        d.withColumn(r, clipped.cast(target))
      }
      val dropped = snap.droppedCols.filter(n.columns.contains).toSeq
      val ren = snap.renames.filter { case (p, _) => n.columns.contains(p) }
      n.drop(dropped: _*).withColumnsRenamed(ren)
    }

  /** logical→physical, for user frames about to be staged: the bytes
    * written always carry PHYSICAL names, whatever the column is
    * called today — one name per column across every file generation.
    * Struct columns with nested mapping rebuild to the full COMMITTED
    * shape (nested-dropped leaves as typed NULLs) after an exact
    * logical-type check — nested evolution under a mapped root would
    * otherwise silently misbind by position. */
  private[core] def toPhysical(snap: Snapshot, df: DataFrame): DataFrame = {
    if (!snap.mappingActive) return df
    val renamed = df.withColumnsRenamed(
      snap.renames.collect { case (p, l) if df.columns.contains(l) => (l, p) })
    snap.nestedRoots.filter(renamed.columns.contains).toSeq.sorted
      .foldLeft(renamed) { (d, r) =>
        val committed = snap.schema.flatMap(_.fields.find(_.name == r))
          .getOrElse(throw new IllegalStateException(
            s"nested mapping under '$r' but no committed field"))
        val have = d.schema(d.schema.fieldIndex(r)).dataType
        val logicalT = nestedLogicalType(snap, committed.dataType, Seq(r))
        require(sameTypeIgnoreNullability(have, logicalT),
          s"struct column '${snap.logicalName(r)}' must match the table's " +
            s"logical type exactly (${logicalT.simpleString}), got " +
            s"${have.simpleString} — nested evolution under a mapped " +
            "struct column is not supported")
        d.withColumn(r,
          rebuildPhysicalStruct(snap, col(r), committed.dataType, Seq(r)))
      }
  }

  /** A user-facing column-name argument (partitionCol, keyCols,
    * statsCols, clusterBy...) resolved to its physical column.
    * Physical names pass through unchanged (internal callers hand
    * them around), which is unambiguous because rename/add refuse any
    * logical name colliding with a different column's physical name.
    * A DROPPED column's name refuses — it names nothing. */
  private[core] def physicalColName(snap: Snapshot, name: String): String =
    if (!snap.mappingActive) name
    else snap.renames.collectFirst { case (p, l) if l == name => p }
      .getOrElse {
        require(!snap.droppedCols.contains(name),
          s"column '$name' was dropped — it no longer names a column " +
            "(time travel to a pre-drop version still serves it)")
        name
      }

  /** A user-facing (possibly DOTTED) stats path resolved to its
    * PHYSICAL dotted leaf path — the key parquet footers carry and the
    * manifest's nested-leaf skipping stats are stored under. Identity
    * when unmapped; a whole-key top-level match (legacy dotted column
    * names) wins over path interpretation, mirroring
    * [[Snapshot.nestedKeyPath]]'s disambiguation; an unresolvable
    * segment passes the name through unchanged (pruning then simply
    * finds no stats — conservative, never wrong). */
  private[core] def physicalStatsPath(snap: Snapshot, name: String): String =
    if (!snap.mappingActive || !name.contains('.') ||
        snap.schema.exists(_.fieldNames.contains(name)))
      physicalColName(snap, name)
    else {
      val segs = name.split('.').toIndexedSeq
      val physRoot = physicalColName(snap, segs.head)
      var prefix = Seq(physRoot)
      var dt: Option[org.apache.spark.sql.types.DataType] =
        snap.schema.flatMap(_.fields.find(_.name == physRoot)).map(_.dataType)
      val out = Seq.newBuilder[String]
      out += physRoot
      var ok = true
      segs.tail.foreach { lseg =>
        dt match {
          case Some(st: org.apache.spark.sql.types.StructType) if ok =>
            st.fields.find { p =>
              val pp = prefix :+ p.name
              !snap.nestedDrops.contains(pp) &&
                snap.nestedRenames.getOrElse(pp, p.name) == lseg
            } match {
              case Some(pf) =>
                out += pf.name
                prefix = prefix :+ pf.name
                dt = Some(pf.dataType)
              case None => ok = false
            }
          case _ => ok = false
        }
      }
      if (ok) out.result().mkString(".") else name
    }

  /** `ALTER TABLE ... RENAME COLUMN from TO to` — METADATA-ONLY via
    * column mapping (Delta's name-mode analogue): one `colmap.*`
    * property commit, zero bytes rewritten. The committed (physical)
    * schema, every manifest structure (stats, blooms, partition
    * directories, bucket declaration) and every parquet footer keep
    * the original name; reads, writes and the DSv2/SQL faces
    * translate at the boundary, across ALL file generations. Renaming
    * back to the physical name drops the mapping entry. Refuses:
    * unknown/dropped source column; a target name already in use
    * (logically or physically — resolution must stay unambiguous);
    * names a manifest property line cannot carry; a column referenced
    * by a CHECK constraint (Delta's rule — the stored expression text
    * would silently dangle). */
  def renameColumn(dir: String, from: String, to: String): Snapshot =
    alterSchema(dir, Seq(AlterRenameColumn(from, to)))

  /** `ALTER TABLE ... RENAME COLUMN root.path TO to` — NESTED field
    * rename, metadata-only via a PATH-KEYED mapping entry
    * (`colmap.root.mid.leaf = to`; every segment the physical name).
    * Committed bytes keep their nested names; reads rebuild the
    * mapped struct roots at the boundary (a positional cast — order,
    * types and data untouched), writes translate back. `path` is the
    * user-facing spelling: segments resolve through the CURRENT
    * mapping, so renaming a field then addressing it by its new path
    * works. Paths resolve through STRUCT chains only — fields inside
    * arrays/maps are not addressable (no per-element identity to key
    * a property on). */
  def renameColumn(dir: String, path: Seq[String], to: String): Snapshot =
    alterSchema(dir, Seq(
      if (path.length == 1) AlterRenameColumn(path.head, to)
      else AlterRenameNested(path, to)))

  /** NESTED `DROP COLUMN root.path` — one `coldrop.root.mid.leaf`
    * property commit hides the committed subtree from reads without
    * touching a byte; time travel to a pre-drop version still serves
    * it. Post-drop writers stage the full committed struct with the
    * dropped leaf as a typed NULL, so every file generation carries
    * one physical shape. Refusal matrix mirrors the top-level drop
    * (last visible field of its struct, constraint-referenced root,
    * unknown/already-dropped paths). */
  def dropColumn(dir: String, path: Seq[String]): Snapshot =
    alterSchema(dir, Seq(
      if (path.length == 1) AlterDropColumn(path.head)
      else AlterDropNested(path)))

  /** Resolve a user-facing (logical) nested field path to its
    * committed PHYSICAL path. Returns (physical path, resolved leaf
    * field, parent struct, parent physical prefix). Refuses unknown
    * or dropped segments and paths crossing non-struct types. */
  private def resolveNestedPath(dir: String, snap: Snapshot, path: Seq[String])
      : (Seq[String], org.apache.spark.sql.types.StructField,
         org.apache.spark.sql.types.StructType) = {
    import org.apache.spark.sql.types.{StructField, StructType}
    require(path.length >= 2,
      s"nested path needs at least two segments: ${path.mkString(".")}")
    val sc = snap.schema.getOrElse(throw new IllegalStateException(
      s"lake $dir has no committed schema — nested ALTER needs one"))
    val rootPhys = snap.physicalName(path.head).getOrElse(
      throw new IllegalArgumentException(
        s"no column '${path.head}' on $dir (dropped or never committed) — " +
          s"columns: ${snap.logicalSchema.get.fieldNames.mkString(", ")}"))
    var prefix: Vector[String] = Vector(rootPhys)
    var curType: org.apache.spark.sql.types.DataType =
      sc(sc.fieldIndex(rootPhys)).dataType
    var parent: StructType = null
    var field: StructField = null
    path.tail.foreach { seg =>
      curType match {
        case st: StructType =>
          val hit = st.fields.find { f =>
            val p = prefix :+ f.name
            !snap.nestedDrops.contains(p) &&
              snap.nestedRenames.getOrElse(p, f.name) == seg
          }.getOrElse(throw new IllegalArgumentException(
            s"no field '$seg' under '${prefix.mkString(".")}' on $dir " +
              "(dropped or never committed)"))
          parent = st; field = hit
          prefix = prefix :+ hit.name; curType = hit.dataType
        case other => throw new IllegalArgumentException(
          s"nested path ${path.mkString(".")} crosses a non-struct type " +
            s"(${other.simpleString}) — only struct chains are addressable " +
            "(fields inside arrays/maps have no per-element identity to " +
            "key a mapping on)")
      }
    }
    prefix.foreach(s => require(!s.contains('.') && !s.contains('=') &&
      !s.contains('\n') && !s.contains('\r'),
      s"physical field '$s' cannot key a manifest property path — " +
        "alias it at write time instead"))
    (prefix, field, parent)
  }

  /** One [[TableAlteration]] validated against and folded into a
    * snapshot VIEW — the unit [[alterSchema]] folds. Pure: returns the
    * updated view (props/schema only), throws to abort the whole
    * statement. No-op changes return the view unchanged. */
  private def applyAlteration(dir: String, latest: Snapshot,
                              change: TableAlteration): Snapshot = change match {
    case AlterSetProps(kvs) =>
      latest.copy(props = latest.props ++ kvs)

    case AlterRenameColumn(from, to) =>
      require(to.nonEmpty && !to.contains('\n') && !to.contains('\r') &&
        !to.contains('.'),
        s"cannot rename to '$to': the name cannot ride a manifest property " +
          "(and a dotted name would be ambiguous with a nested field path)")
      val sc = latest.schema.getOrElse(throw new IllegalStateException(
        s"lake $dir has no committed schema — RENAME COLUMN needs one"))
      val phys = latest.physicalName(from).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$from' on $dir (dropped or never committed) — " +
            s"columns: ${latest.logicalSchema.get.fieldNames.mkString(", ")}"))
      require(!phys.contains('=') && !phys.contains('\n') &&
        !phys.contains('\r') && !phys.contains('.'),
        s"physical column '$phys' cannot key a manifest property — " +
          "alias it at write time instead")
      if (latest.logicalName(phys) == to) latest // already named `to`
      else {
        val takenLogical = latest.logicalSchema.get.fieldNames.toSet
        require(!takenLogical.contains(to),
          s"cannot rename '$from' to '$to': a column named '$to' exists")
        require(!sc.fieldNames.exists(p => p != phys && p == to),
          s"cannot rename '$from' to '$to': '$to' is the physical name " +
            "of another committed column (possibly dropped) — pick a " +
            "name never used by this lake")
        constraintsReferencing(latest, phys).foreach { n =>
          throw new IllegalStateException(
            s"cannot rename '$from': CHECK constraint '$n' references " +
              "it — drop the constraint first and re-add it under the " +
              "new name")
        }
        latest.copy(props =
          if (to == phys) latest.props - (PropColMapPrefix + phys)
          else latest.props + (PropColMapPrefix + phys -> to))
      }

    case AlterDropColumn(name) =>
      latest.schema.getOrElse(throw new IllegalStateException(
        s"lake $dir has no committed schema — DROP COLUMN needs one"))
      val phys = latest.physicalName(name).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$name' on $dir (dropped or never committed) — " +
            s"columns: ${latest.logicalSchema.get.fieldNames.mkString(", ")}"))
      require(!phys.contains('=') && !phys.contains('\n') &&
        !phys.contains('\r') && !phys.contains('.'),
        s"physical column '$phys' cannot key a manifest property")
      val partCol = latest.declaredPartitionCol
        .orElse(latest.files.headOption.map(_.takeWhile(_ != '=')))
      require(!partCol.contains(phys),
        s"cannot drop '$name': it is the partition column — file " +
          "placement derives from it")
      require(!latest.declaredBucket.exists(_._1 == phys),
        s"cannot drop '$name': it is the bucket column — co-location " +
          "derives from it")
      require(latest.logicalSchema.get.fields.length > 1,
        s"cannot drop '$name': it is the last visible column")
      constraintsReferencing(latest, phys).foreach { n =>
        throw new IllegalStateException(
          s"cannot drop '$name': CHECK constraint '$n' references it — " +
            "drop the constraint first")
      }
      latest.copy(props = latest.props
        + (PropColDropPrefix + phys -> "true")
        - (PropColMapPrefix + phys))

    case AlterWidenColumn(name, to) =>
      val sc = latest.schema.getOrElse(throw new IllegalStateException(
        s"lake $dir has no committed schema — ALTER COLUMN TYPE needs one"))
      val phys = latest.physicalName(name).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$name' on $dir (dropped or never committed) — " +
            s"columns: ${latest.logicalSchema.get.fieldNames.mkString(", ")}"))
      val from = sc(sc.fieldIndex(phys)).dataType
      if (from == to) latest
      else {
        require(isSafeWidening(from, to),
          s"cannot change '$name' from ${from.simpleString} to " +
            s"${to.simpleString}: only lossless widenings " +
            "(byte/short/int→long chain, byte/short/int→double, " +
            "integral→decimal(p,0), float→double, date→timestamp_ntz, " +
            "same-scale decimal precision growth) are metadata-only — " +
            "anything else would reinterpret or round committed bytes")
        require(!latest.declaredBucket.exists(_._1 == phys),
          s"cannot widen '$name': it is the bucket column — bucket " +
            "placement hashes the value WITH its type, so widening " +
            "would silently break co-location (rebucket first)")
        // the PARTITION column renders into directory names: integer
        // widths render identically, but a class-changing widening
        // (int→double "5"→"5.0", date→timestamp) would scatter one
        // logical value across differently-rendered directories
        val partCol = latest.declaredPartitionCol
          .orElse(latest.files.headOption.map(_.takeWhile(_ != '=')))
        if (partCol.contains(phys)) {
          import org.apache.spark.sql.types._
          val renderStable = (from, to) match {
            case (ByteType | ShortType | IntegerType,
                  ShortType | IntegerType | LongType) => true
            case _ => false
          }
          require(renderStable,
            s"cannot widen partition column '$name' from " +
              s"${from.simpleString} to ${to.simpleString}: file placement " +
              "renders the value, and the widened rendering differs")
        }
        val stats2 =
          if (statsSurvive(from, to)) latest.stats
          else latest.stats.view.mapValues(_.filterNot(_.col == phys))
            .filter(_._2.nonEmpty).toMap
        val blooms2 =
          if (bloomsSurvive(from, to)) latest.blooms
          else latest.blooms.view.mapValues(_.filterNot(_.col == phys))
            .filter(_._2.nonEmpty).toMap
        latest.copy(
          schema = Some(org.apache.spark.sql.types.StructType(
            sc.fields.map(f =>
              if (f.name == phys) f.copy(dataType = to) else f))),
          stats = stats2, blooms = blooms2)
      }

    case AlterAddColumns(adds) =>
      val cur = latest.schema.getOrElse(throw new IllegalStateException(
        s"lake $dir has no committed schema — ALTER needs one"))
      // clashes with PHYSICAL names cover dropped columns too (the
      // committed schema keeps them); clashes with LOGICAL names
      // keep physicalName resolution unambiguous under renames
      val taken = cur.fieldNames.toSet ++ latest.renames.values
      val clash = adds.map(_.name).filter(taken.contains)
      if (clash.nonEmpty) throw new IllegalArgumentException(
        s"column(s) already exist (as a live, renamed, or dropped " +
          s"column): ${clash.mkString(", ")}")
      val dup = adds.groupBy(_.name).collect { case (n, fs) if fs.length > 1 => n }
      if (dup.nonEmpty) throw new IllegalArgumentException(
        s"duplicate column(s) in ADD: ${dup.mkString(", ")}")
      // added columns are NULLABLE by construction: every file
      // committed before the add null-fills them on read, and a
      // committed nullable=false is bound into DSv2 codegen — the
      // NULL slots would read as garbage zeros (same law as
      // evolveSchema's)
      latest.copy(schema = Some(org.apache.spark.sql.types.StructType(
        cur.fields ++ adds.map(_.copy(nullable = true)))))

    case AlterRenameNested(path, to) =>
      require(to.nonEmpty && !to.contains('\n') && !to.contains('\r') &&
        !to.contains('.') && !to.contains('='),
        s"cannot rename to '$to': the name cannot ride a manifest property " +
          "path")
      val (physPath, _, parentSt) = resolveNestedPath(dir, latest, path)
      val parentPrefix = physPath.init
      val current = latest.nestedRenames.getOrElse(physPath, physPath.last)
      if (current == to) latest // already named `to`
      else {
        val siblings = parentSt.fields.filterNot(_.name == physPath.last)
        val takenLogical = siblings.toSeq
          .filterNot(f => latest.nestedDrops.contains(parentPrefix :+ f.name))
          .map(f => latest.nestedRenames.getOrElse(parentPrefix :+ f.name, f.name))
          .toSet
        require(!takenLogical.contains(to),
          s"cannot rename '${path.mkString(".")}' to '$to': a sibling " +
            s"field named '$to' exists")
        require(!siblings.exists(_.name == to),
          s"cannot rename '${path.mkString(".")}' to '$to': '$to' is the " +
            "physical name of another committed field (possibly dropped) — " +
            "pick a name never used at this level")
        constraintsReferencing(latest, physPath.head).foreach { n =>
          throw new IllegalStateException(
            s"cannot rename '${path.mkString(".")}': CHECK constraint '$n' " +
              "references its root column — drop the constraint first and " +
              "re-add it under the new name")
        }
        val key = PropColMapPrefix + physPath.mkString(".")
        latest.copy(props =
          if (to == physPath.last) latest.props - key
          else latest.props + (key -> to))
      }

    case AlterAddNested(parentPath, field) =>
      import org.apache.spark.sql.types.{StructField, StructType}
      require(parentPath.nonEmpty, "nested ADD needs a parent path")
      val sc = latest.schema.getOrElse(throw new IllegalStateException(
        s"lake $dir has no committed schema — nested ADD COLUMNS needs one"))
      require(field.nullable,
        s"ADD COLUMNS ${(parentPath :+ field.name).mkString(".")} NOT NULL " +
          "is impossible: every pre-existing row null-fills the new field")
      require(field.name.nonEmpty && !field.name.contains('.') &&
        !field.name.contains('=') && !field.name.contains('\n') &&
        !field.name.contains('\r'),
        s"field name '${field.name}' cannot ride a manifest property path")
      // resolve the PARENT (logical → physical); must be a struct
      val (parentPhysPath, parentType) =
        if (parentPath.length == 1) {
          val rootPhys = latest.physicalName(parentPath.head).getOrElse(
            throw new IllegalArgumentException(
              s"no column '${parentPath.head}' on $dir (dropped or never " +
                "committed)"))
          (Seq(rootPhys), sc(sc.fieldIndex(rootPhys)).dataType)
        } else {
          val (pp, f, _) = resolveNestedPath(dir, latest, parentPath)
          (pp, f.dataType)
        }
      val parentSt = parentType match {
        case st: StructType => st
        case other => throw new IllegalArgumentException(
          s"cannot ADD a field under '${parentPath.mkString(".")}': it is " +
            s"a ${other.simpleString}, not a struct")
      }
      // collisions: physical sibling names cover DROPPED leaves too
      // (committed bytes still carry them — a new field under the same
      // physical name would resurrect them), logical names keep path
      // resolution unambiguous
      val takenPhys = parentSt.fieldNames.toSet
      val takenLogical = parentSt.fields.toSeq
        .filterNot(f => latest.nestedDrops.contains(parentPhysPath :+ f.name))
        .map(f => latest.nestedRenames
          .getOrElse(parentPhysPath :+ f.name, f.name)).toSet
      require(!takenPhys.contains(field.name) &&
        !takenLogical.contains(field.name),
        s"field '${field.name}' already exists under " +
          s"'${parentPath.mkString(".")}' (as a live, renamed, or dropped " +
          "field)")
      // rebuild the committed schema with the leaf APPENDED to its
      // parent struct (the evolveSchema union order, one level down)
      def insert(dt: org.apache.spark.sql.types.DataType,
                 prefix: Seq[String]): org.apache.spark.sql.types.DataType =
        dt match {
          case st: StructType if prefix == parentPhysPath =>
            StructType(st.fields :+ field)
          case st: StructType if parentPhysPath.startsWith(prefix) =>
            StructType(st.fields.map { f =>
              if (parentPhysPath.lift(prefix.length).contains(f.name))
                f.copy(dataType = insert(f.dataType, prefix :+ f.name))
              else f
            })
          case other => other
        }
      latest.copy(schema = Some(StructType(sc.fields.map { f =>
        if (f.name == parentPhysPath.head)
          f.copy(dataType = insert(f.dataType, Seq(f.name)))
        else f
      })))

    case AlterWidenNested(path, to) =>
      import org.apache.spark.sql.types.StructType
      val sc = latest.schema.getOrElse(throw new IllegalStateException(
        s"lake $dir has no committed schema — ALTER COLUMN TYPE needs one"))
      val (physPath, leaf, _) = resolveNestedPath(dir, latest, path)
      val from = leaf.dataType
      if (from == to) latest
      else {
        require(isSafeWidening(from, to),
          s"cannot change '${path.mkString(".")}' from ${from.simpleString} " +
            s"to ${to.simpleString}: only lossless widenings " +
            "(byte/short/int→long chain, byte/short/int→double, " +
            "integral→decimal(p,0), float→double, date→timestamp_ntz, " +
            "same-scale decimal precision growth) are metadata-only — " +
            "anything else would reinterpret or round committed bytes")
        // nested leaves are never partition/bucket columns, but they
        // CAN carry declared skipping stats (dotted statsCols) AND
        // point-lookup blooms (dotted bloomCols, r16) — strip both
        // exactly where the widening changes the parquet encoding,
        // the same rule as the top-level widen
        def widen(dt: org.apache.spark.sql.types.DataType,
                  prefix: Seq[String]): org.apache.spark.sql.types.DataType =
          dt match {
            case st: StructType => StructType(st.fields.map { f =>
              val p = prefix :+ f.name
              if (p == physPath) f.copy(dataType = to)
              else if (physPath.startsWith(p))
                f.copy(dataType = widen(f.dataType, p))
              else f
            })
            case other => other
          }
        val dotted = physPath.mkString(".")
        val stats2 =
          if (statsSurvive(from, to)) latest.stats
          else latest.stats.view.mapValues(_.filterNot(_.col == dotted))
            .filter(_._2.nonEmpty).toMap
        val blooms2 =
          if (bloomsSurvive(from, to)) latest.blooms
          else latest.blooms.view.mapValues(_.filterNot(_.col == dotted))
            .filter(_._2.nonEmpty).toMap
        latest.copy(schema = Some(StructType(sc.fields.map { f =>
          if (f.name == physPath.head)
            f.copy(dataType = widen(f.dataType, Seq(f.name)))
          else f
        })), stats = stats2, blooms = blooms2)
      }

    case AlterDropNested(path) =>
      val (physPath, _, parentSt) = resolveNestedPath(dir, latest, path)
      val parentPrefix = physPath.init
      val visible = parentSt.fields.count(f =>
        !latest.nestedDrops.contains(parentPrefix :+ f.name))
      require(visible > 1,
        s"cannot drop '${path.mkString(".")}': it is the last visible " +
          "field of its struct — drop the whole column instead")
      constraintsReferencing(latest, physPath.head).foreach { n =>
        throw new IllegalStateException(
          s"cannot drop '${path.mkString(".")}': CHECK constraint '$n' " +
            "references its root column — drop the constraint first")
      }
      latest.copy(props = latest.props
        + (PropColDropPrefix + physPath.mkString(".") -> "true")
        - (PropColMapPrefix + physPath.mkString(".")))
  }

  /** `ALTER TABLE ... DROP COLUMN` — METADATA-ONLY: one `coldrop.*`
    * property commit hides the committed bytes from reads; time
    * travel to any pre-drop version still serves them (that snapshot
    * carries no drop marker), exactly Delta's column-mapping DROP.
    * Refuses: the partition or bucket column (structural — file
    * placement is derived from them), the last visible column, a
    * column referenced by a CHECK constraint, unknown/already-dropped
    * names. The physical name stays reserved forever (re-ADDing it
    * refuses): committed bytes still carry it, and a new column under
    * the same physical name would resurrect them. */
  def dropColumn(dir: String, name: String): Snapshot =
    alterSchema(dir, Seq(AlterDropColumn(name)))

  /** `ALTER TABLE ... ALTER COLUMN col TYPE <wider>` — TYPE WIDENING
    * (Delta 4.0's type-widening feature): a LOSSLESS upcast is
    * METADATA-ONLY — the committed schema's field widens, no byte is
    * rewritten, and every reader upcasts old files at scan time
    * (Spark's parquet readers, vectorized and row, upcast
    * int32→int64, float→double, short→int and same-scale decimal
    * precision growth natively — probed on this engine's exact read
    * path). The safe set is exactly the lossless one:
    * byte→short/int/long, short→int/long, int→long, float→double,
    * decimal(p,s)→decimal(p'≥p, s) — anything else (narrowing,
    * scale changes, int→float, string flips) still REFUSES: it would
    * reinterpret committed bytes, which no metadata can fix.
    *
    * Two structural refusals: the BUCKET column (bucket placement
    * hashes the value WITH its type — Murmur3(int 5) ≠ Murmur3(long
    * 5), so a widened bucket key would silently break co-location and
    * with it every SPJ join) and unknown/dropped names. The PARTITION
    * column may widen: placement is by rendered string, identical
    * across integer widths. Manifest min/max stats are numeric
    * (BigDecimal) and blooms hash every integer kind through its Long
    * value ([[BloomHash.canonical]]), so the skipping index stays
    * exact across the widening. Writers append the WIDENED type from
    * then on (a narrower frame refuses at schema evolution — cast
    * before appending). */
  def widenColumn(dir: String, name: String,
                  to: org.apache.spark.sql.types.DataType): Snapshot =
    alterSchema(dir, Seq(AlterWidenColumn(name, to)))

  /** NESTED `ALTER COLUMN parent.leaf TYPE <wider>` — the struct
    * leaf's committed type widens in one metadata commit; readers
    * upcast old files' nested pages at scan time (same reader
    * machinery as the top-level widening, probed in
    * TypeWideningSpec). Nested leaves are never partition/bucket
    * columns and manifest skipping metadata is keyed on top-level
    * columns only, so nothing strips. Writers carry the widened type
    * from then on (narrower frames refuse at schema evolution). */
  def widenColumn(dir: String, path: Seq[String],
                  to: org.apache.spark.sql.types.DataType): Snapshot =
    alterSchema(dir, Seq(
      if (path.length == 1) AlterWidenColumn(path.head, to)
      else AlterWidenNested(path, to)))

  /** The LOSSLESS widening set — Delta 4.0's table, restricted to what
    * is provably exact on THIS engine's read paths (both probed:
    * vectorized and row parquet readers upcast all of these natively):
    * - integral chain byte→short→int→long;
    * - byte/short/int → double (every int32 < 2^53 — exact in a
    *   double; long→double REFUSES: values above 2^53 round);
    * - byte/short/int/long → decimal(p, 0) with p big enough for the
    *   source's full range (scale 0 ONLY: manifest range stats store
    *   parquet's UNSCALED decimal values, and at scale 0 unscaled ≡
    *   value, so old integral stats and new decimal stats share one
    *   unit — a scaled target would mix units and corrupt pruning);
    * - float → double;
    * - decimal(p,s) → decimal(p'≥p, s) — same-scale precision growth
    *   (scale growth REFUSES for the same unscaled-units reason,
    *   although the reader itself could rescale);
    * - date → timestamp_ntz (midnight embedding; the column's range
    *   stats are STRIPPED at the widening commit — epoch-day and
    *   epoch-micros units are incomparable, see [[statsSurvive]]).
    * Everything else refuses: it would reinterpret or round committed
    * bytes (int→float rounds above 2^24; string flips reinterpret). */
  private def isSafeWidening(from: org.apache.spark.sql.types.DataType,
                             to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def digits(dt: DataType): Int = dt match {
      case ByteType => 3; case ShortType => 5; case IntegerType => 10
      case LongType => 19; case _ => Int.MaxValue
    }
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType)            => true
      case (IntegerType, LongType)                        => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (ByteType | ShortType | IntegerType | LongType, t: DecimalType) =>
        // max digit counts: 127→3, 32767→5, 2147483647→10,
        // 9223372036854775807→19 — each strictly under 10^p−1
        t.scale == 0 && t.precision >= digits(from)
      case (FloatType, DoubleType)                        => true
      case (DateType, TimestampNTZType)                   => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision >= f.precision
      case _ => false
    }
  }

  /** Do a column's committed RANGE STATS survive this widening?
    * Stats are Num(BigDecimal) for every numeric kind and decimal
    * stats store scale-0 unscaled ≡ value, so all numeric→numeric
    * widenings in the safe set share one unit. date→timestamp_ntz
    * does not: old stats are epoch DAYS, new files' are epoch MICROS
    * — the widening commit strips the column's stats (files stay
    * conservatively un-pruned until a compaction rebuilds them under
    * the new type). */
  private def statsSurvive(from: org.apache.spark.sql.types.DataType,
                           to: org.apache.spark.sql.types.DataType): Boolean =
    (from, to) match {
      case (org.apache.spark.sql.types.DateType,
            org.apache.spark.sql.types.TimestampNTZType) => false
      case _ => true
    }

  /** Do a column's committed BLOOM entries survive? Only when both
    * kinds canonicalize identically — the integral chain hashes
    * through Long ([[BloomHash.canonical]]). A widened fractional/
    * decimal/timestamp probe is already INELIGIBLE
    * ([[bloomProbeEligible]] gates on the committed type), so stale
    * entries could never fire wrongly — stripping them just stops
    * dead bytes riding every manifest. */
  private def bloomsSurvive(from: org.apache.spark.sql.types.DataType,
                            to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def integral(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    integral(from) && integral(to)
  }

  /** Names of CHECK constraints whose expression references the
    * physical column `phys` — under its physical OR current logical
    * name (constraints added before a rename store the old spelling,
    * ones added after store the new). */
  private def constraintsReferencing(snap: Snapshot,
                                     phys: String): Option[String] = {
    val names = Set(phys, snap.logicalName(phys))
      .map(_.toLowerCase(java.util.Locale.ROOT))
    snap.constraints.collectFirst {
      case (n, e) if org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(e).collect {
          case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            ua.nameParts.head.toLowerCase(java.util.Locale.ROOT)
        }.exists(names.contains) => n
    }
  }

  def append(s: SparkSession, dir: String, df: DataFrame, partitionCol: String,
             maxRecordsPerFile: Long = 1024 * 1024,
             writeOptions: Map[String, String] = Map.empty,
             statsCols: Seq[String] = Nil,
             bloomCols: Seq[String] = Nil,
             bucketBy: Option[(String, Int)] = None): Snapshot =
    latestSnapshot(dir).filter(_.mappingActive) match {
      // column mapping: user frames and column args arrive in LOGICAL
      // terms; staged bytes always carry PHYSICAL names (one name per
      // column across every file generation)
      case Some(sn) =>
        requireNoDropped(sn, df, dir)
        append0(s, dir, toPhysical(sn, df),
          physicalColName(sn, partitionCol), maxRecordsPerFile, writeOptions,
          statsCols.map(physicalStatsPath(sn, _)),
          bloomCols.map(physicalStatsPath(sn, _)),
          bucketBy.map { case (c, n) => (physicalColName(sn, c), n) })
      case None => append0(s, dir, df, partitionCol, maxRecordsPerFile,
        writeOptions, statsCols, bloomCols, bucketBy)
    }

  /** A write frame naming a DROPPED column refuses: the name no longer
    * names a column, and silently writing bytes into the hidden
    * physical slot would "resurrect" it for time travel only. */
  private def requireNoDropped(sn: Snapshot, df: DataFrame, dir: String): Unit = {
    val bad = df.columns.filter(sn.droppedCols.contains)
    require(bad.isEmpty,
      s"column(s) ${bad.mkString(", ")} were dropped from $dir — they no " +
        "longer exist (time travel to a pre-drop version still serves them)")
  }

  private def append0(s: SparkSession, dir: String, df: DataFrame,
             partitionCol: String,
             maxRecordsPerFile: Long,
             writeOptions: Map[String, String],
             statsCols: Seq[String],
             bloomCols: Seq[String],
             bucketBy: Option[(String, Int)]): Snapshot = {
    val root = Paths.get(dir)
    Files.createDirectories(root)
    // fail a type flip BEFORE staging any bytes (racing commits are
    // re-checked inside the commit loop, which stays authoritative)
    val pre = latestSnapshot(dir)
    evolveSchema(pre.flatMap(_.schema), df.schema)
    // a DDL-declared layout is a contract: appends must partition the
    // declared way, and always track at least the declared columns —
    // a caller omitting statsCols can't erode a CREATE TABLE's index
    pre.flatMap(_.declaredPartitionCol).filter(_ != partitionCol).foreach { d =>
      throw new IllegalArgumentException(
        s"lake $dir was declared PARTITIONED BY ($d); cannot append " +
          s"partitioned by '$partitionCol'")
    }
    val effStats = (statsCols ++ pre.toSeq.flatMap(_.declaredStatsCols)).distinct
    val effBlooms = (bloomCols ++ pre.toSeq.flatMap(_.declaredBloomCols)).distinct
    val bucket = effectiveBucket(dir, pre, bucketBy)
    val (staged, stagedBuckets) = stageFiles(s, root,
      withCheckConstraints(df, pre.map(_.constraints).getOrElse(Nil),
        pre.map(_.renames).getOrElse(Map.empty)),
      partitionCol, maxRecordsPerFile, writeOptions, bucket)
    val (stagedStats, stagedRows) = footerMetaAll(s, root, staged, effStats)
    val stagedBlooms = buildBlooms(s, dir, staged, effBlooms, stagedRows)
    commitLoop(root) { latest =>
      Some(Ledger(latest.map(_.files).getOrElse(Vector.empty) ++ staged,
        latest.map(_.txns).getOrElse(Map.empty),
        latest.map(_.stats).getOrElse(Map.empty) ++ stagedStats, "append",
        Some(evolveSchema(latest.flatMap(_.schema), df.schema)),
        latest.map(_.blooms).getOrElse(Map.empty) ++ stagedBlooms,
        latest.map(_.rows).getOrElse(Map.empty) ++ stagedRows,
        propsWithBucket(latest, bucket),
        buckets = stagedBuckets))
    }.get
  }

  /** Resolves the bucket layout an append must use: the lake's
    * declared `(bucketCol, bucketN)` is LAW once set (an explicit
    * conflicting spec refuses — silently re-bucketing would break the
    * co-location every committed file already promises); a fresh/
    * undeclared lake adopts the caller's spec and declares it. */
  private def effectiveBucket(dir: String, pre: Option[Snapshot],
                              bucketBy: Option[(String, Int)]): Option[(String, Int)] = {
    val declared = pre.flatMap(_.declaredBucket)
    (declared, bucketBy) match {
      case (Some(d), Some(b)) if d != b =>
        throw new IllegalArgumentException(
          s"lake $dir is bucketed by (${d._1}, ${d._2}); cannot append " +
            s"bucketed by (${b._1}, ${b._2})")
      case (Some(d), _) => Some(d)
      case (None, b)    => b
    }
  }

  /** Ledger props override that DECLARES a first bucketed append's
    * layout (merging with whatever is already declared); None when
    * nothing new to declare, so ordinary inheritance applies. */
  private def propsWithBucket(latest: Option[Snapshot],
                              bucket: Option[(String, Int)]): Option[Map[String, String]] =
    bucket match {
      case Some((c, n)) if !latest.exists(_.declaredBucket.contains((c, n))) =>
        Some(latest.map(_.props).getOrElse(Map.empty) ++
          Map(PropBucketCol -> c, PropBucketN -> n.toString))
      case _ => None
    }

  /** Idempotent streaming append — the `foreachBatch` sink contract.
    * Structured Streaming delivers micro-batches AT LEAST once (a
    * crash between sink write and checkpoint commit re-delivers the
    * same `batchId`); committing the app's high-water batch id IN the
    * same manifest CAS that publishes the files upgrades that to
    * exactly-once: a re-delivered batch sees `batchId <= high-water`
    * and returns without staging a byte. The check runs twice — before
    * staging (fast path) and inside the commit loop (a concurrent
    * retry of the same batch can win the race mid-flight; the loser
    * deletes its staged files and walks away). */
  def appendBatch(s: SparkSession, dir: String, df: DataFrame, partitionCol: String,
                  appId: String, batchId: Long,
                  maxRecordsPerFile: Long = 1024 * 1024,
                  statsCols: Seq[String] = Nil,
                  bloomCols: Seq[String] = Nil): Snapshot =
    latestSnapshot(dir).filter(_.mappingActive) match {
      // column mapping: translate at the boundary, exactly [[append]]
      case Some(sn) =>
        requireNoDropped(sn, df, dir)
        appendBatch0(s, dir, toPhysical(sn, df),
          physicalColName(sn, partitionCol), appId, batchId, maxRecordsPerFile,
          statsCols.map(physicalStatsPath(sn, _)),
          bloomCols.map(physicalStatsPath(sn, _)))
      case None => appendBatch0(s, dir, df, partitionCol, appId, batchId,
        maxRecordsPerFile, statsCols, bloomCols)
    }

  private def appendBatch0(s: SparkSession, dir: String, df: DataFrame,
                  partitionCol: String,
                  appId: String, batchId: Long,
                  maxRecordsPerFile: Long,
                  statsCols: Seq[String],
                  bloomCols: Seq[String]): Snapshot = {
    require(!appId.contains('\n'), "appId must be single-line")
    val root = Paths.get(dir)
    Files.createDirectories(root)
    val already = latestSnapshot(dir)
    if (already.exists(_.txns.get(appId).exists(_ >= batchId))) return already.get
    evolveSchema(already.flatMap(_.schema), df.schema)
    already.flatMap(_.declaredPartitionCol).filter(_ != partitionCol).foreach { d =>
      throw new IllegalArgumentException(
        s"lake $dir was declared PARTITIONED BY ($d); cannot append " +
          s"partitioned by '$partitionCol'")
    }
    val effStats = (statsCols ++ already.toSeq.flatMap(_.declaredStatsCols)).distinct
    val effBlooms = (bloomCols ++ already.toSeq.flatMap(_.declaredBloomCols)).distinct
    val (staged, stagedBuckets) = stageFiles(s, root,
      withCheckConstraints(df, already.map(_.constraints).getOrElse(Nil),
        already.map(_.renames).getOrElse(Map.empty)),
      partitionCol, maxRecordsPerFile, Map.empty,
      already.flatMap(_.declaredBucket))
    // stats and blooms built OUTSIDE the commit loop (one scan of the
    // staged files, a CAS retry must not re-run it); a duplicate batch
    // detected inside the loop discards them with the staged files —
    // streamed-in files carry the SAME skipping metadata as batch
    // appends, so a lake fed by a stream never erodes its index
    val (stagedStats, stagedRows) = footerMetaAll(s, root, staged, effStats)
    val stagedBlooms = buildBlooms(s, dir, staged, effBlooms, stagedRows)
    var duplicate = false
    val snap = commitLoop(root) { latest =>
      if (latest.exists(_.txns.get(appId).exists(_ >= batchId))) { duplicate = true; None }
      else Some(Ledger(latest.map(_.files).getOrElse(Vector.empty) ++ staged,
        latest.map(_.txns).getOrElse(Map.empty) + (appId -> batchId),
        latest.map(_.stats).getOrElse(Map.empty) ++ stagedStats, "batch",
        Some(evolveSchema(latest.flatMap(_.schema), df.schema)),
        latest.map(_.blooms).getOrElse(Map.empty) ++ stagedBlooms,
        latest.map(_.rows).getOrElse(Map.empty) ++ stagedRows,
        buckets = stagedBuckets))
    }.get
    if (duplicate) staged.foreach(f => Files.deleteIfExists(root.resolve(f)))
    snap
  }

  /** `writeStream.foreachBatch(ManifestLake.streamSink(dir, "source"))` —
    * the packaged exactly-once sink. (`writeStream.format("graft")` is
    * the same sink behind the standard API — [[graft.core.GraftLake]].) */
  def streamSink(dir: String, partitionCol: String, appId: String = "stream",
                 statsCols: Seq[String] = Nil,
                 bloomCols: Seq[String] = Nil): (DataFrame, Long) => Unit =
    (df, batchId) => {
      appendBatch(df.sparkSession, dir, df, partitionCol, appId, batchId,
        statsCols = statsCols, bloomCols = bloomCols); ()
    }

  /** What [[merge]] did, for callers and specs. `rowsUpdated` counts
    * pre-existing rows replaced (removed from rewritten files);
    * `rowsInserted` is the update rows that matched nothing. */
  final case class MergeStats(rowsUpdated: Long, rowsInserted: Long,
                              filesRewritten: Int)

  /** Keyed MERGE — the upsert specialization (`whenMatched UPDATE *` /
    * `whenNotMatched INSERT *`) of Delta's MERGE INTO, over the
    * manifest: every `updates` row lands in the lake exactly once,
    * replacing any existing row(s) with the same key. The S11/S13
    * delete-then-insert upsert ([[graft.sink.Sinks.upsertParquet]],
    * reference worker `INSERT ... ON CONFLICT DO UPDATE`) lifted to
    * lake granularity: where the sink swaps a whole partition
    * directory, merge rewrites ONLY the files whose keys collide.
    *
    * Algorithm (Delta's, re-expressed over the manifest):
    *  1. one key pass ([[planKeys]]: one job, no shuffle) counts the
    *     update key tuples — it refuses duplicate keys (two updates
    *     for one key have no deterministic winner; Delta throws the
    *     same way), totals the update rows, and keeps as candidates
    *     only the files that pass the exact value set of EVERY key
    *     column the lake tracks (stats, bloom or partition directory);
    *  2. when some candidate can match, one detection query semi-joins
    *     the candidates against the update keys and groups the matches
    *     by key: the affected files and the matched-update count in one
    *     pass. When none can — an incremental batch of new keys — no
    *     detection scan runs;
    *  3. the affected files' survivors (anti-join on the update keys)
    *     and ALL update rows (matched replacements and fresh inserts
    *     alike) stage through one write job;
    *  4. one CAS commit swaps affected → rewritten + staged, op
    *     "merge". Concurrent appends rebase in (set-union); a racing
    *     commit that REPLACED an input file aborts loudly — re-run
    *     against the new snapshot.
    *
    * An empty `updates` frame commits nothing. A lake without files
    * that declares a partition column ([[create]]) takes the rows as an
    * append under its declared layout; without a declaration, merging
    * into it refuses. Stats and blooms re-derive for every written
    * file over the snapshot's tracked columns, so a merge never erodes
    * the skipping index. Merge commits are CDC-invisible
    * ([[changedFiles]] — their added files mix carried and new rows).
    *
    * Scale: the key pass reads the delta once; past 100 000 distinct
    * keys it falls back to one grouped aggregate and per-column
    * min/max envelopes (still exact for clustered batches). Detection
    * reads only candidate files; rewrite cost is proportional to files
    * TOUCHED, not lake size; the staged write is delta-sized. The
    * 100 TB shape is "daily upsert batch against a clustered lake":
    * with updates clustered on the same key as the layout, affected
    * files ≈ update-key-range / file-range — the same
    * delta-proportional contract as [[deleteWhere]]. */
  def merge(s: SparkSession, dir: String, updates: DataFrame,
            keyCols: Seq[String]): MergeStats =
    latestSnapshot(dir).filter(_.mappingActive) match {
      // column mapping: translate at the boundary, exactly [[append]];
      // dropped physical columns null-fill (the logical updates frame
      // cannot carry them, but merge's column-alignment contract is
      // over the committed physical schema)
      case Some(sn) =>
        requireNoDropped(sn, updates, dir)
        val phys0 = toPhysical(sn, updates)
        val phys = sn.schema.toSeq.flatMap(_.fields)
          .filter(f => sn.droppedCols.contains(f.name) &&
            !phys0.columns.contains(f.name))
          .foldLeft(phys0)((d, f) =>
            d.withColumn(f.name, lit(null).cast(f.dataType)))
        mergePhysical(s, dir, phys, keyCols.map(physicalColName(sn, _)))
      case None => mergePhysical(s, dir, updates, keyCols)
    }

  /** [[merge]] over PHYSICAL column names. */
  private def mergePhysical(s: SparkSession, dir: String, updates: DataFrame,
                            keyCols: Seq[String]): MergeStats = {
    val root = Paths.get(dir)
    val snap = latestSnapshot(dir).getOrElse(
      throw new IllegalStateException(s"no committed manifest in $dir"))
    val schema = snap.schema.getOrElse(throw new IllegalStateException(
      s"lake $dir has no committed schema — merge needs one to align columns"))
    require(keyCols.nonEmpty, "merge needs at least one key column")
    require(keyCols.forall(schema.fieldNames.contains),
      s"key columns ${keyCols.mkString(",")} must exist in the lake schema")
    require(updates.columns.sorted.sameElements(schema.fieldNames.sorted),
      s"merge updates must carry exactly the lake's columns " +
        s"(${schema.fieldNames.sorted.mkString(",")}), got " +
        s"(${updates.columns.sorted.mkString(",")}) — schema evolution " +
        "belongs to append")
    // an empty lake takes the declared layout; without a declaration
    // there is no layout to merge into
    val partitionCol = snap.files.headOption.map(_.takeWhile(_ != '='))
      .orElse(snap.declaredPartitionCol)
      .getOrElse(throw new IllegalStateException(
        s"lake $dir has no files and declares no partition column — " +
          "merge into an empty lake is an append"))

    import org.apache.spark.sql.functions.{col, count => cnt, input_file_name, lit}
    val keyed = updates.persist()
    try {
      // ONE key pass ([[planKeys]]) serves the duplicate-key gate, the
      // update-row total and the candidate files
      val plan = planKeys(snap, keyed, keyCols, nullSafe = false)
      require(!plan.duplicated,
        "updates carry duplicate keys — two updates for one key have no " +
          "deterministic winner; dedupe (e.g. keep-latest) before merging")
      if (plan.rows == 0L) return MergeStats(0L, 0L, 0)
      val aligned = keyed.select(schema.fieldNames.map(col).toIndexedSeq: _*)
      if (snap.files.isEmpty) {
        append0(s, dir, aligned, partitionCol, 1024 * 1024, Map.empty,
          Nil, Nil, None)
        return MergeStats(0L, plan.rows, 0)
      }
      // semi/anti joins ignore duplicates, so no distinct is needed
      val keys = keyed.select(keyCols.map(col): _*)

      // 2. detection, only when some file can match: ONE query groups
      // the matched keys, attributes each to the first file holding it
      // and yields the affected files with the matched-update count
      // (the gate proved update keys unique, so matched keys = matched
      // update rows)
      val (affected, matchedUpdates): (Vector[String], Long) =
        if (plan.candidates.isEmpty) (Vector.empty, 0L)
        else {
          val perFile = lakeFiles(s, dir, snap, plan.candidates, snap.schema)
            .withColumn("__graft_file", input_file_name())
            .join(keys, keyCols, "left_semi")
            .groupBy(keyCols.map(col): _*)
            .agg(array_sort(collect_set(col("__graft_file"))).as("__graft_fs"))
            .select(posexplode(col("__graft_fs")).as(Seq("__graft_pos", "__graft_file")))
            .groupBy("__graft_file")
            .agg(sum(when(col("__graft_pos") === 0, 1L).otherwise(0L)))
            .collect()
          (perFile.map(r => relFromUri(r.getString(0))).toVector,
            perFile.map(_.getLong(1)).sum)
        }
      require(affected.forall(snap.files.contains),
        s"detection scan returned files outside the snapshot: $affected")

      // 3. rewrite the affected files' survivors in ONE distributed
      // job: read them together (basePath restores the partition
      // column), anti-join the update keys, stage partitioned. No
      // shuffle — partitionBy routes rows task-per-input-split, so
      // survivors of one clustered input land in one clustered output
      // and per-file parallelism comes from the cluster, not a
      // driver-side job pool (the previous per-file-job shape was the
      // ×10 probe's super-linear term: N affected files = N
      // driver-scheduled jobs, a scheduling bottleneck at thousands
      // of affected files).
      // NET rows — the survivor rewrite reads through deletion
      // vectors, so already-DV-deleted rows must not count as
      // "updated by this merge"
      val rowsBefore: Long =
        if (affected.isEmpty) 0L
        else if (affected.forall(snap.rows.contains)) affected.flatMap(snap.netRows).sum
        else parMapMeta(affected)(f => rowCount(s, root.resolve(f)) -
          snap.dvs.get(f).fold(0L)(_.count)).sum
      // FUSED (r17, guide §1.2): the affected files' survivors
      // and the update rows stage through ONE write job instead of two
      // — the survivor branch carries an observed row count
      // (CollectMetricsExec rides the write, no extra job — the q184
      // observed-metric discipline) so the rows-updated accounting
      // that previously needed the kept files' footer counts still
      // computes exactly: rowsUpdated = rowsBefore − survivorRows.
      val alignedChecked =
        withCheckConstraints(aligned, snap.constraints, snap.renames)
      val survivorObs = org.apache.spark.sql.Observation()
      val toStage =
        if (affected.isEmpty) alignedChecked
        else {
          lakeFiles(s, dir, snap, affected, snap.schema)
            .join(keys, keyCols, "left_anti")
            .select(schema.fieldNames.map(col).toIndexedSeq: _*)
            .observe(survivorObs, cnt(lit(1)).as("rows"))
            .unionByName(alignedChecked)
        }
      val stagedPair = stageFiles(s, root, toStage, partitionCol,
        maxRecordsPerFile = 1024 * 1024, Map.empty, snap.declaredBucket)
      val staged = stagedPair._1
      val survivorRows: Long =
        if (affected.isEmpty) 0L
        else survivorObs.get("rows") match {
          case n: Long => n
          case other   => other.toString.toLong
        }

      // 4. skipping metadata for every written file, then one CAS swap
      val removedSet = affected.toSet
      val newFiles = staged
      val statsCols = snap.stats.valuesIterator.flatten.map(_.col)
        .toSeq.distinct.sorted
      val (newStats, newRows) = footerMetaAll(s, root, newFiles, statsCols)
      val bloomCols = snap.blooms.valuesIterator.flatten.map(_.col)
        .toSeq.distinct.sorted
      val newBlooms = buildBlooms(s, dir, newFiles, bloomCols, newRows)

      // CDF-enabled lakes record the merge's EXACT three-way change
      // record (the attribution the SQL-path diff cannot reconstruct):
      // matched lake rows = `update_preimage` (a key matching N rows
      // replaces all N — N preimages, one postimage, faithfully), the
      // matching update rows = `update_postimage`, the rest = `insert`.
      // All three legs are delta-proportional joins the merge's own
      // accounting already pays for in shape.
      val cdfStaged: Vector[String] =
        if (!snap.cdfEnabled) Vector.empty
        else {
          val affectedKeys =
            if (affected.isEmpty) None
            else Some(lakeFiles(s, dir, snap, affected, snap.schema)
              .select(keyCols.map(col): _*))
          val pre = affectedKeys.map(_ =>
            lakeFiles(s, dir, snap, affected, snap.schema)
              .select(schema.fieldNames.map(col).toIndexedSeq: _*)
              .join(keys, keyCols, "left_semi")
              .withColumn(CdfTypeCol, lit("update_preimage")))
          val post = affectedKeys.map(ks => aligned.join(ks, keyCols, "left_semi")
            .withColumn(CdfTypeCol, lit("update_postimage")))
          val ins = affectedKeys.fold(aligned)(ks =>
            aligned.join(ks, keyCols, "left_anti"))
            .withColumn(CdfTypeCol, lit("insert"))
          stageCdfFiles(s, root,
            (pre.toSeq ++ post.toSeq :+ ins).reduce(_ unionByName _))
        }

      commitLoop(root) {
        case None => throw new IllegalStateException(s"manifest vanished from $dir")
        case Some(latest) =>
          if (!removedSet.forall(latest.files.contains))
            throw new IllegalStateException(
              "a concurrent commit replaced files this merge rewrote — " +
                "re-run merge against the new snapshot")
          Some(Ledger(latest.files.filterNot(removedSet.contains) ++ newFiles,
            latest.txns, latest.stats -- removedSet ++ newStats, "merge",
            latest.schema,
            latest.blooms -- removedSet ++ newBlooms,
            latest.rows -- removedSet ++ newRows,
            buckets = stagedPair._2, cdf = cdfStaged))
      }
      // rows removed = affected-file rows before minus the survivor
      // rows the fused stage observed — metadata + an observed metric,
      // no extra data read. rowsInserted counts UPDATE ROWS whose key
      // matched nothing, from the detection query, not total-minus-
      // removed: a key holding several lake rows (legal — merge
      // replaces all of them) removes more rows than it matched
      MergeStats(rowsBefore - survivorRows, plan.rows - matchedUpdates,
        affected.length)
    } finally { keyed.unpersist(); () }
  }

  /** Swap `removed` → `added` in one CAS commit, re-deriving skipping
    * metadata (stats + blooms over the snapshot's tracked columns) for
    * every added file. The shared tail of every copy-on-write rewrite
    * (merge, the SQL row-level UPDATE/DELETE): rebases over concurrent
    * appends by set-union; aborts loudly when a racing commit replaced
    * one of this rewrite's inputs. */
  private[core] def commitReplace(s: SparkSession, dir: String,
                                  removed: Set[String], added: Vector[String],
                                  op: String,
                                  addedBuckets: Map[String, Int] = Map.empty)
      : Snapshot = {
    val root = Paths.get(dir)
    val snap = latestSnapshot(dir).getOrElse(
      throw new IllegalStateException(s"no committed manifest in $dir"))
    // SQL COW UPDATE/MERGE rewrites route through connector writers,
    // not stageFiles, so CHECK constraints validate HERE: one
    // delta-sized scan of only the ADDED files (survivors passed when
    // the constraint was added; DELETE/compaction rewrites cannot
    // introduce a violation and skip the scan). A violation discards
    // the staged rewrite and fails before the commit loop runs.
    val cons = snap.constraints
    if (cons.nonEmpty && Set("update", "merge").contains(op) && added.nonEmpty) {
      val raw = manifestScan(s, dir, added, snap.schema,
        restorePartitions = true, snap.sizes)
      // column mapping: a constraint added after a RENAME references
      // the logical name — alias it over the physical column so both
      // spellings resolve (the withCheckConstraints rule)
      val df = snap.renames.foldLeft(raw) { case (d, (p, l)) =>
        if (d.columns.contains(p) && !d.columns.contains(l))
          d.withColumn(l, col(p))
        else d
      }
      val violating = cons.map { case (_, sqlText) =>
        !coalesce(expr(sqlText), lit(true)) }.reduce(_ || _)
      val bad = df.filter(violating).limit(1).collect()
      if (bad.nonEmpty) {
        added.foreach(f => Files.deleteIfExists(root.resolve(f)))
        throw new IllegalStateException(
          s"graft constraint violated: SQL $op rewrote row ${bad.head} " +
            s"failing ${cons.map { case (n, e) => s"$n CHECK ($e)" }.mkString(" or ")}")
      }
    }
    val statsCols = snap.stats.valuesIterator.flatten.map(_.col)
      .toSeq.distinct.sorted
    val (newStats, newRows) = footerMetaAll(s, root, added, statsCols)
    val bloomCols = snap.blooms.valuesIterator.flatten.map(_.col)
      .toSeq.distinct.sorted
    val newBlooms = buildBlooms(s, dir, added, bloomCols, newRows)
    // CDF-enabled lakes reconstruct the SQL rewrite's change record as
    // an exact removed-vs-added multiset diff — see [[cdfDiff]]
    val cdfStaged: Vector[String] =
      if (snap.cdfEnabled && Set("delete", "update", "merge").contains(op))
        cdfDiff(s, dir, snap, removed, added, op)
      else Vector.empty
    commitLoop(root) {
      case None => throw new IllegalStateException(s"manifest vanished from $dir")
      case Some(latest) =>
        if (!removed.forall(latest.files.contains))
          throw new IllegalStateException(
            s"a concurrent commit replaced files this $op rewrote — " +
              "re-run against the new snapshot")
        Some(Ledger(latest.files.filterNot(removed.contains) ++ added,
          latest.txns, latest.stats -- removed ++ newStats, op,
          latest.schema,
          latest.blooms -- removed ++ newBlooms,
          latest.rows -- removed ++ newRows,
          buckets = addedBuckets, cdf = cdfStaged))
    }.get
  }

  /** Read the lake as of its latest manifest (or an explicit
    * snapshot — time travel for free). `basePath` keeps the partition
    * column: files are opened by NAME, no directory listing, so
    * concurrent writers' uncommitted files are invisible. */
  def read(s: SparkSession, dir: String, snapshot: Option[Snapshot] = None): DataFrame = {
    val snap = snapshot.orElse(latestSnapshot(dir)).getOrElse(
      throw new IllegalStateException(s"no committed manifest in $dir"))
    // The committed schema (when present) IS the read schema: no
    // per-file inference, and files written before a column was added
    // null-fill it — Delta-style evolution without mergeSchema's
    // every-footer planning cost. Pre-schema manifests fall back to
    // inference. Column mapping applies LAST (toLogical is a pure
    // Project — pushdown passes through): the physical read serves
    // renamed columns under their logical names and hides dropped
    // ones, per THIS snapshot's mapping — so time travel to a
    // pre-rename version serves the old names, exactly Delta.
    toLogical(snap, lakeFiles(s, dir, snap, snap.files, snap.schema))
  }

  /** EVERY Scala-side read of lake data files routes here: parquet of
    * `files` with deletion vectors applied. DV-free sets (the normal
    * case) read exactly as before — zero plan change. When any file
    * carries a DV, the read adds `_metadata` (file path + row index),
    * filters through one broadcast of the affected files' position
    * arrays (delete-proportional, purged by any rewrite — a DV set
    * too big to broadcast is the signal to compact), and drops the
    * helper column — schema and row order are otherwise untouched, so
    * detection scans (`input_file_name`), survivor rewrites and CDC
    * compose unchanged. The SQL scan ([[GraftScan]]) does the same
    * filtering file-locally in its readers instead — no broadcast at
    * all — but this path must stay a plain file-source (FileFormat)
    * read so partition restoration and committed-schema null-fill
    * keep working.
    *
    * PLANNING (r17, guide §6): with a committed schema the scan is
    * built over a manifest-fed [[org.apache.spark.sql.graftbridge.GraftManifestFileIndex]]
    * — zero directory listing, zero distributed listing jobs; the only
    * plan-time filesystem work is one bounded-pool stat pass over
    * exactly the named files (size + mtime for split planning; at
    * 100 TB these would ride in the manifest itself — the Delta/
    * Iceberg design this mirrors). `spark.read.parquet(files: _*)`
    * used to re-list every path per read and, past 32 paths, launch a
    * DISTRIBUTED listing job per read (~0.15–0.25 s each; the r17
    * job-census probe counted ~12 of them inside one q188 pass).
    * Partition values are restored from the one-level `col=value`
    * directory names exactly as `basePath` did, with index-level
    * partition pruning preserved. Pre-schema manifests (no committed
    * schema) and unexpected layouts fall back to the old listing read
    * unchanged.
    *
    * `restorePartitions = false` reads the files under `schema` AS IS
    * (no partition column restored) — the compaction-rewrite shape. */
  private[core] def lakeFiles(s: SparkSession, dir: String, snap: Snapshot,
                              files: Vector[String],
                              schema: Option[org.apache.spark.sql.types.StructType],
                              restorePartitions: Boolean = true): DataFrame = {
    val df = manifestScan(s, dir, files, schema, restorePartitions, snap.sizes)
    dvDeletedPredicate(s, dir, snap, files) match {
      case None => df
      case Some(deleted) =>
        val cols = df.columns.map(col)
        df.withColumn("__graft_dv_path", col("_metadata.file_path"))
          .withColumn("__graft_dv_idx", col("_metadata.row_index"))
          .filter(!deleted(col("__graft_dv_path"), col("__graft_dv_idx")))
          .select(cols.toIndexedSeq: _*)
    }
  }

  /** The parquet frame under [[lakeFiles]] (pre-DV): manifest-planned
    * when a schema is known and the layout is the engine's one-level
    * `col=value/file` shape; the old listing-based read otherwise. */
  private def manifestScan(s: SparkSession, dir: String,
                           files: Vector[String],
                           schema: Option[org.apache.spark.sql.types.StructType],
                           restorePartitions: Boolean,
                           sizes: Map[String, FileSize] = Map.empty): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    val root = Paths.get(dir)
    val oneLevel = files.forall { f =>
      val i = f.indexOf('/')
      i > 0 && f.indexOf('/', i + 1) < 0 && f.take(i).contains('=')
    }
    // manifest-carried sizes answer without touching the filesystem;
    // only files the manifest predates (or staged-not-yet-committed
    // files) fall back to a statted read, counted by [[planStatCalls]]
    def stat(rel: Vector[String]): Seq[(String, GraftSqlBridge.LakeFile)] = {
      val (known, missing) = rel.partition(sizes.contains)
      val fromManifest = known.map { f =>
        val z = sizes(f)
        f -> GraftSqlBridge.LakeFile(
          root.resolve(f).toAbsolutePath.toString, z.bytes, z.mtime)
      }
      val statted =
        if (missing.isEmpty) Seq.empty
        else parMapMeta(missing) { f =>
          planStatCalls.incrementAndGet()
          val p = root.resolve(f)
          val attrs = Files.readAttributes(p,
            classOf[java.nio.file.attribute.BasicFileAttributes])
          f -> GraftSqlBridge.LakeFile(p.toAbsolutePath.toString,
            attrs.size, attrs.lastModifiedTime.toMillis)
        }
      val byFile = (fromManifest ++ statted).toMap
      rel.map(f => f -> byFile(f)) // input order, like the statted read
    }
    val planned: Option[DataFrame] = schema.filter(_ => oneLevel).flatMap { sc =>
      if (!restorePartitions)
        Some(GraftSqlBridge.manifestParquetFrame(s, dir, None, sc,
          Seq(("", stat(files).map(_._2)))))
      else {
        val partCol = files.headOption.fold("")(_.takeWhile(_ != '='))
        sc.find(_.name == partCol).map { pf =>
          val dataSchema = org.apache.spark.sql.types.StructType(
            sc.filterNot(_.name == partCol))
          val groups = stat(files).groupBy(_._1.takeWhile(_ != '/'))
            .toSeq.sortBy(_._1)
            .map { case (seg, ms) =>
              (seg.drop(partCol.length + 1), ms.map(_._2)) }
          GraftSqlBridge.manifestParquetFrame(s, dir, Some(pf), dataSchema,
            groups)
        }
      }
    }
    planned.getOrElse {
      // legacy listing read: pre-schema manifests (inference), empty
      // file sets, or layouts outside the one-level partition shape
      val r0 = if (restorePartitions) s.read.option("basePath", dir) else s.read
      schema.foldLeft(r0)(_ schema _).parquet(files.map(f => s"$dir/$f"): _*)
    }
  }

  /** `(file_path, row_index) → was this row DV-deleted`, as a Column
    * function over one broadcast of the affected files' position
    * arrays; None when none of `files` carries a DV (the fast path —
    * no broadcast, no plan change). */
  private def dvDeletedPredicate(s: SparkSession, dir: String, snap: Snapshot,
                                 files: Vector[String])
      : Option[(org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column] = {
    val dvd = files.filter(snap.dvs.contains)
    if (dvd.isEmpty) None
    else {
      val conf = s.sessionState.newHadoopConf()
      val positions: Map[String, Array[Long]] =
        parMapMeta(dvd)(f => f -> DvStore.read(dir, snap.dvs(f).path, conf)).toMap
      val bc = s.sparkContext.broadcast(positions)
      val deleted = udf((path: String, idx: Long) =>
        bc.value.get(relFromUri(path)).exists(DvStore.contains(_, idx)))
      Some((p, i) => deleted(p, i))
    }
  }

  /** Targeted record deletion — the contamination-removal / GDPR
    * primitive (q68/q80 produce decontamination REPORTS; this is the
    * operator that acts on one). Delta's DELETE algorithm over the
    * manifest: one predicate-pushed detection scan tags each matching
    * row with its source file (`input_file_name`), ONLY the affected
    * files are rewritten (keeping rows where the predicate is NOT
    * true — rows where it evaluates NULL are kept, the SQL DELETE
    * rule), and the commit swaps affected → rewritten. Untouched
    * files are untouched bytes — cost ∝ files containing matches,
    * never lake size. Predicates may reference the partition column
    * (rewrites read each file with the partition value restored from
    * its path). Files rewritten to zero rows are dropped from the
    * ledger entirely (checked via footer row counts, no extra data
    * pass). Stats are re-derived for rewrites of uniformly-tracked
    * files; txn high-waters and the committed schema ride through.
    * The commit is tagged `#op:delete`, which [[readChanges]] SKIPS —
    * rewritten survivors are not new rows; consumers that must
    * propagate deletions use the change feed ([[readChangeFeed]];
    * with `enableChangeDataFeed` set, even this COW path records its
    * row-level changes as commit-time sidecars). Concurrent appends rebase fine
    * (set-union keeps them); a concurrent commit that already
    * replaced an affected file (a compaction, or another delete)
    * aborts THIS delete with a named error rather than silently
    * resurrecting rows — re-run it.
    *
    * Returns the number of ROWS deleted (footer counts before minus
    * after — metadata reads, no extra data pass), not files
    * rewritten. */
  def deleteWhere(s: SparkSession, dir: String,
                  predicate: org.apache.spark.sql.Column): Long =
    deleteWhere(s, dir, predicate, None)

  /** `candidatesOf`, when given, bounds the DETECTION scan: applied to
    * the snapshot THIS delete resolves (never a caller's stale one —
    * files appended between table binding and execution must still be
    * detected), it returns the files that can possibly satisfy
    * `predicate` (the SQL surface derives this from the manifest's own
    * pruning rules over the translated filters —
    * [[GraftPrune.survives]] is conservative, so the superset property
    * holds by construction). Detection then opens candidate files
    * only, making a clustered-range delete delta-proportional instead
    * of opening every file in the lake; rewrites were always limited
    * to files with matches. */
  private[core] def deleteWhere(s: SparkSession, dir: String,
                                predicate: org.apache.spark.sql.Column,
                                candidatesOf: Option[Snapshot => Vector[String]]): Long = {
    val root = Paths.get(dir)
    val snap = latestSnapshot(dir).getOrElse(
      throw new IllegalStateException(s"no committed manifest in $dir"))
    val scanFiles = candidatesOf match {
      case Some(f) =>
        val c = f(snap)
        require(c.forall(snap.files.contains),
          "delete candidates must come from the current snapshot")
        c
      case None => selfCandidates(s, snap, predicate).getOrElse(snap.files)
    }
    if (scanFiles.isEmpty) return 0L
    // the predicate is user-facing: evaluate on the LOGICAL view
    // (identity on unmapped lakes); input_file_name rides through
    val affectedAbs = toLogical(snap, lakeFiles(s, dir, snap, scanFiles, snap.schema))
      .filter(predicate)
      .select(input_file_name().as("f"))
      .distinct().collect().map(_.getString(0)).toVector
    if (affectedAbs.isEmpty) return 0L
    val affected = affectedAbs.map(relFromUri)
    require(affected.forall(snap.files.contains),
      s"detection scan returned files outside the snapshot: $affected")

    // CDF-enabled lakes record the commit's change rows directly: the
    // matched rows (the complement of the survivors below, read through
    // the same DV-filtered view) land as a `delete` sidecar in the same
    // CAS commit, so the change feed serves copy-on-write deletes
    // exactly like merge-on-read ones. One extra delta-proportional
    // read of the affected files; nothing when the property is off.
    val cdfStaged: Vector[String] =
      if (!snap.cdfEnabled) Vector.empty
      else {
        // filter on the logical view (user predicate), store PHYSICAL
        // names — sidecars read back under the committed schema
        stageCdfFiles(s, root,
          toPhysical(snap,
            toLogical(snap, lakeFiles(s, dir, snap, affected, snap.schema))
              .filter(coalesce(predicate, lit(false))))
            .withColumn(CdfTypeCol, lit("delete")))
      }

    // rewrite the affected files' survivors in ONE distributed job:
    // keep rows where the predicate is NOT true. !pred alone would
    // DROP rows where pred evaluates NULL (!NULL is NULL, filtered
    // out) — rows that the detection scan never counted as matches;
    // coalesce(pred, false) pins NULL to "not deleted", the SQL DELETE
    // rule (Delta does the same). The affected files are read together
    // with `basePath` so the partition column is restored from their
    // paths — predicates over it resolve — and stageFiles routes
    // survivors back into their partition directories task-per-input-
    // split (no shuffle, clustering preserved). One job beats the
    // previous bounded pool of PER-FILE jobs: at thousands of affected
    // files the pool serializes on driver scheduling (the ×10 probe's
    // super-linear term in merge, same shape here). Partitions whose
    // survivors are empty simply write nothing — emptied files leave
    // the ledger.
    val partitionCol = affected.head.takeWhile(_ != '=')
    // NET rows (footer minus any deletion vector): the rewrite reads
    // through DVs, so "rows deleted by THIS call" must not re-count
    // rows a prior DV delete already removed
    val rowsBefore: Long =
      if (affected.forall(snap.rows.contains)) affected.flatMap(snap.netRows).sum
      else parMapMeta(affected)(f => rowCount(s, root.resolve(f)) -
        snap.dvs.get(f).fold(0L)(_.count)).sum
    val (newFiles, newBuckets): (Vector[String], Map[String, Int]) = {
      val survivors = toPhysical(snap,
        toLogical(snap, lakeFiles(s, dir, snap, affected, snap.schema))
          .filter(!coalesce(predicate, lit(false))))
      stageFiles(s, root, survivors, partitionCol,
        maxRecordsPerFile = 1024 * 1024, Map.empty, snap.declaredBucket)
    }

    val removedSet = affected.toSet
    val uniformCols = affected.map(f =>
        snap.stats.getOrElse(f, Vector.empty).map(_.col).toSet)
      .reduceOption(_ intersect _).getOrElse(Set.empty)
    val (newStats, newRows) =
      footerMetaAll(s, root, newFiles, uniformCols.toSeq.sorted)
    // same uniformity rule for the bloom index: kept rewrites of
    // uniformly-bloomed files re-derive their filters (one narrow scan
    // of the survivors), so a delete never silently erodes point-lookup
    // skipping
    val uniformBloomCols = affected.map(f =>
        snap.blooms.getOrElse(f, Vector.empty).map(_.col).toSet)
      .reduceOption(_ intersect _).getOrElse(Set.empty)
    val newBlooms = buildBlooms(s, dir, newFiles, uniformBloomCols.toSeq.sorted)
    commitLoop(root) {
      case None => throw new IllegalStateException(s"manifest vanished from $dir")
      case Some(latest) =>
        if (!removedSet.forall(latest.files.contains))
          throw new IllegalStateException(
            "a concurrent commit replaced files this delete rewrote — " +
              "re-run deleteWhere against the new snapshot")
        Some(Ledger(latest.files.filterNot(removedSet.contains) ++ newFiles,
          latest.txns, latest.stats -- removedSet ++ newStats, "delete",
          latest.schema,
          latest.blooms -- removedSet ++ newBlooms,
          latest.rows -- removedSet ++ newRows,
          buckets = newBuckets, cdf = cdfStaged))
    }
    // deleted = affected rows before minus survivor rows after, both
    // from metadata (manifest rows: / the commit's own footer pass)
    rowsBefore - newRows.values.sum
  }

  /** Self-derived detection candidates for a Scala-API / CALL DML
    * predicate: resolve it against the committed schema (analysis on
    * an empty frame — no data touched), translate its prunable
    * conjuncts ([[GraftPrune.filtersOf]]), and keep only files the
    * manifest says can hold a match. The SQL DML paths get this
    * pruning from Spark's own filter translation; this gives the
    * direct APIs the same bound, so a clustered-range DV delete on a
    * million-file lake opens the overlapping files, not all of them.
    * None = no pruning possible (legacy lake without a `#schema`
    * header, a predicate that doesn't resolve against it, or no
    * prunable conjunct) — caller falls back to the full file list,
    * which is conservative, never wrong. */
  private[core] def selfCandidates(s: SparkSession, snap: Snapshot,
                                   predicate: org.apache.spark.sql.Column): Option[Vector[String]] = {
    val schema = snap.schema.getOrElse(return None)
    val cond =
      try s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        .filter(predicate).queryExecution.analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
        }
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    cond.flatMap { c =>
      val fs = GraftPrune.filtersOf(c)
      if (fs.isEmpty) None
      else {
        val pcol = snap.files.headOption.map(_.takeWhile(_ != '='))
          .filter(schema.fieldNames.contains)
        Some(snap.files.filter(f => fs.forall(GraftPrune.survives(snap, pcol, f, _))))
      }
    }
  }

  /** Cluster matched `(f: file, i: row_index)` pairs per FILE (a
    * shuffle of the matches only, never the corpus) and write each
    * file's position sidecar — unioned with any existing one — from
    * its executor task: delete-proportional parallelism, the driver
    * only collects the `(file, sidecarPath, unionCount)` manifest
    * entries. Shared by [[deleteWhereDv]] and [[updateWhereDv]]. */
  /** Key-tuple identity and counting for [[sampleKeyTuples]]: a
    * standalone serializable object, so the executor closure captures
    * nothing of the lake. */
  private object KeyTuples extends Serializable {
    type Counts = java.util.HashMap[java.util.List[AnyRef], (org.apache.spark.sql.Row, Long)]

    /** A key value's identity under Spark's grouping rules, so a
      * driver sample dedupes exactly as `groupBy` does: `-0.0` groups
      * with `0.0`, every NaN groups together (boxed `equals` compares
      * canonical bits), NULLs group together, binary compares by
      * content. */
    def value(v: Any): AnyRef = v match {
      case d: java.lang.Double => java.lang.Double.valueOf(d + 0.0)
      case f: java.lang.Float  => java.lang.Float.valueOf(f + 0.0f)
      case b: Array[Byte]      => scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
      case o                   => o.asInstanceOf[AnyRef]
    }

    def add(m: Counts, r: org.apache.spark.sql.Row, n: Long): Unit =
      m.merge(java.util.Arrays.asList(r.toSeq.map(value): _*), (r, n),
        (a, b) => (a._1, a._2 + b._2))
  }

  /** Driver sample of `keys`' DISTINCT row tuples, each with its row
    * count, in ONE job and no shuffle: per-partition capped hash maps,
    * merged on the driver. `Some` is the COMPLETE tuple set (NULLs
    * included); `None` means more than `cap` distinct tuples — fall
    * back to a grouped aggregate, envelope pruning and a distributed
    * semi-join. Replaces the grouped `.limit(cap+1).collect()` shape,
    * whose CollectLimit scales up across several jobs and whose
    * grouping pays a shuffle. Overflow detection is sound: a partition
    * that truncates has already gathered cap+1 tuples, so the driver
    * union crosses `cap` whenever any tuple was dropped. */
  private def sampleKeyTuples(keys: DataFrame, cap: Int)
      : Option[IndexedSeq[(org.apache.spark.sql.Row, Long)]] = {
    val kt = KeyTuples
    val n = keys.schema.length
    // a Dataset action, not an RDD job: an observed key frame (the
    // view maintainers' high-water) reports its metric on this pass
    val parts = keys.mapPartitions { it =>
      val m = new kt.Counts()
      while (it.hasNext && m.size <= cap) kt.add(m, it.next(), 1L)
      m.values.iterator.asScala.map { case (r, c) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ c) }
    }(org.apache.spark.sql.Encoders.row(
      keys.schema.add("__graft_key_n", org.apache.spark.sql.types.LongType))).collect()
    val all = new KeyTuples.Counts()
    parts.foreach(r => KeyTuples.add(all,
      org.apache.spark.sql.Row.fromSeq(r.toSeq.take(n)), r.getLong(n)))
    if (all.size > cap) None else Some(all.values.asScala.toIndexedSeq)
  }

  /** The most distinct keys a keyed write or view maintainer samples to
    * the driver — bounded driver state, not corpus-proportional. */
  private val MaxDriverKeys = 100000

  /** What [[planKeys]] learned about a keyed write's key frame.
    * `sample` is the complete set of key tuples that can match a lake
    * row under the caller's NULL rule (None past the driver cap);
    * `rows` and `duplicated` describe the whole frame (its row count,
    * and whether any tuple occurs twice); `candidates` are the files
    * that can hold a matching row. */
  private[core] final case class KeyPlan(
      sample: Option[IndexedSeq[org.apache.spark.sql.Row]], rows: Long,
      duplicated: Boolean, candidates: Vector[String])

  /** Test seam: while set on the calling thread, [[planKeys]] keeps
    * every file as a candidate — the unpruned reference its specs
    * compare keyed writes against. */
  private[core] val keyPlanUnpruned = new scala.util.DynamicVariable[Boolean](false)

  /** The one key planner under every keyed write ([[merge]],
    * [[deleteKeysDv]], [[replaceKeysBatch]]). One no-shuffle job
    * ([[sampleKeyTuples]]) counts the key tuples; a complete sample
    * (≤ `cap` tuples) prunes per file by the EXACT value set of every
    * key column the lake tracks (stats, bloom or partition directory,
    * [[pruneFilesForKeys]]) and keeps the intersection: a file can
    * hold a matching row only if it passes every column's test. Past
    * the cap, one grouped aggregate yields the duplicate gate, the
    * row total and each tracked column's min/max envelope. Files
    * without metadata on a column are kept by that column's test.
    *
    * `nullSafe` is the caller's match rule: SQL equality (false) never
    * matches a NULL component, so such tuples leave the sample;
    * null-safe matching (true) keeps them, and a column whose keys
    * include NULL keeps every file (min/max stats exclude nulls). */
  private[core] def planKeys(snap: Snapshot, keys: DataFrame,
                             keyCols: Seq[String], nullSafe: Boolean,
                             cap: Int = MaxDriverKeys): KeyPlan = {
    val tracked = keyCols.filter(k =>
      snap.stats.valuesIterator.flatten.exists(_.col == k) ||
        snap.blooms.valuesIterator.flatten.exists(_.col == k) ||
        partitionColOf(snap).contains(k))
    def intersect(keep: Seq[Vector[String]]): Vector[String] =
      if (keyPlanUnpruned.value) snap.files
      else keep.map(_.toSet).foldLeft(snap.files)((fs, k) => fs.filter(k))
    val keyFrame = keys.select(keyCols.map(col): _*)
    sampleKeyTuples(keyFrame, cap) match {
      case Some(counted) =>
        val tuples = counted.map(_._1).filter(r =>
          nullSafe || !(0 until r.length).exists(r.isNullAt))
        val candidates = intersect(
          if (tuples.isEmpty) Seq(Vector.empty)
          else tracked.map { k =>
            val i = keyCols.indexOf(k)
            pruneFilesForKeys(snap, k,
              tuples.map(_.get(i)).distinctBy(KeyTuples.value))
          })
        KeyPlan(Some(tuples), counted.map(_._2).sum, counted.exists(_._2 > 1L),
          candidates)
      case None =>
        val grouped = keyFrame.groupBy(keyCols.map(col): _*)
          .agg(count(lit(1)).as("__graft_key_n"))
        val aggs = Seq(max(col("__graft_key_n")), sum(col("__graft_key_n"))) ++
          tracked.flatMap(k => Seq(min(col(k)), max(col(k)), max(col(k).isNull)))
        val st = grouped.agg(aggs.head, aggs.tail: _*).head()
        val candidates = intersect(tracked.zipWithIndex.map { case (k, j) =>
          val (lo, hi) = (st.get(2 + 3 * j), st.get(3 + 3 * j))
          (lo, hi) match {
            case _ if nullSafe && st.getBoolean(4 + 3 * j) => snap.files
            case (a: String, b: String) => pruneFilesString(snap, k, a, b)
            case _ => (numBound(lo), numBound(hi)) match {
              case (Some(a), Some(b)) => pruneFiles(snap, k, a, b)
              case _                  => snap.files
            }
          }
        })
        KeyPlan(None, st.getLong(1), st.getLong(0) > 1L, candidates)
    }
  }

  /** A numeric key value as an exact bound; None for NULL, NaN,
    * infinities and non-numbers (pruning then keeps the file). */
  private def numBound(v: Any): Option[BigDecimal] = v match {
    case d: java.lang.Double if d.isNaN || d.isInfinite => None
    case f: java.lang.Float if f.isNaN || f.isInfinite  => None
    case n: java.lang.Number => Some(BigDecimal(n.toString))
    case _                   => None
  }

  /** One column's distinct values ([[sampleKeyTuples]]' one-job shape)
    * plus the window's max `verCol` in the SAME
    * no-shuffle job — the join-view maintainer's file-prune sample and
    * its registry high-water from one pass, so the fast (`isin`)
    * detection path never waits on an observed metric that no action
    * over the batch fired (the [[observedHighWater]] await would eat
    * its 2 s timeout per micro-batch otherwise). Null keys are skipped
    * (the fact fetch joins with plain equality); the high-water maxes
    * over ALL rows, null-keyed included. */
  private def sampleKeysAndHw(df: DataFrame, k: String, verCol: String,
                              cap: Int)
      : (Option[IndexedSeq[Any]], Option[Long]) = {
    val parts = df.select(col(k), col(verCol)).rdd.mapPartitions { it =>
      val set = scala.collection.mutable.HashSet.empty[Any]
      var hw = Long.MinValue
      var hasHw = false
      while (it.hasNext) {
        val r = it.next()
        if (!r.isNullAt(1)) {
          val v = r.getLong(1)
          if (!hasHw || v > hw) { hw = v; hasHw = true }
        }
        val key = r.get(0)
        if (key != null && set.size <= cap) set += key
      }
      val hwOpt: Option[Long] = if (hasHw) Some(hw) else None
      Iterator.single((set.toArray, hwOpt))
    }.collect()
    val all = parts.iterator.flatMap(_._1).toSet
    val hw: Option[Long] =
      parts.iterator.flatMap(_._2).reduceOption((a, b) => math.max(a, b))
    (if (all.size > cap) None else Some(all.toIndexedSeq), hw)
  }

  /** Whether `isin` over these driver values is safe and cheap: every
    * value a plain literal type, and few enough that the expression
    * tree stays small (the optimizer folds >10 values to an InSet, and
    * an In over the scan column additionally PUSHES DOWN to parquet —
    * something the semi-join shape it replaces never could). */
  private val IsinLiteralMax = 10000
  private def isinSafe(vals: Seq[Any]): Boolean =
    vals.length <= IsinLiteralMax && vals.forall {
      case null => true
      // `isin` and its parquet pushdown may compare floats bitwise,
      // where the semi-join equates -0.0 with 0.0
      case _: java.lang.Double | _: java.lang.Float => false
      case _: String | _: java.lang.Number | _: java.lang.Boolean |
           _: java.sql.Date | _: java.sql.Timestamp => true
      case _ => false
    }

  private def writeDvSidecars(s: SparkSession, dir: String, snap: Snapshot,
                              matched: DataFrame): Array[(String, String, Long)] = {
    val dirStr = dir
    val priors: Map[String, String] = snap.dvs.map { case (f, d) => f -> d.path }
    val priorBc = s.sparkContext.broadcast(priors)
    val confBc = s.sparkContext.broadcast(new org.apache.spark.util.SerializableConfiguration(
      s.sessionState.newHadoopConf()))
    import s.implicits._
    matched.as[(String, Long)]
      .repartition(col("f")).sortWithinPartitions(col("f"), col("i"))
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var cur: String = null
        var buf = scala.collection.mutable.ArrayBuilder.make[Long]
        def flush(): Unit = if (cur != null) {
          val fresh = buf.result()
          val all = priorBc.value.get(cur) match {
            case Some(rel) =>
              DvStore.union(DvStore.read(dirStr, rel, confBc.value.value), fresh)
            case None => fresh
          }
          val dv = DvStore.write(dirStr, all, confBc.value.value)
          out += ((cur, dv.path, dv.count))
        }
        it.foreach { case (f, i) =>
          if (f != cur) { flush(); cur = f; buf = scala.collection.mutable.ArrayBuilder.make[Long] }
          buf += i
        }
        flush()
        out.iterator
      }.collect()
  }

  /** The detection half of every DV write: scan `files` with their
    * existing deletion vectors applied (an already-deleted row can't
    * be deleted again), keep the rows `hits` selects, and write their
    * position sidecars ([[writeDvSidecars]]). No files, no scan. */
  private def dvSidecarsOf(s: SparkSession, dir: String, snap: Snapshot,
                           files: Vector[String])(hits: DataFrame => DataFrame)
      : Array[(String, String, Long)] =
    if (files.isEmpty) Array.empty
    else {
      val raw = manifestScan(s, dir, files, snap.schema,
          restorePartitions = true, snap.sizes)
        .withColumn("__graft_dv_path", col("_metadata.file_path"))
        .withColumn("__graft_dv_idx", col("_metadata.row_index"))
      val alive = dvDeletedPredicate(s, dir, snap, files).fold(raw)(deleted =>
        raw.filter(!deleted(col("__graft_dv_path"), col("__graft_dv_idx"))))
      val relOf = udf((p: String) => relFromUri(p))
      writeDvSidecars(s, dir, snap, hits(alive)
        .select(relOf(col("__graft_dv_path")).as("f"), col("__graft_dv_idx").as("i")))
    }

  /** Merge-on-read targeted deletion — [[deleteWhere]]'s DELETION
    * VECTOR twin (Delta DVs / Iceberg position deletes). Where the
    * copy-on-write delete rewrites every file containing a match —
    * cost ∝ the BYTES of affected files — this commit writes one
    * position sidecar per affected file and attaches `dv:` entries to
    * the manifest: cost ∝ the DELETED ROWS. At 100 TB that is the
    * difference between a 0.1 % GDPR sweep rewriting most of the lake
    * and a metadata-sized commit. The trade is a read-side filter on
    * DV'd files until the next rewrite touches them — compaction is
    * the purge path (it reads through DVs and drops them), so the tax
    * is transient by the lake's own maintenance cycle.
    *
    * Mechanics: one detection pass over the candidate files (existing
    * DVs applied — an already-deleted row can't be deleted again)
    * evaluates the predicate under the SQL DELETE rule and emits
    * `(file, row_index)` via the file source's metadata columns;
    * positions cluster per file (a repartition of the MATCHES, never
    * the corpus), each file's task unions them with the file's
    * existing sidecar and writes ONE new immutable sidecar from the
    * executor; the commit swaps the `dv:` entries in a CAS retry
    * loop. Data files never move; stats/blooms stay valid because
    * they are conservative over supersets. Concurrent appends rebase
    * by set-union; a racing commit that rewrote an affected file, or
    * a racing DV delete on the SAME file, aborts loudly (its sidecar
    * union would be stale) — re-run. Like the COW delete, the commit
    * (`#op:delete-dv`) is invisible to CDC/streams.
    *
    * Returns the number of rows newly deleted. */
  def deleteWhereDv(s: SparkSession, dir: String,
                    predicate: org.apache.spark.sql.Column): Long =
    deleteWhereDv(s, dir, predicate, None)

  /** `candidatesOf` bounds the detection scan, as for [[deleteWhere]]. */
  private[core] def deleteWhereDv(s: SparkSession, dir: String,
                                  predicate: org.apache.spark.sql.Column,
                                  candidatesOf: Option[Snapshot => Vector[String]]): Long = {
    val root = Paths.get(dir)
    val snap = latestSnapshot(dir).getOrElse(
      throw new IllegalStateException(s"no committed manifest in $dir"))
    val scanFiles = candidatesOf match {
      case Some(f) =>
        val c = f(snap)
        require(c.forall(snap.files.contains),
          "delete candidates must come from the current snapshot")
        c
      case None => selfCandidates(s, snap, predicate).getOrElse(snap.files)
    }
    // SQL DELETE rule: NULL predicate = not deleted (coalesce false).
    // The predicate is user-facing — evaluate it on the LOGICAL view
    // (toLogical keeps the __graft position columns, which are not
    // mapped); positions are physical either way.
    val updates = dvSidecarsOf(s, dir, snap, scanFiles)(alive =>
      toLogical(snap, alive).filter(coalesce(predicate, lit(false))))
    if (updates.isEmpty) return 0L
    require(updates.forall(u => snap.files.contains(u._1)),
      s"detection scan returned files outside the snapshot: ${updates.map(_._1).take(3).toSeq}")

    val touched = updates.map(_._1).toSet
    commitLoop(root) {
      case None => throw new IllegalStateException(s"manifest vanished from $dir")
      case Some(latest) =>
        if (!touched.forall(latest.files.contains))
          throw new IllegalStateException(
            "a concurrent commit replaced files this DV delete targeted — " +
              "re-run deleteWhereDv against the new snapshot")
        // a racing DV delete on the same file would have its positions
        // silently dropped by our union-against-snap sidecar — abort
        touched.foreach { f =>
          if (latest.dvs.get(f) != snap.dvs.get(f))
            throw new IllegalStateException(
              "a concurrent DV delete touched the same files — " +
                "re-run deleteWhereDv against the new snapshot")
        }
        Some(Ledger(latest.files, latest.txns, latest.stats, "delete-dv",
          latest.schema, latest.blooms, latest.rows,
          dvs = Some(latest.dvs ++ updates.map { case (f, rel, c) =>
            f -> DvStore.Dv(rel, c) })))
    }
    // newly deleted = union size minus what the file's prior DV held
    updates.map { case (f, _, c) => c - snap.dvs.get(f).fold(0L)(_.count) }.sum
  }

  /** Keyed merge-on-read DELETE — [[deleteWhereDv]] driven by a KEY
    * FRAME instead of a predicate: the GDPR / incremental-maintenance
    * shape ("delete exactly these ids"). Candidates come from the shared key planner ([[planKeys]], as
    * in [[merge]]): one no-shuffle job samples the key tuples (bounded
    * at 100 k — bounded driver state, not corpus-proportional), and
    * the candidate files are those that pass the exact value set of
    * every key column the lake tracks; past the cap, min/max envelopes
    * stand in. Keys match by SQL equality, so a tuple with a NULL
    * component deletes nothing. Detection is an `isin` filter pushed
    * into the candidate scan for a small single-column sample (at most
    * [[IsinLiteralMax]] values, so the expression tree stays small),
    * else a LEFT SEMI join against the keys (the sampled tuples, or
    * the key frame past the cap). Cost ∝ files holding matches +
    * deleted-row varints.
    * Commit/race semantics are [[deleteWhereDv]]'s verbatim: sidecar
    * union, set-union rebase over appends, loud abort when a racing
    * commit replaced or re-vectored a touched file. */
  def deleteKeysDv(s: SparkSession, dir: String, keys: DataFrame,
                   keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "keyed delete needs at least one key column")
    latestSnapshot(dir).filter(_.mappingActive).foreach { sn =>
      // column mapping: translate at the boundary, exactly [[append]]
      return deleteKeysDv0(s, dir, toPhysical(sn, keys),
        keyCols.map(physicalColName(sn, _)))
    }
    deleteKeysDv0(s, dir, keys, keyCols)
  }

  private def deleteKeysDv0(s: SparkSession, dir: String, keys: DataFrame,
                   keyCols: Seq[String]): Long = {
    val root = Paths.get(dir)
    val snap = latestSnapshot(dir).getOrElse(
      throw new IllegalStateException(s"no committed manifest in $dir"))
    snap.schema.foreach { sc =>
      val missing = keyCols.filterNot(sc.fieldNames.contains)
      require(missing.isEmpty,
        s"key columns ${missing.mkString(",")} not in the lake schema")
    }
    val plan = planKeys(snap, keys, keyCols, nullSafe = false)
    val updates = dvSidecarsOf(s, dir, snap, plan.candidates) { alive =>
      plan.sample match {
        case Some(tuples) if keyCols.length == 1 && isinSafe(tuples.map(_.get(0))) =>
          alive.filter(col(keyCols.head).isin(tuples.map(_.get(0)): _*))
        case _ => alive.join(keyRows(s, keys, keyCols, plan), keyCols, "left_semi")
      }
    }
    if (updates.isEmpty) return 0L
    require(updates.forall(u => snap.files.contains(u._1)),
      s"detection scan returned files outside the snapshot: ${updates.map(_._1).take(3).toSeq}")
    val touched = updates.map(_._1).toSet
    commitLoop(root) {
      case None => throw new IllegalStateException(s"manifest vanished from $dir")
      case Some(latest) =>
        if (!touched.forall(latest.files.contains))
          throw new IllegalStateException(
            "a concurrent commit replaced files this DV delete targeted — " +
              "re-run deleteKeysDv against the new snapshot")
        touched.foreach { f =>
          if (latest.dvs.get(f) != snap.dvs.get(f))
            throw new IllegalStateException(
              "a concurrent DV delete touched the same files — " +
                "re-run deleteKeysDv against the new snapshot")
        }
        Some(Ledger(latest.files, latest.txns, latest.stats, "delete-dv",
          latest.schema, latest.blooms, latest.rows,
          dvs = Some(latest.dvs ++ updates.map { case (f, rel, c) =>
            f -> DvStore.Dv(rel, c) })))
    }
    updates.map { case (f, _, c) => c - snap.dvs.get(f).fold(0L)(_.count) }.sum
  }

  /** The key rows a keyed write's detection joins against: the
    * planner's complete sample as a driver-local relation (no second
    * evaluation of `keys`), else the key frame itself. */
  private def keyRows(s: SparkSession, keys: DataFrame, keyCols: Seq[String],
                      plan: KeyPlan): DataFrame = {
    val frame = keys.select(keyCols.map(col): _*)
    plan.sample.fold(frame)(t => s.createDataFrame(t.asJava, frame.schema))
  }

  /** Merge-on-read targeted UPDATE — [[deleteWhereDv]]'s update twin
    * (Delta's DV-enabled UPDATE): matched rows are DV-deleted in place
    * and their updated images appended as fresh files, in ONE atomic
    * commit — cost ∝ MATCHED ROWS (position varints + the rewritten
    * rows' bytes), never the bytes of affected files. The copy-on-write
    * SQL UPDATE rewrites every file containing a match; at 100 TB a
    * 0.01 % scattered update touches most files, so COW rewrites most
    * of the lake while this commit stays delta-sized. The read-side
    * tax and purge path are [[deleteWhereDv]]'s: affected files filter
    * positions until compaction reads through the DVs and re-packs.
    *
    * An assignment may change the PARTITION column — updated images
    * are staged through the same routing as appends, so rows move to
    * their new partition directories (COW UPDATE does the same). The
    * lake's declared bucket layout is preserved on the new files, and
    * they carry stats/blooms for every column ALL current files track,
    * so data skipping never erodes. Type flips are refused by name
    * (the [[evolveSchema]] rule). Old files' stats stay valid: a DV
    * only narrows a file's content, and min/max are conservative over
    * supersets. Like the COW update, the commit (`#op:update-dv`) is
    * CDC-invisible.
    *
    * Race rules are [[deleteWhereDv]]'s: concurrent appends rebase by
    * set-union; a commit that replaced an affected file, or a racing
    * DV write on the same file, aborts loudly — re-run.
    *
    * The predicate must be DETERMINISTIC (the SQL UPDATE rule): the
    * matched set feeds two actions (position sidecars, then image
    * staging) through a persisted frame, and a lost cache partition
    * re-evaluates the filter — a `rand()`-shaped predicate could then
    * desynchronize deletes from images.
    *
    * Returns the number of rows updated. */
  def updateWhereDv(s: SparkSession, dir: String,
                    predicate: org.apache.spark.sql.Column,
                    assignments: Seq[(String, org.apache.spark.sql.Column)]): Long = {
    require(assignments.nonEmpty, "UPDATE needs at least one SET assignment")
    val root = Paths.get(dir)
    val snap = latestSnapshot(dir).getOrElse(
      throw new IllegalStateException(s"no committed manifest in $dir"))
    // ENFORCE the determinism contract documented above (Spark's own
    // DML rule): the matched frame feeds two actions, and a lost cache
    // partition re-evaluates the filter — a rand()-shaped predicate or
    // assignment could silently desynchronize the position sidecars
    // from the appended images. Checked by analyzing against an empty
    // frame of the committed schema (analysis only, no data touched);
    // an expression that doesn't resolve here is left for the real
    // read to reject.
    // predicate/assignments are user-facing — analyze them against the
    // LOGICAL schema (≡ committed schema on unmapped lakes)
    snap.logicalSchema.foreach { sc =>
      val empty = s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), sc)
      def requireDet(c: org.apache.spark.sql.Column, what: String): Unit = {
        val det =
          try empty.select(c.as("__graft_det")).queryExecution.analyzed
            .expressions.forall(_.deterministic)
          catch { case _: org.apache.spark.sql.AnalysisException => true }
        require(det, s"$what must be deterministic, got: $c")
      }
      requireDet(predicate, "UPDATE predicate")
      assignments.foreach { case (c, e) => requireDet(e, s"UPDATE SET '$c'") }
    }
    val scanFiles = selfCandidates(s, snap, predicate).getOrElse(snap.files)
    if (scanFiles.isEmpty) return 0L
    val raw = manifestScan(s, dir, scanFiles, snap.schema,
        restorePartitions = true, snap.sizes)
      .withColumn("__graft_dv_path", col("_metadata.file_path"))
      .withColumn("__graft_dv_idx", col("_metadata.row_index"))
    val alive = dvDeletedPredicate(s, dir, snap, scanFiles).fold(raw)(deleted =>
      raw.filter(!deleted(col("__graft_dv_path"), col("__graft_dv_idx"))))
    val relOf = udf((p: String) => relFromUri(p))
    // matched rows feed BOTH legs (positions -> sidecars, images ->
    // new files); persist so detection scans the candidates once.
    // The frame is LOGICALIZED first: predicate and assignments are
    // user-facing; the image converts back to physical before staging.
    val matchedRows = toLogical(snap, alive)
      .filter(coalesce(predicate, lit(false)))
      .withColumn("__graft_dv_f", relOf(col("__graft_dv_path")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val updates = writeDvSidecars(s, dir, snap, matchedRows
        .select(col("__graft_dv_f").as("f"), col("__graft_dv_idx").as("i")))
      if (updates.isEmpty) return 0L
      require(updates.forall(u => snap.files.contains(u._1)),
        s"detection scan returned files outside the snapshot: ${updates.map(_._1).take(3).toSeq}")

      // image built on the LOGICAL view (assignment names/exprs are
      // user-facing), converted back to PHYSICAL for staging
      val dataCols = matchedRows.columns.filterNot(_.startsWith("__graft_dv_"))
      val updatedImage = toPhysical(snap, assignments.foldLeft(
        matchedRows.select(dataCols.toIndexedSeq.map(col): _*)) {
        case (df, (c, e)) =>
          require(dataCols.contains(c), s"UPDATE SET targets unknown column '$c'")
          df.withColumn(c, e)
      })
      // a type flip would silently corrupt every older file's
      // interpretation under the committed schema — refuse by name
      val origTypes = raw.schema.fields.map(f => f.name -> f.dataType).toMap
      updatedImage.schema.fields.foreach { f =>
        origTypes.get(f.name).filter(_ != f.dataType).foreach { dt =>
          throw new IllegalStateException(
            s"UPDATE SET type flip on '${snap.logicalName(f.name)}': committed " +
              s"${dt.simpleString}, assigned ${f.dataType.simpleString}")
        }
      }
      val partitionCol = snap.declaredPartitionCol.getOrElse(
        updates.head._1.takeWhile(_ != '='))
      // new files track every column ALL current files track (plus the
      // declared layout, which effectiveness inherits via declaredX):
      // an update can never erode the lake's index
      val uniformStats = snap.files
        .map(f => snap.stats.getOrElse(f, Vector.empty).map(_.col).toSet)
        .reduceOption(_ intersect _).getOrElse(Set.empty[String]).toSeq.sorted
      val uniformBlooms = snap.files
        .map(f => snap.blooms.getOrElse(f, Vector.empty).map(_.col).toSet)
        .reduceOption(_ intersect _).getOrElse(Set.empty[String]).toSeq.sorted
      val (staged, stagedBuckets) = stageFiles(s, root,
        withCheckConstraints(updatedImage, snap.constraints, snap.renames), partitionCol,
        maxRecordsPerFile = 1024 * 1024, Map.empty, snap.declaredBucket)
      val (stagedStats, stagedRows) = footerMetaAll(s, root, staged, uniformStats)
      val stagedBlooms = buildBlooms(s, dir, staged, uniformBlooms, stagedRows)

      val touched = updates.map(_._1).toSet
      commitLoop(root) {
        case None => throw new IllegalStateException(s"manifest vanished from $dir")
        case Some(latest) =>
          if (!touched.forall(latest.files.contains))
            throw new IllegalStateException(
              "a concurrent commit replaced files this DV update targeted — " +
                "re-run updateWhereDv against the new snapshot")
          touched.foreach { f =>
            if (latest.dvs.get(f) != snap.dvs.get(f))
              throw new IllegalStateException(
                "a concurrent DV write touched the same files — " +
                  "re-run updateWhereDv against the new snapshot")
          }
          Some(Ledger(latest.files ++ staged, latest.txns,
            latest.stats ++ stagedStats, "update-dv", latest.schema,
            latest.blooms ++ stagedBlooms, latest.rows ++ stagedRows,
            buckets = stagedBuckets,
            dvs = Some(latest.dvs ++ updates.map { case (f, rel, c) =>
              f -> DvStore.Dv(rel, c) })))
      }
      // rows updated = positions newly added across the sidecars
      updates.map { case (f, _, c) => c - snap.dvs.get(f).fold(0L)(_.count) }.sum
    } finally { matchedRows.unpersist(); () }
  }

  /** Parquet footer row count — metadata only. */
  private def rowCount(s: SparkSession, file: Path): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toString),
      s.sessionState.newHadoopConf()))
    try reader.getRecordCount finally reader.close()
  }

  /** Incremental/CDC read off the manifest log: the rows ADDED by
    * append/batch commits in version range (`fromExclusive`,
    * `toInclusive`] — the primitive an incremental consumer (delta
    * re-export, downstream sync) reads instead of diffing data. The
    * log makes it a metadata operation: each commit's added files are
    * `files(v) − files(v−1)`, and COMPACTION commits are skipped
    * entirely (they rewrite bytes, not content — a CDC reader that
    * re-emitted compacted rows would double-count every record the
    * optimizer touched). Cost scales with the delta, never the lake.
    * Requires the range's manifests to still exist (vacuum retires
    * them past the grace window — run CDC inside it, or raise
    * `keepVersions`). */
  def readChanges(s: SparkSession, dir: String,
                  fromExclusive: Long, toInclusive: Long): DataFrame = {
    val added = changedFiles(dir, fromExclusive, toInclusive)
    def snap(v: Long): Snapshot = snapshotAt(dir, v).getOrElse(
      throw new IllegalStateException(s"manifest v$v of $dir is missing"))
    if (added.isEmpty) read(s, dir).filter(lit(false))
    else {
      // read under the window-end's committed schema so deltas spanning
      // a column addition present uniformly (older files null-fill);
      // the window-end snapshot's column mapping applies, like read().
      // Sizes merge across the window's snapshots (cached parses): a
      // file added mid-window and removed by the end still plans from
      // the manifest that committed it.
      val end = snap(toInclusive)
      val sizes = ((math.max(fromExclusive, 1L)) to toInclusive)
        .foldLeft(Map.empty[String, FileSize])(_ ++ snap(_).sizes)
      toLogical(end, manifestScan(s, dir, added,
        end.schema, restorePartitions = true, sizes))
    }
  }

  /** Change DATA feed — Delta's `readChangeFeed`, for the commits
    * whose row-level change record the lake ALREADY HAS exactly, so no
    * commit-time change files are ever written:
    *  - append/batch commits emit their added files' rows as `insert`;
    *  - `delete-dv` commits emit the newly-vectored rows as `delete`
    *    (the sidecar DIFF between the commit and its parent IS the
    *    delete record — positions are exact, the rows still sit in the
    *    un-moved data files until vacuum);
    *  - `update-dv` commits emit the vectored rows as
    *    `update_preimage` and their appended images as
    *    `update_postimage`;
    *  - compaction / rebucket / metadata commits emit nothing (no
    *    logical row changed);
    *  - on a lake with `enableChangeDataFeed=true`, copy-on-write
    *    delete/update/merge commits serve the `_cdf/` change sidecars
    *    they wrote at commit time (exact multiset diff for the SQL
    *    ReplaceData paths, directly-recorded matched rows for the
    *    Scala DML — see [[cdfDiff]] for the labeling rules);
    *  - on a CDF-enabled lake, a `restore` committed through the
    *    SparkSession [[restore]] overload serves its sidecars too —
    *    the snapshot multiset diff ([[cdfRestoreDiff]]), so feeds and
    *    CDF streams ride THROUGH a restore;
    *  - a copy-on-write delete/update/merge or restore WITHOUT the
    *    property REFUSES loudly: no row-level record exists, and
    *    reconstructing one after the fact from removed-vs-added
    *    file diffs would need the pre-rewrite files, which vacuum may
    *    have reclaimed. Declare `write.delete.mode=merge-on-read`, use
    *    the DV DML, or set `enableChangeDataFeed=true` before
    *    mutating.
    * Output columns: the lake's (window-end schema, older files
    * null-fill) + `_change_type` + `_commit_version` +
    * `_commit_timestamp` (the commit's `#ts:` wall time; null only on
    * pre-ts manifests). Cost ∝ changed rows: sidecar diffs are
    * driver-side byte-sized reads, position filtering broadcasts only
    * the diff, and only files holding changes are opened. Requires the
    * window's manifests (and for preimages, the pre-rewrite data
    * files) to still exist — run CDF inside the retention window,
    * exactly like [[readChanges]]. */
  def readChangeFeed(s: SparkSession, dir: String,
                     fromExclusive: Long, toInclusive: Long): DataFrame = {
    require(fromExclusive <= toInclusive,
      s"bad version range ($fromExclusive, $toInclusive]")
    def snap(v: Long): Snapshot = snapshotAt(dir, v).getOrElse(
      throw new IllegalStateException(
        s"manifest v$v of $dir is missing (retired by vacuum?) — " +
          "the change feed must run inside the retention window"))
    val endSchema = snap(toInclusive).schema
    // per-file sizes merged across the WINDOW's snapshots (the parses
    // are cached — the legs loop below walks the same versions): a
    // preimage leg reads files the end snapshot no longer lists, so
    // the end snapshot's sizes alone would under-cover
    val windowSizes: Map[String, FileSize] =
      ((math.max(fromExclusive, 1L)) to toInclusive)
        .foldLeft(Map.empty[String, FileSize])(_ ++ snap(_).sizes)
    // present the COMMITTED column order (basePath restores the
    // partition column, but parquet appends it last) — the same order
    // the DSv2 change-feed table declares, so the two faces agree
    // column-for-column, not just row-for-row
    def rawOf(files: Vector[String]): DataFrame =
      manifestScan(s, dir, files, endSchema, restorePartitions = true,
        windowSizes)
    def ordered(df: DataFrame): DataFrame =
      endSchema.fold(df)(sc => df.select(sc.fieldNames.toIndexedSeq.map(col): _*))
    def rowsOf(files: Vector[String]): DataFrame = ordered(rawOf(files))
    val conf = s.sessionState.newHadoopConf()
    def rowsAt(positions: Map[String, Array[Long]]): DataFrame = {
      val bc = s.sparkContext.broadcast(positions)
      val hit = udf((p: String, i: Long) =>
        bc.value.get(relFromUri(p)).exists(DvStore.contains(_, i)))
      // _metadata must be referenced on the file-source relation
      // directly (a projection would sever it) — order AFTER filtering
      ordered(rawOf(positions.keys.toVector.sorted)
        .withColumn("__graft_cdf_p", col("_metadata.file_path"))
        .withColumn("__graft_cdf_i", col("_metadata.row_index"))
        .filter(hit(col("__graft_cdf_p"), col("__graft_cdf_i")))
        .drop("__graft_cdf_p", "__graft_cdf_i"))
    }
    // WHAT changed per commit is [[GraftCdf.legsOf]]'s single dispatch
    // — shared with the DSv2 batch and streaming change-feed faces, so
    // the three materializations can never disagree on the rows
    // commit-time sidecars (`_cdf/`, CDF-enabled COW DML) carry the
    // change type as a STORED column and the partition column as plain
    // data — read them under the window-end schema so post-window ADD
    // COLUMNS null-fill like every other leg
    def cdcRowsOf(files: Vector[String]): DataFrame = {
      val sc = endSchema.getOrElse(throw new IllegalStateException(
        s"lake $dir has change sidecars but no committed schema"))
      val full = org.apache.spark.sql.types.StructType(sc.fields :+
        org.apache.spark.sql.types.StructField(CdfTypeCol,
          org.apache.spark.sql.types.StringType, nullable = false))
      manifestScan(s, dir, files, Some(full), restorePartitions = false,
          windowSizes)
        .select((sc.fieldNames :+ CdfTypeCol).toIndexedSeq.map(col): _*)
    }
    def tsCol(ms: Option[Long]): org.apache.spark.sql.Column = ms match {
      case Some(m) => lit(new java.sql.Timestamp(m))
      case None    => lit(null).cast(org.apache.spark.sql.types.TimestampType)
    }
    var prevSnap: Snapshot =
      if (fromExclusive == 0) Snapshot(0L, Vector.empty) else snap(fromExclusive)
    val legs: Seq[DataFrame] =
      ((fromExclusive + 1) to toInclusive).flatMap { v =>
        val cur = snap(v)
        val prev = prevSnap
        prevSnap = cur
        GraftCdf.legsOf(dir, v, prev, cur).flatMap { case (t, files, dvs) =>
          val base: Option[DataFrame] =
            if (t == GraftCdf.CdcLegType) Some(cdcRowsOf(files))
            else if (dvs.isEmpty)
              Some(rowsOf(files).withColumn("_change_type", lit(t)))
            else {
              val diff = dvs.flatMap { case (f, (c, p)) =>
                val now = DvStore.read(dir, c, conf)
                val before = p.map(DvStore.read(dir, _, conf))
                  .getOrElse(Array.empty[Long])
                val fresh = now.filterNot(DvStore.contains(before, _))
                if (fresh.isEmpty) None else Some(f -> fresh)
              }
              if (diff.isEmpty) None
              else Some(rowsAt(diff).withColumn("_change_type", lit(t)))
            }
          base.map(_.withColumn("_commit_version", lit(v))
            .withColumn("_commit_timestamp", tsCol(cur.tsMillis)))
        }
      }
    legs.reduceOption(_ unionByName _)
      // window-end column mapping, like read(): renamed columns serve
      // logical names, dropped ones hide; the _change_type/_commit_*
      // columns are never mapped (empty fallback: read() is already
      // logical)
      .map(toLogical(snap(toInclusive), _))
      .getOrElse(
        read(s, dir, Some(snap(toInclusive))).filter(lit(false))
          .withColumn("_change_type", lit(""))
          .withColumn("_commit_version", lit(0L))
          .withColumn("_commit_timestamp", tsCol(None)))
  }

  /** SCD TYPE-2 dimension materialization from the change feed: turn
    * the CDC event stream over `(fromExclusive, toInclusive]` into
    * per-key validity intervals — each row of the result is one
    * VERSION of one key, with `valid_from` (the commit that created
    * it), `valid_to` (the commit that replaced or deleted it;
    * exclusive, NULL while live) and `is_current`. This is the
    * classic warehouse "slowly changing dimension" build, and the
    * lake-side face of the reference's derived-state discipline: the
    * full history table derives from CHANGE SETS alone, never from
    * corpus snapshots diffed pairwise.
    *
    * Plan shape: inserts and update-postimages OPEN an interval;
    * deletes and update-preimages CLOSE one. Per key, ordered by
    * `(_commit_version, open-flag)` — a commit's close sorts before
    * its own open, so an update at v both ends the old interval at v
    * and starts the new one at v — events alternate close/open, and
    * each open's `valid_to` is simply the NEXT event's version
    * (`lead` over the key window). ONE shuffle on the key columns,
    * feed-sized (∝ changed rows, never corpus-sized); no join, no
    * driver state. Assumes keys are snapshot-unique (the [[merge]]
    * contract — two live rows per key have no well-defined interval
    * chain). */
  /** One maintenance step of a STREAMING MATERIALIZED VIEW — q174's
    * incremental-view discipline packaged crash-safe: `batch` is one
    * change-feed window (the CDF stream's micro-batch), and the step
    * (1) gates on the VIEW's `#txn` high-water — a redelivered batch
    * whose append already committed must not run at all, or its
    * key-delete would remove the rows that very append restored;
    * (2) DV-deletes every key the window touched (delete/preimage
    * keys ∪ incoming keys — a postimage that now FAILS the view
    * filter leaves the view); (3) appends `transform` of the
    * inserts/postimages EXACTLY-ONCE via [[appendBatch]]'s batch-id
    * dedup. Crash anywhere and the redelivery converges: before the
    * delete → reruns identically; between delete and append → the
    * re-delete is idempotent (same keys, already vectored) and the
    * append lands; after the append → the gate skips. Returns whether
    * the step applied (false = high-water skip). */
  def maintainViewBatch(s: SparkSession, viewDir: String,
                        keyCols: Seq[String],
                        transform: DataFrame => DataFrame,
                        appId: String, batchId: Long,
                        batch: DataFrame,
                        viewPartitionCol: String,
                        statsCols: Seq[String] = Nil,
                        bloomCols: Seq[String] = Nil,
                        srcDir: Option[String] = None): Boolean = {
    if (latestSnapshot(viewDir).exists(_.txns.get(appId).exists(_ >= batchId)))
      return false
    val hwObs = maintainerObservation(batch, srcDir)
    val b = hwObs.fold(batch)(o =>
      batch.observe(o, max(col(GraftCdf.CommitVersionCol)).as("hw"))).persist()
    try {
      deleteKeysDv(s, viewDir, b.select(keyCols.map(col): _*), keyCols)
      // exact MULTI-COMMIT window fold: the naive "insert every
      // insert/postimage" would re-insert rows a LATER commit in the
      // SAME window deleted (the backfill window, spanning the whole
      // history, always hits this). Per key, only rows from the key's
      // LAST commit in the window count, and only if that commit
      // ADDED them — a key whose last touch is a delete/preimage
      // contributes nothing. One window-sized join, never corpus-sized.
      val lastV = b.groupBy(keyCols.map(col): _*)
        .agg(max(col("_commit_version")).as("__graft_mv_v"))
      val finalAdds = b.filter(col(CdfTypeCol) === "insert" ||
          col(CdfTypeCol) === "update_postimage")
        .join(lastV, keyCols)
        .filter(col("_commit_version") === col("__graft_mv_v"))
        .drop("__graft_mv_v")
      val adds = transform(finalAdds)
      appendBatch(s, viewDir, adds, viewPartitionCol, appId, batchId,
        statsCols = statsCols, bloomCols = bloomCols)
      // registry refresh (see [[registerMaintainer]]): the committed
      // window's max source version becomes this maintainer's
      // high-water — read from the observed metric, which rode the
      // delete/append actions above (no extra job; an explicit agg
      // here cost a per-batch job that compounded across a drain's
      // micro-batches — the r16 q184 A/B measured it at ~35% of the
      // row). An empty window advances nothing (SQL-NULL max), so
      // the pin floor only ever moves forward.
      for (sd <- srcDir; o <- hwObs; hw <- observedHighWater(o, b))
        registerMaintainer(sd, appId, viewDir, hw)
      true
    } finally { b.unpersist(); () }
  }

  /** STREAMING MATERIALIZED VIEW: a CDF stream over `srcDir` drives
    * [[maintainViewBatch]] into `viewDir` — the lake-side `CREATE
    * MATERIALIZED VIEW ... AS transform(src)` with exactly-once
    * maintenance and no driver state beyond the stream checkpoint.
    * The view lake must exist (CREATE it with the transform's schema;
    * the stream backfills the whole change history into it — an empty
    * view converges to transform(src) on the first drain, and every
    * later micro-batch costs ∝ its window's changed rows). The
    * checkpoint and `appId` are a PAIR: restarting from the same
    * checkpoint resumes exactly-once; a fresh checkpoint needs a
    * fresh appId (batch ids restart at 0, and the view's high-water
    * for the old appId would gate them out — the same contract as
    * redirecting any exactly-once writer). Rides THROUGH restores on
    * CDF-enabled sources (the restore sidecars feed the same loop —
    * CdfSpec pins it). */
  def maintainView(s: SparkSession, srcDir: String, viewDir: String,
                   keyCols: Seq[String],
                   transform: DataFrame => DataFrame,
                   appId: String, checkpointDir: String,
                   viewPartitionCol: String,
                   statsCols: Seq[String] = Nil,
                   bloomCols: Seq[String] = Nil,
                   trigger: org.apache.spark.sql.streaming.Trigger =
                     org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    s.readStream.format("graft").option("path", srcDir)
      .option("readChangeFeed", "true").load()
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        maintainViewBatch(s, viewDir, keyCols, transform, appId, id, batch,
          viewPartitionCol, statsCols, bloomCols, srcDir = Some(srcDir))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** Gated keyed REPLACE — the single-commit primitive under
    * [[maintainAggViewBatch]]: DV-delete every live lake row whose key
    * matches `keys`, append `rows` as fresh files, and bump the app's
    * `#txn` high-water, all in ONE CAS. The atomicity is what makes a
    * read-modify-write maintainer crash-safe: the step's output
    * depends on the CURRENT lake state (unlike [[maintainViewBatch]],
    * whose adds derive from the batch alone), so a two-commit
    * delete-then-append would strand a redelivered batch between them
    * — the recompute would read a lake whose matched rows are already
    * gone and fold the delta into nothing. Here a crash anywhere
    * before the CAS leaves the lake untouched (staged files and
    * sidecars are unreferenced garbage the vacuum census reclaims)
    * and the redelivery recomputes identically; after the CAS the
    * gate skips. Detection is [[deleteKeysDv]]'s (the shared key
    * planner's candidates, then a pushed `isin` or a semi-join), but
    * NULL-safe; the commit races like
    * [[updateWhereDv]] (loud abort when a concurrent commit replaced
    * or re-vectored a touched file). An EMPTY step (no keys, no rows)
    * still commits the txn bump, so exactly-once bookkeeping stays
    * monotonic across empty feed windows. Returns false iff the gate
    * skipped (the batch had already committed). */
  def replaceKeysBatch(s: SparkSession, dir: String, keys: DataFrame,
                       rows: DataFrame, keyCols: Seq[String],
                       appId: String, batchId: Long, partitionCol: String,
                       statsCols: Seq[String] = Nil,
                       bloomCols: Seq[String] = Nil): Boolean = {
    require(keyCols.nonEmpty, "keyed replace needs at least one key column")
    require(!appId.contains('\n'), "appId must be single-line")
    val root = Paths.get(dir)
    latestSnapshot(dir) match {
      case None =>
        // empty lake: nothing to delete — the replace degenerates to
        // the idempotent batch append (which creates the manifest)
        appendBatch(s, dir, rows, partitionCol, appId, batchId,
          statsCols = statsCols, bloomCols = bloomCols)
        true
      case Some(sn0) if sn0.mappingActive =>
        // column mapping: translate at the boundary, exactly [[append]]
        requireNoDropped(sn0, rows, dir)
        replaceKeysBatch0(s, dir, root, sn0, toPhysical(sn0, keys),
          toPhysical(sn0, rows), keyCols.map(physicalColName(sn0, _)),
          appId, batchId, physicalColName(sn0, partitionCol),
          statsCols.map(physicalStatsPath(sn0, _)),
          bloomCols.map(physicalStatsPath(sn0, _)))
      case Some(sn0) =>
        replaceKeysBatch0(s, dir, root, sn0, keys, rows, keyCols,
          appId, batchId, partitionCol, statsCols, bloomCols)
    }
  }

  private def replaceKeysBatch0(s: SparkSession, dir: String, root: Path,
                                snap: Snapshot, keys: DataFrame,
                                rows: DataFrame, keyCols: Seq[String],
                                appId: String, batchId: Long,
                                partitionCol: String,
                                statsCols: Seq[String],
                                bloomCols: Seq[String]): Boolean = {
    if (snap.txns.get(appId).exists(_ >= batchId)) return false
    snap.schema.foreach { sc =>
      val missing = keyCols.filterNot(sc.fieldNames.contains)
      require(missing.isEmpty,
        s"key columns ${missing.mkString(",")} not in the lake schema")
    }
    // detection — the shared key planner ([[planKeys]]), NULL-SAFE:
    // this is a REPLACE primitive (the aggregate view's dims may
    // legitimately be NULL — a NULL group key is a group like any
    // other), not a SQL join. A key column whose keys include NULL
    // keeps every file (min/max stats exclude nulls). A small single-
    // column sample detects as an `isin [|| isNull]` filter pushed
    // into the candidate scan; otherwise a null-safe semi-join
    // against the key rows.
    val plan = planKeys(snap, keys, keyCols, nullSafe = true)
    val updates = dvSidecarsOf(s, dir, snap, plan.candidates) { alive =>
      plan.sample match {
        case Some(tuples) if keyCols.length == 1 && isinSafe(tuples.map(_.get(0))) =>
          val k = keyCols.head
          val vals = tuples.map(_.get(0))
          val nonNull = vals.filterNot(_ == null)
          val base = if (nonNull.isEmpty) lit(false) else col(k).isin(nonNull: _*)
          alive.filter(if (vals.contains(null)) base || col(k).isNull else base)
        case _ =>
          val kf = keyRows(s, keys, keyCols, plan).select(
            keyCols.map(c => col(c).as(s"__graft_rk_$c")): _*)
          alive.join(kf, keyCols.map(c => alive(c) <=> col(s"__graft_rk_$c"))
            .reduce(_ && _), "left_semi")
      }
    }
    require(updates.forall(u => snap.files.contains(u._1)),
      s"detection scan returned files outside the snapshot: ${updates.map(_._1).take(3).toSeq}")

    // staging — [[appendBatch]]'s rules: evolve-checked schema,
    // CHECK constraints, declared layout, uniform skipping metadata
    evolveSchema(snap.schema, rows.schema)
    snap.declaredPartitionCol.filter(_ != partitionCol).foreach { d =>
      throw new IllegalArgumentException(
        s"lake $dir was declared PARTITIONED BY ($d); cannot replace " +
          s"partitioned by '$partitionCol'")
    }
    val effStats = (statsCols ++ snap.declaredStatsCols).distinct
    val effBlooms = (bloomCols ++ snap.declaredBloomCols).distinct
    val (staged, stagedBuckets) = stageFiles(s, root,
      withCheckConstraints(rows, snap.constraints, snap.renames),
      partitionCol, maxRecordsPerFile = 1024 * 1024, Map.empty,
      snap.declaredBucket)
    val (stagedStats, stagedRows) = footerMetaAll(s, root, staged, effStats)
    val stagedBlooms = buildBlooms(s, dir, staged, effBlooms, stagedRows)

    var duplicate = false
    val touched = updates.map(_._1).toSet
    commitLoop(root) {
      case None => throw new IllegalStateException(s"manifest vanished from $dir")
      case Some(latest) =>
        if (latest.txns.get(appId).exists(_ >= batchId)) { duplicate = true; None }
        else {
          if (!touched.forall(latest.files.contains))
            throw new IllegalStateException(
              "a concurrent commit replaced files this keyed replace " +
                "targeted — re-run against the new snapshot")
          touched.foreach { f =>
            if (latest.dvs.get(f) != snap.dvs.get(f))
              throw new IllegalStateException(
                "a concurrent DV delete touched the same files — " +
                  "re-run against the new snapshot")
          }
          Some(Ledger(latest.files ++ staged,
            latest.txns + (appId -> batchId),
            latest.stats ++ stagedStats, "replace-keys",
            Some(evolveSchema(latest.schema, rows.schema)),
            latest.blooms ++ stagedBlooms,
            latest.rows ++ stagedRows,
            buckets = stagedBuckets,
            dvs = Some(latest.dvs ++ updates.map { case (f, rel, c) =>
              f -> DvStore.Dv(rel, c) })))
        }
    }
    if (duplicate) staged.foreach(f => Files.deleteIfExists(root.resolve(f)))
    !duplicate
  }

  /** One aggregate of an incrementally maintained GROUP-BY view:
    * `out` is the view column, `func` the fold:
    *  - `count` — COUNT(*), the group-liveness aggregate (a group
    *    leaves the view when it reaches 0);
    *  - `sum` — SUM(inCol) with SQL's NULL contract: NULL values
    *    contribute nothing and a group whose live values are ALL NULL
    *    renders NULL, not 0 — a hidden `__graft_nn_<out>` non-null
    *    count rides in the view to tell "no non-null value" apart
    *    from "sum happens to be zero";
    *  - `avg` — AVG(inCol) as double: pure sugar over a hidden raw
    *    sum + non-null count (`__graft_sum_<out>`, `__graft_nn_<out>`),
    *    NULL when the group's live values are all NULL;
    *  - `min` / `max` — MIN/MAX(inCol): inserts fold forward
    *    (`least`/`greatest` with the stored extreme); a retraction
    *    that TOUCHES the group's current extreme cannot be folded
    *    (min/max are not retractable) and instead triggers a rescan of
    *    THAT GROUP ONLY against the source at the window end — cost ∝
    *    the group's rows, never the view or corpus
    *    ([[maintainAggViewBatch]] needs `srcDir` for the rescan leg).
    *    This is the reference's single most load-bearing aggregate —
    *    the per-channel `MAX(publishtime)` high-water mark driving
    *    incremental ingest (maintain_database.py:289-306, SURVEY A1).
    * count/sum/avg are RETRACTABLE — an insert adds, a delete
    * subtracts, so they fold from change sets alone. */
  final case class AggSpec(out: String, func: String, inCol: String = "") {
    require(Set("count", "sum", "avg", "min", "max").contains(func),
      s"unsupported aggregate '$func' — want count, sum, avg, min or max")
    require(func == "count" || inCol.nonEmpty,
      s"$func aggregate '$out' needs an input column")
    /** Hidden per-group non-null count (sum/avg) — the state that
      * makes SQL's all-NULL-group-renders-NULL contract foldable. */
    private[core] def nnCol: String = s"__graft_nn_$out"
    /** Hidden per-group raw sum (avg). */
    private[core] def sumCol: String = s"__graft_sum_$out"
    /** The view's hidden state columns for this aggregate. */
    private[core] def stateCols: Seq[String] = func match {
      case "sum" => Seq(nnCol)
      case "avg" => Seq(sumCol, nnCol)
      case _     => Nil
    }
  }

  /** A maintained aggregate view WITHOUT its hidden fold-state columns
    * (`__graft_nn_*` / `__graft_sum_*`) — the user-facing face of a
    * [[maintainAggView]] lake. */
  def readAggView(s: SparkSession, viewDir: String): DataFrame = {
    val df = read(s, viewDir)
    df.drop(df.columns.filter(_.startsWith("__graft_")).toIndexedSeq: _*)
  }

  /** One maintenance step of an AGGREGATE materialized view —
    * `groupBy(dims).agg(count/sum …)` maintained from one change-feed
    * window. Unlike [[maintainViewBatch]]'s keyed row-wise fold (last
    * commit per key wins), aggregate deltas are ADDITIVE across the
    * window: each feed record contributes `+1`/`+x` (insert,
    * update_postimage) or `-1`/`-x` (delete, update_preimage), and an
    * insert-then-delete chain nets zero — so the fold is one
    * window-sized groupBy, no per-commit ordering. The step then
    * reads the CURRENT view rows for the touched groups (delta-sized
    * semi-join; AQE broadcasts the keys), folds `current ⊕ delta`
    * null-safely on the dims (a NULL dim is a group like any other),
    * drops groups whose row count reaches zero, and lands the result
    * through [[replaceKeysBatch]] — delete-old + insert-new + `#txn`
    * bump in ONE commit, which is what makes this read-modify-write
    * crash-safe under at-least-once delivery (see there). A group
    * whose count would go NEGATIVE fails loudly: the feed window is
    * not anchored at the view's high-water (e.g. a stream started
    * mid-history against a non-empty view). Cost ∝ changed groups,
    * never view or corpus size. Returns false iff the gate skipped. */
  def maintainAggViewBatch(s: SparkSession, viewDir: String,
                           dims: Seq[String], aggs: Seq[AggSpec],
                           appId: String, batchId: Long,
                           batch: DataFrame,
                           viewPartitionCol: String,
                           statsCols: Seq[String] = Nil,
                           bloomCols: Seq[String] = Nil,
                           srcDir: Option[String] = None): Boolean = {
    require(dims.nonEmpty, "an aggregate view needs at least one dimension")
    require(aggs.nonEmpty, "an aggregate view needs at least one aggregate")
    val liveness = aggs.find(_.func == "count").getOrElse(throw
      new IllegalArgumentException(
        "aggregate view needs a count aggregate — group liveness " +
          "(when does a group leave the view?) is derived from it")).out
    require(aggs.map(_.out).distinct.size == aggs.size,
      "aggregate output names must be distinct")
    val extremes = aggs.filter(a => a.func == "min" || a.func == "max")
    require(extremes.isEmpty || srcDir.nonEmpty,
      "min/max aggregates need srcDir — a retraction that touches a " +
        "group's current extreme rescans THAT GROUP against the source")
    // DECIMAL state honesty (r15 verdict "what's missing" #3): the avg
    // fold carries its raw sum as DOUBLE and the sum fold re-applies
    // `+` at the view column's stored precision — over a long history
    // either diverges from SQL decimal semantics (double rounding /
    // silent precision management where a recompute would widen or
    // overflow loudly). House style is the loud refusal at
    // construction, not a wrong answer at scale.
    aggs.filter(a => a.func == "avg" || a.func == "sum").foreach { a =>
      batch.schema.fields.find(_.name == a.inCol).foreach { f =>
        require(!f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType],
          s"aggregate view ${a.func}('${a.inCol}') over a DECIMAL column " +
            "is not maintainable: the incremental fold's state arithmetic " +
            "(double for avg, fixed-precision re-add for sum) diverges " +
            "from SQL decimal semantics over long histories — cast the " +
            "column to DOUBLE in the source/transform if approximate is " +
            "acceptable, or keep amounts in integral minor units")
      }
    }
    if (latestSnapshot(viewDir).exists(_.txns.get(appId).exists(_ >= batchId)))
      return false
    val stateCols = aggs.flatMap(_.stateCols)
    val outCols = dims ++ aggs.map(_.out) ++ stateCols
    val hwObs = maintainerObservation(batch, srcDir)
    val b = hwObs.fold(batch)(o =>
      batch.observe(o, max(col(GraftCdf.CommitVersionCol)).as("hw"))).persist()
    try {
      val sign = when(col(CdfTypeCol).isin("insert", "update_postimage"),
        lit(1L)).otherwise(lit(-1L))
      // per-group window delta: additive for count/sum/avg (plus the
      // non-null count that carries SQL's NULL contract), and for
      // min/max the INSERT-side extreme (foldable forward) plus the
      // RETRACTED-side extreme (decides whether the fold is safe)
      val deltaCols: Seq[org.apache.spark.sql.Column] = aggs.flatMap {
        case AggSpec(out, "count", _) => Seq(sum(sign).as(out))
        case a @ AggSpec(out, "sum", c) => Seq(
          sum(sign * coalesce(col(c), lit(0))).as(out),
          sum(when(col(c).isNotNull, sign).otherwise(lit(0L))).as(a.nnCol))
        case a @ AggSpec(_, "avg", c) => Seq(
          sum(sign * coalesce(col(c).cast("double"), lit(0.0))).as(a.sumCol),
          sum(when(col(c).isNotNull, sign).otherwise(lit(0L))).as(a.nnCol))
        case AggSpec(out, "min", c) => Seq(
          min(when(sign === 1L, col(c))).as(s"__graft_ins_$out"),
          min(when(sign === -1L, col(c))).as(s"__graft_ret_$out"))
        case AggSpec(out, "max", c) => Seq(
          max(when(sign === 1L, col(c))).as(s"__graft_ins_$out"),
          max(when(sign === -1L, col(c))).as(s"__graft_ret_$out"))
      }
      val delta = b.groupBy(dims.map(col): _*)
        .agg(deltaCols.head, deltaCols.tail: _*)
      val keys = delta.select(dims.map(col): _*)
      // null-safe EVERYWHERE a dim crosses a join: a usingColumns join
      // matches with plain equality, so a NULL-dim group's current row
      // would never join — the semi-join would miss it (a later delete
      // folds against nothing and goes negative) and the outer fold
      // would duplicate the group
      //
      // the CURRENT-rows fetch is FILE-PRUNED through the manifest on
      // the leading dim (stats + bloom layers): a fixed 10-group churn
      // must open ~10 view files, not the whole view — pruning on
      // dims.head alone is sound for multi-dim views (a file holding
      // none of the touched leading-dim values can hold no touched
      // group; NULL keys make pruneFilesForKeys keep everything)
      val viewDf = latestSnapshot(viewDir) match {
        case Some(snapV) if snapV.files.nonEmpty =>
          val physK = physicalColName(snapV, dims.head)
          val tracked =
            snapV.stats.valuesIterator.flatten.exists(_.col == physK) ||
              snapV.blooms.valuesIterator.flatten.exists(_.col == physK) ||
              partitionColOf(snapV).contains(physK)
          // ONE no-shuffle sample job ([[sampleKeyTuples]]) instead of
          // distinct+CollectLimit — per micro-batch cost on the drain.
          // Sampled from the CACHED batch, not from `delta`: the
          // delta's group-by keys are exactly the batch's distinct
          // dims, and sampling the batch keeps the job a narrow
          // cache-read instead of replaying the delta's shuffle
          val sample: Option[IndexedSeq[Any]] =
            if (tracked) sampleKeyTuples(b.select(col(dims.head)), MaxDriverKeys)
              .map(_.map(_._1.get(0)))
            else None
          sample match {
            case Some(vals) if vals.nonEmpty =>
              val kept = pruneFilesForKeys(snapV, physK, vals)
              if (kept.isEmpty) read(s, viewDir, Some(snapV)).filter(lit(false))
              else
                toLogical(snapV, lakeFiles(s, viewDir, snapV, kept, snapV.schema))
            case _ => read(s, viewDir, Some(snapV))
          }
        case _ => read(s, viewDir)
      }
      val keysSemi = keys.select(dims.map(d => col(d).as(s"__graft_k_$d")): _*)
      val semiCond = dims.map(d => viewDf(d) <=> col(s"__graft_k_$d"))
        .reduce(_ && _)
      val cur = viewDf.join(keysSemi, semiCond, "left_semi")
      // hidden state columns may be absent on a freshly created view —
      // the first write evolves them in; synthesize typed NULLs so the
      // presence check below stays uniform (an EXISTING row with NULL
      // state predates this upgrade and refuses loudly in the fold)
      def curState(c: String): org.apache.spark.sql.Column =
        if (cur.columns.contains(c)) col(c)
        else lit(null).cast(
          if (c.startsWith("__graft_sum_")) "double" else "bigint")
      val curP = cur.select(
        dims.map(d => col(d).as(s"__graft_ck_$d")) ++
        aggs.map(a => col(a.out).as(s"__graft_cv_${a.out}")) ++
        stateCols.map(c => curState(c).as(s"__graft_cv_$c")) :+
        lit(true).as("__graft_cur"): _*)
      val dNames = delta.columns.filterNot(dims.contains).toIndexedSeq
      val dP = delta.select(dims.map(d => col(d).as(s"__graft_dk_$d")) ++
        dNames.map(c => col(c).as(s"__graft_dv_$c")): _*)
      val cond = dims.map(d => col(s"__graft_ck_$d") <=> col(s"__graft_dk_$d"))
        .reduce(_ && _)
      val joined = curP.join(dP, cond, "full_outer")
      def cv(c: String) = col(s"__graft_cv_$c")
      def dv(c: String) = col(s"__graft_dv_$c")
      val present = coalesce(col("__graft_cur"), lit(false))
      def zeroFor(c: String): org.apache.spark.sql.Column =
        if (c.startsWith("__graft_sum_")) lit(0.0) else lit(0L)
      def curStateChecked(c: String): org.apache.spark.sql.Column =
        when(!present, zeroFor(c)).otherwise(
          when(cv(c).isNull, raise_error(lit(
            s"maintainAggView: view row is missing fold state '$c' — " +
              "the view predates the SQL-NULL/avg upgrade; rebuild it " +
              "(fresh view dir + checkpoint)"))).otherwise(cv(c)))
      // raw fold (state space, not yet rendered): count and the hidden
      // nn/sum states add; min/max fold the stored extreme with the
      // insert-side extreme, and flag a RESCAN when a retraction ties
      // or passes the fold candidate — only a source rescan can then
      // know the next extreme (the retracted value may have been the
      // last holder of the current one)
      def minCand(out: String) = least(cv(out), dv(s"__graft_ins_$out"))
      def maxCand(out: String) = greatest(cv(out), dv(s"__graft_ins_$out"))
      // an EXTINCT group (folded count 0 — an extinction wave deleting
      // every row) never rescans: it is leaving the view regardless,
      // and the rescan would read the source only to find nothing
      val foldedAlive = (coalesce(cv(liveness), lit(0L)) +
        coalesce(dv(liveness), lit(0L))) > 0
      val rescanFlag: org.apache.spark.sql.Column =
        if (extremes.isEmpty) lit(false)
        else foldedAlive && extremes.map { a =>
          val ret = dv(s"__graft_ret_${a.out}")
          val cand = if (a.func == "min") minCand(a.out) else maxCand(a.out)
          ret.isNotNull && (cand.isNull ||
            (if (a.func == "min") ret <= cand else ret >= cand))
        }.reduce(_ || _)
      val rawCols: Seq[org.apache.spark.sql.Column] =
        dims.map(d =>
          coalesce(col(s"__graft_ck_$d"), col(s"__graft_dk_$d")).as(d)) ++
        aggs.map {
          case AggSpec(out, "count", _) =>
            (coalesce(cv(out), lit(0L)) + coalesce(dv(out), lit(0L))).as(out)
          case AggSpec(out, "sum", _) =>
            (coalesce(cv(out), lit(0)) + coalesce(dv(out), lit(0))).as(out)
          case AggSpec(out, "avg", _) =>
            // rendered below from the folded state; placeholder keeps
            // column order stable
            lit(null).cast("double").as(out)
          case AggSpec(out, "min", _) => minCand(out).as(out)
          case AggSpec(out, "max", _) => maxCand(out).as(out)
        } ++
        stateCols.map(c =>
          (curStateChecked(c) + coalesce(dv(c), zeroFor(c))).as(c)) :+
        rescanFlag.as("__graft_rescan")
      val folded = joined.select(rawCols: _*)
      // rendering: negative liveness/nn refuse loudly (a feed window
      // not anchored at the view's high-water), an all-NULL group's
      // sum/avg render SQL NULL (nn == 0), avg = raw sum / nn
      def nnChecked(a: AggSpec): org.apache.spark.sql.Column =
        when(col(a.nnCol) < 0, raise_error(concat(
          lit(s"maintainAggView: negative non-null count for '${a.out}' in "),
          to_json(struct(dims.map(col): _*)),
          lit(" — the feed window is not anchored at the view's " +
            "high-water (stream started mid-history?)"))))
          .otherwise(col(a.nnCol))
      val renderCols: Seq[org.apache.spark.sql.Column] =
        dims.map(col) ++
        aggs.map {
          case AggSpec(out, "count", _) =>
            when(col(out) < 0, raise_error(concat(
              lit("maintainAggView: negative group count for "),
              to_json(struct(dims.map(col): _*)),
              lit(" — the feed window is not anchored at the view's " +
                "high-water (stream started mid-history?)"))))
              .otherwise(col(out)).as(out)
          case a @ AggSpec(out, "sum", _) =>
            when(nnChecked(a) === 0, lit(null)).otherwise(col(out)).as(out)
          case a @ AggSpec(out, "avg", _) =>
            when(nnChecked(a) === 0, lit(null).cast("double"))
              .otherwise(col(a.sumCol) / col(a.nnCol)).as(out)
          case AggSpec(out, _, _) => col(out).as(out)
        } ++ stateCols.map(col)
      val foldedOut = folded.filter(!col("__graft_rescan"))
        .select(renderCols: _*)
        .filter(col(liveness) > 0)
      // RESCAN leg — the groups whose current extreme a retraction
      // touched: recompute EVERY aggregate of those groups exactly
      // from the source AT THE WINDOW END (the batch's max commit
      // version; later commits in the window changed no row, or the
      // feed would carry them). Group-scoped: the keys push down as an
      // EqualNullSafe disjunction (file skipping prunes on dim stats),
      // falling back to a semi-join past the literal cap. Cost ∝ the
      // touched groups' rows — never the view or corpus.
      val rescanRows: Option[DataFrame] =
        if (extremes.isEmpty) None
        else {
          val MaxPushKeys = 10000
          val krows = folded.filter(col("__graft_rescan"))
            .select(dims.map(col): _*).limit(MaxPushKeys + 1).collect()
          if (krows.isEmpty) None
          else {
            val srcD = srcDir.get
            val endV = b.agg(max(col("_commit_version"))).head().getLong(0)
            val srcSnap = snapshotAt(srcD, endV).getOrElse(
              throw new IllegalStateException(
                s"min/max rescan needs $srcD@v$endV, which was retired " +
                  "by vacuum — retention must cover the maintenance lag"))
            val srcAll = read(s, srcD, Some(srcSnap))
            // group-scoped source read, best pruning shape first: a
            // single non-null dim prunes the FILE LIST through the
            // manifest (stats + bloom layers, [[pruneFilesForKeys]] —
            // the same index deleteKeysDv probes) and opens only the
            // survivors with the In filter re-applied for row-group
            // skipping; multi-dim or NULL-bearing key sets push an
            // EqualNullSafe disjunction while small; past the caps, a
            // null-safe semi-join (full scan, still one pass — the
            // worst case)
            val singleDimVals: Option[IndexedSeq[Any]] =
              if (dims.length == 1 && krows.length <= MaxPushKeys &&
                  !krows.exists(_.isNullAt(0)))
                Some(krows.toIndexedSeq.map(_.get(0)))
              else None
            val scoped = singleDimVals match {
              case Some(vals) =>
                val phys = physicalColName(srcSnap, dims.head)
                val kept = pruneFilesForKeys(srcSnap, phys, vals)
                if (kept.isEmpty) srcAll.filter(lit(false))
                else
                  toLogical(srcSnap,
                    lakeFiles(s, srcD, srcSnap, kept, srcSnap.schema))
                    .filter(col(dims.head).isin(vals: _*))
              case None if krows.length <= 200 =>
                srcAll.filter(krows.toIndexedSeq.map(r =>
                  dims.zipWithIndex.map { case (d, i) =>
                    col(d) <=> lit(r.get(i)) }.reduce(_ && _)).reduce(_ || _))
              case None =>
                val kf = folded.filter(col("__graft_rescan")).select(
                  dims.map(d => col(d).as(s"__graft_rk_$d")): _*)
                val c2 = dims.map(d => srcAll(d) <=> col(s"__graft_rk_$d"))
                  .reduce(_ && _)
                srcAll.join(kf, c2, "left_semi")
            }
            val exact: Seq[org.apache.spark.sql.Column] = aggs.flatMap {
              case AggSpec(out, "count", _) => Seq(count(lit(1)).as(out))
              case a @ AggSpec(out, "sum", c) => Seq(sum(col(c)).as(out),
                count(col(c)).as(a.nnCol))
              case a @ AggSpec(out, "avg", c) => Seq(
                avg(col(c).cast("double")).as(out),
                coalesce(sum(col(c).cast("double")), lit(0.0)).as(a.sumCol),
                count(col(c)).as(a.nnCol))
              case AggSpec(out, "min", c) => Seq(min(col(c)).as(out))
              case AggSpec(out, "max", c) => Seq(max(col(c)).as(out))
            }
            Some(scoped.groupBy(dims.map(col): _*)
              .agg(exact.head, exact.tail: _*)
              .select(outCols.map(col): _*))
          }
        }
      val newRows = rescanRows.fold(foldedOut) { r =>
        val casted = r.select(foldedOut.schema.fields.toIndexedSeq.map(f =>
          col(f.name).cast(f.dataType).as(f.name)): _*)
        foldedOut.unionByName(casted)
      }
      val committed = replaceKeysBatch(s, viewDir, keys, newRows, dims,
        appId, batchId, viewPartitionCol, statsCols, bloomCols)
      // registry refresh (see [[registerMaintainer]]) — the committed
      // window's max source version, observed for free on the fold's
      // own actions; empty windows advance nothing
      if (committed)
        for (sd <- srcDir; o <- hwObs; hw <- observedHighWater(o, b))
          registerMaintainer(sd, appId, viewDir, hw)
      committed
    } finally { b.unpersist(); () }
  }

  /** STREAMING AGGREGATE MATERIALIZED VIEW: a CDF stream over `srcDir`
    * drives [[maintainAggViewBatch]] into `viewDir` — the lake-side
    * `CREATE MATERIALIZED VIEW v AS SELECT dims, count(*), sum(x)
    * FROM src GROUP BY dims` with exactly-once incremental
    * maintenance (the always-on dashboard aggregates, reference
    * server/dashboard.py:126-149, kept fresh by folding change sets
    * instead of recomputing on every page load). Contract matches
    * [[maintainView]]: pre-create the view lake with the aggregate
    * schema; the first drain backfills the whole change history (an
    * empty view converges to the full GROUP BY); checkpoint and
    * `appId` pair for exactly-once; rides through restores on
    * CDF-enabled sources. Each micro-batch costs ∝ its window's
    * CHANGED GROUPS — at 100 TB the view never sees the corpus, only
    * the day's deltas. */
  def maintainAggView(s: SparkSession, srcDir: String, viewDir: String,
                      dims: Seq[String], aggs: Seq[AggSpec],
                      appId: String, checkpointDir: String,
                      viewPartitionCol: String,
                      statsCols: Seq[String] = Nil,
                      bloomCols: Seq[String] = Nil,
                      trigger: org.apache.spark.sql.streaming.Trigger =
                        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    s.readStream.format("graft").option("path", srcDir)
      .option("readChangeFeed", "true").load()
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        maintainAggViewBatch(s, viewDir, dims, aggs, appId, id, batch,
          viewPartitionCol, statsCols, bloomCols, srcDir = Some(srcDir))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** The JOINED frame a join view's transform sees — `facts` aliased
    * `f`, the CURRENT dim lake aliased `d`, inner-joined on
    * `f.fkCol = d.dimPkCol` (plain SQL equality: a NULL foreign key
    * matches nothing, exactly the SQL INNER JOIN the view mirrors;
    * duplicate dim keys multiply rows exactly as SQL would — pk
    * uniqueness is the usual dimension contract, not enforced here).
    * Shared by BOTH maintainers of a join view so they can never
    * disagree on the join's shape: the FACT side is
    * [[maintainView]] over the fact lake's feed with
    * `transform = joinViewTransform(s, dimDir, fk, pk, project)`;
    * the DIM side is [[maintainJoinViewDim]]. Both recompute against
    * the dim lake's CURRENT rows — cross-lake version pinning does
    * not exist (two lakes, two version clocks), so the contract is
    * CONVERGENCE: after both feeds drain, the view equals the join
    * of the current lakes (the q188 oracle's law). */
  def joinViewTransform(s: SparkSession, dimDir: String, fkCol: String,
                        dimPkCol: String,
                        project: DataFrame => DataFrame)
      : DataFrame => DataFrame =
    facts => project(facts.alias("f").join(read(s, dimDir).alias("d"),
      col(s"f.$fkCol") === col(s"d.$dimPkCol"), "inner"))

  /** DIM-SIDE maintenance step of a JOIN-SHAPED MATERIALIZED VIEW —
    * the denormalization view `SELECT ... FROM fact f JOIN dim d ON
    * f.fk = d.pk`, keyed by the fact's `factKeyCols` (the reference
    * serves exactly this shape per page load: transcripts joined to
    * their channel/source rows, server/dashboard.py:126-149; here it
    * is a maintained product). The fact side needs no new machinery —
    * its changed rows re-derive through [[maintainViewBatch]] with
    * [[joinViewTransform]] — but a DIM change invalidates view rows
    * the fact feed never mentions: every fact row whose foreign key
    * the window touched. This step re-derives exactly those.
    *
    * Per batch, all window-sized: the window's DISTINCT non-null dim
    * keys; the AFFECTED fact rows fetched with the file set pruned on
    * the fact lake's `fkCol` stats/bloom/partition layers (the
    * aggregate view's fetch rules: exact per-file probe when tracked
    * and ≤100k driver keys, else a semi-join against the full scan —
    * a 10-key dim churn opens ~the files holding those keys, never
    * the fact corpus); the recompute `transform(affected)` — the
    * shared [[joinViewTransform]] supplies the `⋈ dim CURRENT`, so
    * the two maintainers pass the SAME closure and cannot disagree
    * on the join; one [[replaceKeysBatch]] CAS (delete affected keys +
    * append recomputed rows + txn bump, atomically — a dim DELETE
    * recomputes to zero rows for its orphaned facts, so their view
    * rows vanish in the same commit). Exactly-once via the appId
    * txn gate; an empty or no-op window still bumps (monotonic
    * bookkeeping). A fact lake not yet seeded is an empty step, not
    * an error — loading dims before facts is the normal order.
    * Registration against `dimDir` rides the batch's observed
    * high-water metric like every maintainer. Returns false iff the
    * gate skipped. */
  def maintainJoinViewDimBatch(s: SparkSession, viewDir: String,
                               factDir: String, factKeyCols: Seq[String],
                               fkCol: String, dimPkCol: String,
                               transform: DataFrame => DataFrame,
                               appId: String, batchId: Long,
                               batch: DataFrame,
                               viewPartitionCol: String,
                               statsCols: Seq[String] = Nil,
                               bloomCols: Seq[String] = Nil,
                               dimDir: String): Boolean = {
    require(factKeyCols.nonEmpty, "join view needs fact key columns")
    require(latestSnapshot(viewDir).nonEmpty,
      s"join view lake $viewDir must exist — CREATE it with the " +
        "view schema before starting the maintainers")
    if (latestSnapshot(viewDir).exists(_.txns.get(appId).exists(_ >= batchId)))
      return false
    val hwObs = maintainerObservation(batch, Some(dimDir))
    val b = hwObs.fold(batch)(o =>
      batch.observe(o, max(col(GraftCdf.CommitVersionCol)).as("hw"))).persist()
    try {
      def touched = b.select(col(dimPkCol))
        .filter(col(dimPkCol).isNotNull).distinct()
      // when the probe job below ran, it already carries the window's
      // max source version — registration then never waits on the
      // observed metric (which the isin fast path would not fire)
      var probedHw: Option[Option[Long]] = None
      val affected: Option[DataFrame] = latestSnapshot(factDir) match {
        case Some(snapF) if snapF.files.nonEmpty =>
          // fact fetch file-pruned on fkCol — the aggregate view's
          // current-rows rules (tracked probe / driver cap / semi
          // fallback), but with PLAIN equality: nulls were dropped
          // above because SQL inner-join equality never matches them.
          // The sample is ONE no-shuffle job ([[sampleKeysAndHw]]); a
          // small complete sample turns the dim-touch semi-join into
          // an `isin` filter that pushes down to the fact scan
          val physK = physicalColName(snapF, fkCol)
          val tracked =
            snapF.stats.valuesIterator.flatten.exists(_.col == physK) ||
              snapF.blooms.valuesIterator.flatten.exists(_.col == physK) ||
              partitionColOf(snapF).contains(physK)
          val sample: Option[IndexedSeq[Any]] =
            if (tracked) {
              val (sm, hw) = sampleKeysAndHw(b, dimPkCol,
                GraftCdf.CommitVersionCol, MaxDriverKeys)
              probedHw = Some(hw)
              sm
            } else None
          sample match {
            case Some(vals) if vals.isEmpty =>
              Some(read(s, factDir, Some(snapF)).filter(lit(false)))
            case Some(vals) if isinSafe(vals) =>
              val kept = pruneFilesForKeys(snapF, physK, vals)
              if (kept.isEmpty)
                Some(read(s, factDir, Some(snapF)).filter(lit(false)))
              else Some(
                toLogical(snapF, lakeFiles(s, factDir, snapF, kept, snapF.schema))
                  .filter(col(fkCol).isin(vals: _*)))
            case Some(vals) =>
              // complete but big sample: prune with it, detect by semi
              val kept = pruneFilesForKeys(snapF, physK, vals)
              val factsAll =
                if (kept.isEmpty)
                  read(s, factDir, Some(snapF)).filter(lit(false))
                else
                  toLogical(snapF, lakeFiles(s, factDir, snapF, kept, snapF.schema))
              Some(factsAll.join(
                touched.select(col(dimPkCol).as("__graft_jv_pk")),
                col(fkCol) === col("__graft_jv_pk"), "left_semi"))
            case None =>
              Some(read(s, factDir, Some(snapF)).join(
                touched.select(col(dimPkCol).as("__graft_jv_pk")),
                col(fkCol) === col("__graft_jv_pk"), "left_semi"))
          }
        case _ => None // fact lake not seeded yet: empty step
      }
      val aff = affected.map(_.persist())
      try {
        // unseeded fact lake: txn-bump-only step with view-schema
        // empties — the transform never sees a keys-only frame
        val emptyView = read(s, viewDir).filter(lit(false))
        val keysDf = aff.fold(
          emptyView.select(factKeyCols.map(col): _*))(
          _.select(factKeyCols.map(col): _*))
        val rowsDf = aff.fold(emptyView)(transform)
        val committed = replaceKeysBatch(s, viewDir, keysDf, rowsDf,
          factKeyCols, appId, batchId, viewPartitionCol, statsCols,
          bloomCols)
        if (committed) {
          // the tracked-probe job already measured the window's max
          // version; unseeded path: no action traversed the batch, so
          // the observed metric never fired — one tiny explicit agg
          // (bootstrap-only) instead of eating the await timeout
          val hw: Option[Long] = probedHw.getOrElse {
            if (aff.isEmpty) {
              val r = b.agg(max(col(GraftCdf.CommitVersionCol))).head()
              if (r.isNullAt(0)) None else Some(r.getLong(0))
            } else hwObs.flatMap(observedHighWater(_, b))
          }
          hw.foreach(registerMaintainer(dimDir, appId, viewDir, _))
        }
        committed
      } finally { aff.foreach(_.unpersist()); () }
    } finally { b.unpersist(); () }
  }

  /** STREAMING dim-side maintainer of a join view: a CDF stream over
    * `dimDir` drives [[maintainJoinViewDimBatch]] into `viewDir`.
    * Pair it with [[maintainView]] over the fact lake using
    * [[joinViewTransform]] and a DISTINCT appId/checkpoint — two
    * exactly-once writers, one view, converging on the join of the
    * current lakes after both drain (drive the drains serially; the
    * single-CAS keyed replace makes any interleaving converge, since
    * every step re-derives its touched keys against CURRENT state).
    * Same checkpoint/appId pairing contract as [[maintainView]]. */
  def maintainJoinViewDim(s: SparkSession, dimDir: String, viewDir: String,
                          factDir: String, factKeyCols: Seq[String],
                          fkCol: String, dimPkCol: String,
                          transform: DataFrame => DataFrame,
                          appId: String, checkpointDir: String,
                          viewPartitionCol: String,
                          statsCols: Seq[String] = Nil,
                          bloomCols: Seq[String] = Nil,
                          trigger: org.apache.spark.sql.streaming.Trigger =
                            org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    s.readStream.format("graft").option("path", dimDir)
      .option("readChangeFeed", "true").load()
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        maintainJoinViewDimBatch(s, viewDir, factDir, factKeyCols, fkCol,
          dimPkCol, transform, appId, id, batch, viewPartitionCol,
          statsCols, bloomCols, dimDir = dimDir)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  def scd2(s: SparkSession, dir: String,
           fromExclusive: Long, toInclusive: Long,
           keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "scd2 needs at least one key column")
    val feed = readChangeFeed(s, dir, fromExclusive, toInclusive)
    val metaCols = Set(GraftCdf.ChangeTypeCol, GraftCdf.CommitVersionCol,
      GraftCdf.CommitTimestampCol)
    val dataCols = feed.columns.filterNot(metaCols.contains)
    require(keyCols.forall(dataCols.contains),
      s"key columns ${keyCols.mkString(",")} must exist in the lake " +
        s"schema (${dataCols.mkString(",")})")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(GraftCdf.CommitVersionCol), col("__graft_scd_open"))
    feed
      .withColumn("__graft_scd_open",
        when(col(GraftCdf.ChangeTypeCol)
          .isin("insert", "update_postimage"), lit(1)).otherwise(lit(0)))
      .withColumn("__graft_scd_to",
        lead(col(GraftCdf.CommitVersionCol), 1).over(w))
      .filter(col("__graft_scd_open") === 1)
      .select(dataCols.map(col).toIndexedSeq ++ Seq(
        col(GraftCdf.CommitVersionCol).as("valid_from"),
        col("__graft_scd_to").as("valid_to"),
        col("__graft_scd_to").isNull.as("is_current")): _*)
  }

  /** Incremental [[scd2]] maintenance: extend an EXISTING history
    * table by one later feed window instead of recomputing from v0 —
    * the operator that makes the SCD2 build a maintainable derived
    * table (the engine's recompute-from-change-sets discipline applied
    * to its own history product). `history` must be the scd2 output
    * for some window ending at `fromExclusive`; the result is
    * row-identical to `scd2(0, toInclusive)` (the q179 oracle's law).
    *
    * Mechanics, all window-sized: a key's FIRST window event, when it
    * is a close (delete/update_preimage), closes the history's live
    * interval at that version; every open in the window starts an
    * interval exactly as in [[scd2]] (the lead pairing handles
    * in-window close/open chains). Cost: the feed legs ∝ changed rows,
    * one window shuffle over the feed, one key-equi join against the
    * history (broadcast when the window is small — the common case);
    * the history is never re-derived. */
  def scd2Increment(s: SparkSession, dir: String, history: DataFrame,
                    fromExclusive: Long, toInclusive: Long,
                    keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "scd2Increment needs at least one key column")
    val feed = readChangeFeed(s, dir, fromExclusive, toInclusive)
    val opened = when(col(GraftCdf.ChangeTypeCol)
      .isin("insert", "update_postimage"), lit(1)).otherwise(lit(0))
    val wFirst = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(GraftCdf.CommitVersionCol), col("__graft_scd_open"))
    // a key whose first window event CLOSES ends the history's live row
    val firstCloses = feed
      .withColumn("__graft_scd_open", opened)
      .withColumn("__graft_scd_rn", row_number().over(wFirst))
      .filter(col("__graft_scd_rn") === 1 && col("__graft_scd_open") === 0)
      .select(keyCols.map(col) :+
        col(GraftCdf.CommitVersionCol).as("__graft_scd_close_at"): _*)
    val closedHist = history.join(firstCloses, keyCols, "left")
      .withColumn("valid_to",
        when(col("is_current") && col("__graft_scd_close_at").isNotNull,
          col("__graft_scd_close_at")).otherwise(col("valid_to")))
      .withColumn("is_current",
        col("is_current") && col("__graft_scd_close_at").isNull)
      .drop("__graft_scd_close_at")
    // intervals opened INSIDE the window pair among themselves exactly
    // as in the full build
    val windowIntervals = {
      val metaCols = Set(GraftCdf.ChangeTypeCol, GraftCdf.CommitVersionCol,
        GraftCdf.CommitTimestampCol)
      val dataCols = feed.columns.filterNot(metaCols.contains)
      feed
        .withColumn("__graft_scd_open", opened)
        .withColumn("__graft_scd_to",
          lead(col(GraftCdf.CommitVersionCol), 1).over(wFirst))
        .filter(col("__graft_scd_open") === 1)
        .select(dataCols.map(col).toIndexedSeq ++ Seq(
          col(GraftCdf.CommitVersionCol).as("valid_from"),
          col("__graft_scd_to").as("valid_to"),
          col("__graft_scd_to").isNull.as("is_current")): _*)
    }
    closedHist.unionByName(windowIntervals)
  }

  /** The file-set half of [[readChanges]] — the files ADDED by
    * append/batch commits in (`fromExclusive`, `toInclusive`],
    * compact/delete commits invisible. ONE definition shared by the
    * Scala CDC read and the SQL surface's `startingVersion`/
    * `endingVersion` options ([[GraftLake]]), so the two cannot
    * drift. Requires the range's manifests to still exist (vacuum
    * retires them past the grace window — run CDC inside it, or raise
    * `keepVersions`). */
  private[core] def changedFiles(dir: String,
                                 fromExclusive: Long, toInclusive: Long): Vector[String] = {
    require(fromExclusive <= toInclusive,
      s"bad version range ($fromExclusive, $toInclusive]")
    def snap(v: Long): Snapshot = snapshotAt(dir, v).getOrElse(
      throw new IllegalStateException(
        s"manifest v$v of $dir is missing (retired by vacuum?) — " +
          "CDC must run inside the retention window"))
    ((fromExclusive + 1) to toInclusive).toVector.flatMap { v =>
      val cur = snap(v)
      // compaction rewrites bytes and deletion removes rows — neither
      // ADDS content, so both are invisible to the changes stream.
      // merge commits carry BOTH rewritten survivors and new rows in
      // their added files; emitting them would re-deliver carried rows,
      // so merge is CDC-invisible too (consumers needing row-level
      // change records use [[readChangeFeed]], which is exact for
      // merge-on-read mutations and — on lakes with
      // enableChangeDataFeed=true — for COW DML via commit-time
      // `_cdf/` sidecars; COW DML without the property refuses). restore
      // re-publishes files whose rows a consumer already received when
      // they were FIRST committed — emitting them would deliver every
      // restored row twice.
      if (cur.op == "compact" || cur.op == "delete" || cur.op == "merge" ||
          cur.op == "update" || cur.op == "restore" || cur.op == "rebucket" ||
          cur.op == "delete-dv" || // adds no files anyway — listed for intent
          cur.op == "update-dv") // its added files are rewritten IMAGES
        Vector.empty
      else {
        val prev = if (v == 1) Set.empty[String]
                   else snap(v - 1).files.toSet
        cur.files.filterNot(prev)
      }
    }
  }

  /** The file-skipping half of [[readWhere]], separated so callers
    * (and specs) can see exactly what pruning decided: files whose
    * tracked [min,max] cannot intersect [lo,hi] are dropped; files
    * without stats (or with stats of the other kind) are
    * conservatively kept. */
  def pruneFiles(snap: Snapshot, statsCol: String,
                 lo: BigDecimal, hi: BigDecimal): Vector[String] =
    pruneFilesBound(snap, statsCol, Bound.Num(lo), Bound.Num(hi))

  /** String-range pruning — source tags, language codes, ISO dates
    * (lexicographic = chronological): the string-keyed metadata scans
    * the reference serves from its JSONB GIN index become manifest
    * prunes here. Bounds compare in UTF-8 byte order on both sides
    * (manifest and engine), see [[Bound]]. */
  def pruneFilesString(snap: Snapshot, statsCol: String,
                       lo: String, hi: String): Vector[String] =
    pruneFilesBound(snap, statsCol, Bound.Str(lo), Bound.Str(hi))

  private def pruneFilesBound(snap: Snapshot, statsCol: String,
                              lo: Bound, hi: Bound): Vector[String] =
    snap.files.filter { f =>
      snap.stats.getOrElse(f, Vector.empty).find(_.col == statsCol) match {
        case Some(st) => st.overlaps(lo, hi)
        case None     => true
      }
    }

  /** Files that can hold ANY of `keyVals` on `col` — the point-lookup
    * rules ([[pruneFilesPoint]]) applied key-SET-wise: a file survives
    * when some key falls inside its range stats AND (when a bloom is
    * present and the probe kind is eligible) some key might be in its
    * bloom. Subtractive-only: files without metadata on `col`, or key
    * values the bound model can't type, are kept. Driver cost is
    * O(|files| · |keys|) worst case with early exit per file — the
    * MERGE detection planner's workhorse, exact for clustered AND
    * scattered deltas alike. */
  /** The lake's partition column, derived like the DSv2 table does:
    * the declared property, else the first file path's directory key
    * when it names a schema column. */
  private[core] def partitionColOf(snap: Snapshot): Option[String] =
    snap.declaredPartitionCol.orElse(
      snap.files.headOption.map(_.takeWhile(_ != '='))
        .filter(c => snap.schema.exists(_.fieldNames.contains(c))))

  private[core] def pruneFilesForKeys(snap: Snapshot, col: String,
                                      keyVals: Seq[Any]): Vector[String] = {
    def toBound(v: Any): Option[Bound] = v match {
      case s: String => Some(Bound.Str(s))
      case _         => numBound(v).map(Bound.Num)
    }
    val bounds = keyVals.map(toBound)
    if (bounds.exists(_.isEmpty)) return snap.files
    val bs = bounds.flatten.toIndexedSeq
    val bloomEligible = keyVals.headOption.exists(bloomProbeEligible(snap, col, _))
    // PARTITION-DIRECTORY layer: a partition column is
    // directory-encoded, never stored in the file — it has no footer
    // stats or blooms, so without this layer a partition-keyed probe
    // degrades to the full file list. Escaped like the writer escapes
    // (survives()'s rule), exact-match per key. Floating keys skip it:
    // `-0.0` equals `0.0` but names a different directory.
    val floating = keyVals.exists {
      case _: java.lang.Double | _: java.lang.Float => true
      case _ => false
    }
    val partDirs: Option[Set[String]] =
      if (floating || !partitionColOf(snap).contains(col)) None
      else Some(keyVals.map(v => s"$col=" +
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(String.valueOf(v))).toSet)
    snap.files.filter { f =>
      val rangeOk = snap.stats.getOrElse(f, Vector.empty).find(_.col == col) match {
        case Some(st) => bs.exists(b => st.overlaps(b, b))
        case None     => true
      }
      val partOk = partDirs.forall(_.contains(f.takeWhile(_ != '/')))
      rangeOk && partOk && (!bloomEligible ||
        (snap.blooms.getOrElse(f, Vector.empty).find(_.col == col) match {
          case Some(bf) => keyVals.exists(bf.mightContain)
          case None     => true
        }))
    }
  }

  /** Point-lookup pruning: min/max range skipping composed with the
    * per-file [[FileBloom]] membership test. On a clustered key the
    * range layer already nails the file; on an UNCLUSTERED
    * high-cardinality key (interleaved appends — every file's range
    * covers every probe) the bloom is what collapses "open the whole
    * lake" to "open the ~1 file that can contain v". Files without a
    * filter on `col` are conservatively kept, so the index is purely
    * subtractive — adding it can never lose rows. */
  def pruneFilesPoint(snap: Snapshot, col: String, value: Any): Vector[String] = {
    require(value != null, "point-lookup value must be non-null")
    val ranged = value match {
      case l: Long   => pruneFilesBound(snap, col, Bound.Num(BigDecimal(l)), Bound.Num(BigDecimal(l)))
      case i: Int    => pruneFilesBound(snap, col, Bound.Num(BigDecimal(i)), Bound.Num(BigDecimal(i)))
      case st: String => pruneFilesBound(snap, col, Bound.Str(st), Bound.Str(st))
      case _ => snap.files
    }
    if (!bloomProbeEligible(snap, col, value)) ranged
    else ranged.filter { f =>
      snap.blooms.getOrElse(f, Vector.empty).find(_.col == col) match {
        case Some(bf) => bf.mightContain(value)
        case None     => true
      }
    }
  }

  /** The bloom layer only fires when the probe's KIND provably
    * matches the committed column's kind: the filters were built from
    * the column's stored values, so a probe that Spark would satisfy
    * via type COERCION (a string "123" against a long column, a
    * double 123.0) hashes differently and would false-negative —
    * losing rows the pushed filter finds. Kind mismatch (or an
    * unknown schema) conservatively skips the bloom; the layer stays
    * purely subtractive. Shared by [[pruneFilesPoint]] and the SQL
    * surface's point pruning ([[GraftLake]]). */
  private[core] def bloomProbeEligible(snap: Snapshot, col: String, value: Any): Boolean = {
    // dotted = a struct-leaf path (nested blooms, r16), resolved by
    // walking the committed schema; a top-level field whose NAME
    // contains a literal dot wins over the walk, matching the stats
    // keying convention throughout
    def leafType(sc: org.apache.spark.sql.types.StructType)
        : Option[org.apache.spark.sql.types.DataType] =
      sc.fields.find(_.name == col).map(_.dataType).orElse {
        if (!col.contains('.')) None
        else col.split('.').toList.foldLeft(
          Option(sc: org.apache.spark.sql.types.DataType)) {
          case (Some(st: org.apache.spark.sql.types.StructType), seg) =>
            st.fields.find(_.name == seg).map(_.dataType)
          case _ => None
        }
      }
    val colType = snap.schema.flatMap(leafType)
    import org.apache.spark.sql.types._
    (value, colType) match {
      case (_: Long | _: Int | _: Short | _: Byte,
            Some(LongType | IntegerType | ShortType | ByteType)) => true
      case (_: String, Some(StringType)) => true
      case (_, None) => // no committed schema: trust only same-JVM-kind probes
        value.isInstanceOf[Long] || value.isInstanceOf[Int] ||
          value.isInstanceOf[String]
      case _ => false
    }
  }

  /** Needle-in-the-lake read: open only the files [[pruneFilesPoint]]
    * keeps, with the equality re-applied as a pushed parquet filter on
    * the survivors (a bloom false positive costs one wasted file open,
    * never a wrong row). */
  def readPoint(s: SparkSession, dir: String, col0: String, value: Any): DataFrame = {
    val snap = latestSnapshot(dir).getOrElse(
      throw new IllegalStateException(s"no committed manifest in $dir"))
    val phys = physicalStatsPath(snap, col0) // stats key on physical names
    val kept = pruneFilesPoint(snap, phys, value)
    if (kept.isEmpty) read(s, dir, Some(snap)).filter(lit(false))
    else
      toLogical(snap,
        lakeFiles(s, dir, snap, kept, snap.schema).filter(col(phys) === lit(value)))
  }

  /** Range/point read with manifest-level data skipping: only files
    * whose committed [min,max] can contain the range are OPENED — at
    * 100 TB on object storage the saved cost is the per-file
    * open+footer round trip itself, which Spark's own row-group
    * skipping still has to pay. The precise predicate is re-applied on
    * the survivors (stats prune files, they don't filter rows), and it
    * reaches the parquet scan as a pushed filter for row-group
    * skipping WITHIN the kept files — the two layers compose. */
  def readWhere(s: SparkSession, dir: String, statsCol: String,
                lo: BigDecimal, hi: BigDecimal): DataFrame = {
    // Long literals when exact (keeps the predicate parquet-pushable
    // on int64 keys); double only for genuinely fractional bounds.
    def bound(b: BigDecimal) = if (b.isWhole && b.isValidLong) lit(b.toLong) else lit(b.toDouble)
    readWhereBound(s, dir, statsCol, Bound.Num(lo), Bound.Num(hi), bound(lo), bound(hi))
  }

  /** [[readWhere]] over a string-tracked column; the residual
    * predicate pushes to the parquet scan as a string range filter. */
  def readWhereString(s: SparkSession, dir: String, statsCol: String,
                      lo: String, hi: String): DataFrame =
    readWhereBound(s, dir, statsCol, Bound.Str(lo), Bound.Str(hi), lit(lo), lit(hi))

  private def readWhereBound(s: SparkSession, dir: String, statsCol: String,
                             lo: Bound, hi: Bound,
                             loLit: org.apache.spark.sql.Column,
                             hiLit: org.apache.spark.sql.Column): DataFrame = {
    val snap = latestSnapshot(dir).getOrElse(
      throw new IllegalStateException(s"no committed manifest in $dir"))
    val phys = physicalStatsPath(snap, statsCol) // stats key on (possibly
    // dotted) physical names — nested leaves prune too
    val kept = pruneFilesBound(snap, phys, lo, hi)
    if (kept.isEmpty) read(s, dir, Some(snap)).filter(lit(false))
    else
      toLogical(snap,
        lakeFiles(s, dir, snap, kept, snap.schema)
          .filter(col(phys) >= loLit && col(phys) <= hiLit))
  }

  /** Morton (Z-order) interleave of two non-negative integer columns,
    * `bits` bits each — the derived cluster key that extends
    * [[compact]]'s one-dimensional `clusterBy` to TWO dimensions:
    * materialize `zValue(x, y)` at write, track stats on x AND y, and
    * cluster on z; the curve's locality co-locates both dimensions, so
    * each output file covers a tile and range predicates on EITHER
    * column prune from the same manifest stats (the full Delta
    * `ZORDER BY (x, y)` shape). Values must be < 2^bits; the
    * expression is plain shift/mask arithmetic — codegen'd, no UDF. */
  def zValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
             bits: Int = 16): org.apache.spark.sql.Column = {
    require(bits >= 1 && bits <= 31, s"bits out of range: $bits")
    // operands cast to LONG first: with IntegerType inputs the shift
    // amounts (up to 2*bits+1 ≥ 32 for the default 16) would wrap mod
    // 32 in int arithmetic and interleave into the sign bit — distinct
    // (x, y) silently colliding on one z, which degrades clustering
    // with no error anywhere
    val (al, bl) = (a.cast("long"), b.cast("long"))
    (0 until bits).map { i =>
      shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Auto-sized rewrite-pool bound: a per-unit rewrite is typically a
    * ONE-task job (the coalesce target), so a fixed 8-way pool leaves
    * 24 of 32 cores idle through a whole compaction — the r18 scale
    * probe measured q129's 20 rewrite jobs running ~8-at-a-time.
    * Scale the bound with the cluster's slot count, capped so a
    * 10k-partition lake can't flood the scheduler. */
  private def compactPoolBound(s: SparkSession): Int =
    math.min(64, math.max(8, s.sparkContext.defaultParallelism))

  /** Compact fragmented partitions of the latest snapshot and commit
    * the swap. Safe under concurrent appends AND concurrent compactors:
    * the rebase keeps files appended after our snapshot, and abandons
    * any partition whose inputs a faster compactor already replaced.
    *
    * With `clusterBy` set, compaction additionally RANGE-CLUSTERS each
    * rewritten partition on that column (the Delta `OPTIMIZE ... ZORDER
    * BY` analogue at one dimension): rewrites range-partition + sort
    * instead of coalescing, so each output file covers a narrow
    * disjoint value band and the manifest's min/max stats become
    * maximally selective for [[readWhere]] pruning. Idempotent via the
    * manifest alone: a partition whose files already carry PAIRWISE
    * DISJOINT `clusterBy` stats at or under the target file count is
    * provably clustered (within-file order never affects file-level
    * skipping) and is skipped without opening anything — a second
    * clustered compaction burns no version. */
  def compact(s: SparkSession, dir: String, partitionCol: String,
              targetRecordsPerFile: Long, maxConcurrent: Int = 0,
              clusterBy: Option[String] = None,
              onlyPartitions: Option[Set[String]] = None): Seq[CompactStat] = {
    // column mapping: name args arrive in user (logical) terms
    val m = latestSnapshot(dir).filter(_.mappingActive)
    def phys(c: String): String = m.fold(c)(physicalColName(_, c))
    val bound = if (maxConcurrent > 0) maxConcurrent else compactPoolBound(s)
    compactPhysical(s, dir, phys(partitionCol), targetRecordsPerFile, bound,
      clusterBy.map(phys), onlyPartitions)
  }

  /** [[compact]] over PHYSICAL column names. */
  private def compactPhysical(s: SparkSession, dir: String, partitionCol: String,
                              targetRecordsPerFile: Long, maxConcurrent: Int,
                              clusterBy: Option[String],
                              onlyPartitions: Option[Set[String]]): Seq[CompactStat] = {
    require(targetRecordsPerFile > 0,
      s"targetRecordsPerFile must be positive: $targetRecordsPerFile")
    val root = Paths.get(dir)
    val snap = latestSnapshot(dir).getOrElse(
      throw new IllegalStateException(s"no committed manifest in $dir"))

    // The unit of compaction: a partition directory — or, on a
    // bucketed lake, a (partition, bucket id) cell, so coalescing
    // NEVER mixes buckets and maintenance preserves the co-location
    // every SPJ plan relies on. Untagged files (SQL copy-on-write
    // rewrites) form their own per-partition cell and stay untagged.
    val bucketed = snap.declaredBucket.isDefined
    val allUnits: Map[(String, Option[Int]), Vector[String]] =
      snap.files.groupBy(f => (f.takeWhile(_ != '/'),
        if (bucketed) snap.buckets.get(f) else None))
    // `OPTIMIZE ... WHERE`: scope maintenance to named partition
    // directories (`col=value`, the Hive-escaped form the `$partitions`
    // metadata table reports) — footer reads, rewrites and the commit
    // delta are all proportional to the SCOPED partitions, which is
    // the whole point at 100 TB (compact today's landing partition,
    // not the lake). A name matching nothing refuses loudly: a typo'd
    // maintenance job that silently no-ops leaves small files forever.
    val byUnit: Map[(String, Option[Int]), Vector[String]] =
      onlyPartitions match {
        case None => allUnits
        case Some(keep) =>
          val present = allUnits.keysIterator.map(_._1).toSet
          val unknown = keep -- present
          require(unknown.isEmpty,
            s"unknown partition(s) ${unknown.mkString(", ")} — expected " +
              s"directory names like ${present.take(3).mkString(", ")}")
          allUnits.view.filterKeys { case (p, _) => keep(p) }.toMap
      }
    // Snapshot-consistent row counts from the manifest files' parquet
    // FOOTERS, keyed by the directory name the manifest already
    // carries — metadata reads, no Spark job, and no re-formatting of
    // the partition VALUE (a groupBy(partitionCol) count would need
    // its result textually re-escaped into Hive directory naming;
    // special characters / nulls / date formatting silently missed,
    // defaulting the partition's count to 0 and coalescing it to one
    // oversized file).
    val rowCounts: Map[(String, Option[Int]), Long] = {
      // NET of deletion vectors — the rewrite reads through them, so
      // output sizing must target the rows that will actually survive
      val perFile = parMapMeta(byUnit.toSeq.flatMap {
        case (unit, fs) => fs.map(f => (unit, f))
      }) { case (unit, f) => (unit, rowCount(s, root.resolve(f)) -
        snap.dvs.get(f).fold(0L)(_.count)) }
      perFile.groupBy(_._1).map { case (unit, cs) => unit -> cs.map(_._2).sum }
    }

    final case class Swap(pname: String, bucket: Option[Int], rows: Long,
                          olds: Vector[String], news: Vector[String]) {
      def key: String = pname + bucket.fold("")(b => s"#$b")
    }

    // A partition is provably clustered from the MANIFEST alone when
    // every file carries clusterBy stats and the [min,max] ranges are
    // pairwise disjoint (sorted by min, each max strictly below the
    // next min) — no file needs opening to decide.
    def alreadyClustered(olds: Vector[String]): Boolean = clusterBy.forall { c =>
      val bs = olds.map(f => snap.stats.getOrElse(f, Vector.empty).find(_.col == c))
      bs.forall(_.isDefined) && {
        val sorted = bs.flatten.sortWith((a, b) =>
          Bound.cmp(a.min, b.min).getOrElse(0) < 0)
        sorted.zip(sorted.drop(1)).forall { case (x, y) =>
          Bound.cmp(x.max, y.min).exists(_ < 0)
        }
      }
    }

    def compactOne(pname: String, bucket: Option[Int], olds: Vector[String])
        : Either[CompactStat, Swap] = {
      val rows = rowCounts.getOrElse((pname, bucket), 0L)
      val target = math.max(1L, (rows + targetRecordsPerFile - 1) / targetRecordsPerFile)
      // a unit holding any DV'd file is ALWAYS rewritten — compaction
      // is the deletion-vector purge path (applies the DV, re-packs,
      // and the dv entry drops with the old file)
      if (olds.length <= target && alreadyClustered(olds) &&
          !olds.exists(snap.dvs.contains))
        Left(CompactStat(pname.dropWhile(_ != '=').drop(1), rows, olds.length, olds.length))
      else {
        // Data files carry no partition column (it lives in the path),
        // so an explicit-file read without basePath yields exactly the
        // data schema to rewrite; shuffle-free coalesce bin-packs. With
        // a committed schema, the rewrite reads under it (minus the
        // partition column) so heterogeneous pre-evolution files
        // null-fill — compaction MIGRATES old files to the union
        // schema as a side effect.
        val stage = root.resolve(s".stage_${UUID.randomUUID()}")
        val dataSchema = snap.schema.map(sc =>
          org.apache.spark.sql.types.StructType(
            sc.fields.filterNot(_.name == partitionCol)))
        val base = lakeFiles(s, dir, snap, olds, dataSchema,
          restorePartitions = false)
        // bin-pack (shuffle-free) or range-cluster (one shuffle — the
        // price of disjoint per-file value bands)
        val packed = clusterBy match {
          case Some(c) =>
            base.repartitionByRange(target.toInt, col(c)).sortWithinPartitions(col(c))
          case None => base.coalesce(target.toInt)
        }
        packed.write.parquet(stage.toString)
        val dest = root.resolve(pname)
        val news = Vector.newBuilder[String]
        val fs = Files.list(stage)
        try fs.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach { f =>
            val unique = s"${UUID.randomUUID()}-${f.getFileName}"
            Files.move(f, dest.resolve(unique))
            news += s"$pname/$unique"
          }
        finally fs.close()
        deleteTree(stage)
        Right(Swap(pname, bucket, rows, olds, news.result()))
      }
    }

    // Per-unit rewrites are independent Spark jobs — submit them
    // through a bounded pool (same rationale as Layout.compactLake:
    // sequential submission pays each small job's scheduling round-trip
    // alone; the bound keeps a huge lake from flooding the scheduler).
    val parts = byUnit.toVector.sortBy(_._1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(maxConcurrent, parts.length)))
    val outcomes =
      try {
        import scala.concurrent.{Await, ExecutionContext, Future}
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        Await.result(
          Future.sequence(parts.map { case ((pname, bucket), olds) =>
            Future(compactOne(pname, bucket, olds))
          }),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()

    val untouched = outcomes.collect { case Left(st) => st }
    val swaps = outcomes.collect { case Right(sw) => sw }

    // Bloom rebuilds are data scans of the rewritten files — run them
    // ONCE, before the commit loop (the appendBatch rule: a CAS retry
    // must never re-run a Spark job). Uniformity is judged from the
    // pre-loop snapshot; a swap the rebase later abandons just has its
    // filters dropped by the commit's live-file filter. (The footer
    // stat jobs below stay inside the loop: those are metadata reads.)
    // ONE bloom-build job per distinct tracked-column SET, not one per
    // swapped partition (r17, guide §1.2 #1): a 20-partition compaction
    // of a uniformly-bloomed lake previously ran 20 tiny sequential
    // scan+collect jobs here — same per-file filters, 1/20th the
    // driver round-trips. Per-file sizing/keys are unchanged
    // (buildBlooms works file-wise; grouping only batches the scan).
    val rebuiltBlooms: Map[String, Vector[FileBloom]] = swaps
      .map { sw =>
        val uniform = sw.olds.map(f =>
            snap.blooms.getOrElse(f, Vector.empty).map(_.col).toSet)
          .reduceOption(_ intersect _).getOrElse(Set.empty)
        (uniform, sw.news)
      }
      .filter(_._1.nonEmpty)
      .groupBy(_._1)
      .flatMap { case (uniform, group) =>
        buildBlooms(s, dir, group.flatMap(_._2).toVector, uniform.toSeq.sorted)
      }

    // ONE commit for all swaps, rebased on whatever committed since our
    // snapshot. Per swapped partition: drop our olds, add our news, and
    // KEEP anything else (concurrent appends land after this commit too
    // — they only ever union paths in). If a faster compactor removed
    // any of our olds, our rewrite is stale double-work: abandon it and
    // delete our staged news.
    val abandoned = scala.collection.mutable.Set.empty[String]
    val committed = if (swaps.isEmpty) latestSnapshot(dir) else commitLoop(root) {
      case None => throw new IllegalStateException(s"manifest vanished from $dir")
      case Some(latest) =>
        val live = latest.files.toSet
        abandoned.clear()
        val (apply, drop) = swaps.partition(sw => sw.olds.forall(live.contains))
        abandoned ++= drop.map(_.key)
        if (apply.isEmpty && drop.nonEmpty) None // everything raced away; nothing to commit
        else {
          val removed = apply.flatMap(_.olds).toSet
          // Rewritten files inherit stats freshly from their own
          // footers IF the partition's olds were uniformly tracked on
          // one column (mixed/untracked partitions stay untracked —
          // never guess a pruning bound).
          // Every new file gets a footer read regardless (its row
          // count feeds the manifest's rows: segment); stats come
          // along for free when the olds were uniformly tracked.
          val metaJobs = apply.flatMap { sw =>
            val uniform = sw.olds.map(f =>
                latest.stats.getOrElse(f, Vector.empty).map(_.col).toSet)
              .reduceOption(_ intersect _).getOrElse(Set.empty)
            sw.news.map(f => (f, uniform.toSeq.sorted))
          }
          val metas = parMapMeta(metaJobs) { case (f, cols) =>
            f -> footerMeta(s, root.resolve(f), cols)
          }
          val newStats =
            metas.collect { case (f, (sts, _)) if sts.nonEmpty => f -> sts }.toMap
          val newRows = metas.map { case (f, (_, n)) => f -> n }.toMap
          Some(Ledger(latest.files.filterNot(removed.contains) ++ apply.flatMap(_.news),
            latest.txns, latest.stats -- removed ++ newStats, "compact",
            latest.schema,
            latest.blooms -- removed ++ rebuiltBlooms,
            latest.rows -- removed ++ newRows,
            // a rewritten cell's files inherit its bucket id — compact
            // on a bucketed lake PRESERVES full SPJ tag coverage
            buckets = apply.flatMap(sw =>
              sw.bucket.toSeq.flatMap(b => sw.news.map(_ -> b))).toMap))
        }
    }
    swaps.filter(sw => abandoned.contains(sw.key))
      .foreach(_.news.foreach(f => Files.deleteIfExists(root.resolve(f))))

    val swapStats = swaps.map { sw =>
      val after =
        if (abandoned.contains(sw.key))
          committed.map(_.files.count(_.startsWith(sw.pname + "/")).toLong)
            .getOrElse(sw.olds.length.toLong)
        else sw.news.length.toLong
      CompactStat(sw.pname.dropWhile(_ != '=').drop(1), sw.rows, sw.olds.length, after)
    }
    (untouched ++ swapStats).sortBy(_.partition)
  }

  /** Restores full SPJ bucket-tag coverage on a declared-bucket lake:
    * rewrites every file the manifest cannot prove single-bucket (SQL
    * copy-on-write UPDATEs/MERGEs leave such files) through the
    * bucketed stager and swaps them in one "rebucket" commit. The
    * degrade→repair contract: COW silently falls back to shuffled
    * (correct) plans; one rebucket — cost proportional to UNTAGGED
    * bytes, not lake size — turns the zero-shuffle join back on.
    * CDC-invisible (a byte rewrite, like compact). Returns the number
    * of files rewritten. */
  def rebucket(s: SparkSession, dir: String): Int = {
    val root = Paths.get(dir)
    val snap = latestSnapshot(dir).getOrElse(
      throw new IllegalStateException(s"no committed manifest in $dir"))
    val spec = snap.declaredBucket.getOrElse(throw new IllegalStateException(
      s"lake $dir declares no bucket layout — nothing to rebucket"))
    val untagged = snap.files.filterNot(snap.buckets.contains)
    if (untagged.isEmpty) return 0
    val partitionCol = untagged.head.takeWhile(_ != '=')
    val df = lakeFiles(s, dir, snap, untagged, snap.schema)
    val (news, newBuckets) = stageFiles(s, root, df, partitionCol,
      maxRecordsPerFile = 1024 * 1024, Map.empty, Some(spec))
    val statsCols = snap.stats.valuesIterator.flatten.map(_.col).toSeq.distinct.sorted
    val (newStats, newRows) = footerMetaAll(s, root, news, statsCols)
    val bloomCols = snap.blooms.valuesIterator.flatten.map(_.col).toSeq.distinct.sorted
    val newBlooms = buildBlooms(s, dir, news, bloomCols, newRows)
    val removedSet = untagged.toSet
    commitLoop(root) {
      case None => throw new IllegalStateException(s"manifest vanished from $dir")
      case Some(latest) =>
        if (!removedSet.forall(latest.files.contains))
          throw new IllegalStateException(
            "a concurrent commit replaced files this rebucket rewrote — " +
              "re-run against the new snapshot")
        Some(Ledger(latest.files.filterNot(removedSet.contains) ++ news,
          latest.txns, latest.stats -- removedSet ++ newStats, "rebucket",
          latest.schema,
          latest.blooms -- removedSet ++ newBlooms,
          latest.rows -- removedSet ++ newRows,
          buckets = newBuckets))
    }
    untagged.length
  }

  /** Default [[vacuum]] in-flight grace: anything modified in the last
    * 20 minutes is presumed to belong to a LIVE writer and skipped.
    * (Delta's analogue is the 7-day retention check you must
    * explicitly disable; ours is shorter because the window only has
    * to cover stage→commit, not reader lifetimes — readers are
    * protected by `keepVersions`.) */
  val DefaultVacuumGraceMillis: Long = 20L * 60 * 1000

  /** Reclaim files unreferenced by the last `keepVersions` manifests,
    * plus any stale staging directory. Readers are given `keepVersions`
    * of grace — the Delta VACUUM trade, with versions standing in for
    * wall-clock retention (no clocks → deterministic tests).
    *
    * Concurrent-WRITER safety is mtime-based: a live writer's staged
    * directory, and files it already hard-renamed into partition
    * directories but has not yet committed, are indistinguishable
    * from crash garbage by name — deleting them would let the
    * writer's subsequent CAS commit publish a manifest naming dead
    * files. Anything younger than `graceMillis` is therefore skipped;
    * a writer whose stage→commit window exceeds the grace is the
    * operator's contract to avoid (raise the grace, or run vacuum in
    * a write-quiet window). Tests pass `graceMillis = 0` to assert
    * reclamation deterministically in single-writer setups. */
  /** RESTORE: roll the lake back to `toVersion`'s content as a NEW
    * commit (Delta's `RESTORE TABLE` — undo a bad delete/merge without
    * rewriting history; time travel still reads every intermediate
    * version). The restored commit re-publishes the target's file
    * list, stats, blooms AND schema, but KEEPS the newest txn
    * high-waters — restoring data must not reset streaming
    * exactly-once tracking, or every in-flight writer would replay
    * already-delivered batches into the restored lake. Fails loudly
    * (listing the casualties) if vacuum already reclaimed any of the
    * target's data files — a restore that silently served a partial
    * corpus would be worse than no restore. Restoring to the current
    * version is a no-op returning the latest snapshot. Metadata-only
    * otherwise: no data file is read, written or moved; one manifest
    * parse + one CAS commit. */
  def restore(dir: String, toVersion: Long): Snapshot = {
    val root = Paths.get(dir)
    val target = snapshotAt(dir, toVersion).getOrElse(
      throw new IllegalStateException(
        s"cannot restore $dir to v$toVersion: that manifest is gone " +
          "(vacuumed) or was never committed"))
    val missing = (target.files ++ target.dvs.valuesIterator.map(_.path))
      .filterNot(f => Files.exists(root.resolve(f)))
    if (missing.nonEmpty) throw new IllegalStateException(
      s"cannot restore $dir to v$toVersion: ${missing.length} of its data " +
        s"files were vacuumed — first: ${missing.take(3).mkString(", ")}")
    // a CDF-enabled lake's restore must record its row-level change
    // (downstream IVM/SCD2 consumers ride the feed through it) — that
    // needs a Spark job, so this metadata-only entry refuses any
    // content-CHANGING restore and directs to the SparkSession
    // overload. A content-identical restore records nothing and stays
    // metadata-only. The refusal is evaluated against the snapshot the
    // CAS actually lands on (inside the commit loop), not a pre-read
    // one: a concurrent enableChangeDataFeed=true or data commit
    // between a check-outside and the CAS would otherwise let a
    // content-changing restore commit WITHOUT sidecars, and later
    // feed windows spanning it would refuse even though the overload
    // contract says they ride through.
    commitLoop(root) { latest =>
      if (latest.exists(_.version == toVersion)) None // already there
      else {
        latest.foreach { cur =>
          if (cur.cdfEnabled &&
              (cur.files != target.files || cur.dvs != target.dvs))
            throw new IllegalStateException(
              s"restore of $dir to v$toVersion changes rows on a lake with " +
                s"$PropCdfEnabled=true — use restore(spark, dir, toVersion), " +
                "which records the change as commit-time sidecars")
        }
        // dvs are the target's EXACT set (Some, not inherit): restoring
        // past a DV delete must resurrect its rows, so the newer DV
        // entry on a shared file must not ride along
        Some(Ledger(target.files,
          latest.map(_.txns).getOrElse(Map.empty),
          target.stats, "restore", target.schema, target.blooms, target.rows,
          buckets = target.buckets, dvs = Some(target.dvs)))
      }
    }.get
  }

  /** [[restore]] with a change record: on a lake with
    * `enableChangeDataFeed=true`, the restore commit carries its
    * row-level change as `_cdf/` sidecars — the exact
    * current→target multiset diff ([[cdfRestoreDiff]]: reverted
    * deletions re-report as `insert`, reverted inserts/updates as
    * `delete`/`insert` pairs) — so [[readChangeFeed]] windows and CDF
    * streams ride THROUGH a restore instead of dying, and a
    * feed-maintained view (q174's discipline) stays maintainable
    * across one. On a lake without the property this is exactly the
    * metadata-only [[restore]]. The diff races a concurrent commit by
    * aborting (the sidecars describe the snapshot they diffed; a
    * rebase would publish a stale record) — re-run on conflict. */
  def restore(s: SparkSession, dir: String, toVersion: Long): Snapshot = {
    val cur = latestSnapshot(dir).getOrElse(throw new IllegalStateException(
      s"no committed manifest in $dir — nothing to restore"))
    if (!cur.cdfEnabled || cur.version == toVersion)
      return restore(dir, toVersion)
    val root = Paths.get(dir)
    val target = snapshotAt(dir, toVersion).getOrElse(
      throw new IllegalStateException(
        s"cannot restore $dir to v$toVersion: that manifest is gone " +
          "(vacuumed) or was never committed"))
    val missing = (target.files ++ target.dvs.valuesIterator.map(_.path))
      .filterNot(f => Files.exists(root.resolve(f)))
    if (missing.nonEmpty) throw new IllegalStateException(
      s"cannot restore $dir to v$toVersion: ${missing.length} of its data " +
        s"files were vacuumed — first: ${missing.take(3).mkString(", ")}")
    val cdfStaged = cdfRestoreDiff(s, dir, cur, target)
    commitLoop(root) {
      case None => throw new IllegalStateException(s"manifest vanished from $dir")
      case Some(latest) =>
        if (latest.version == toVersion) None // already there
        else if (latest.version != cur.version) throw new IllegalStateException(
          s"a concurrent commit landed on $dir during the restore's " +
            s"change-record diff (v${cur.version}→v${latest.version}) — " +
            "re-run restore against the new snapshot")
        else Some(Ledger(target.files, latest.txns,
          target.stats, "restore", target.schema, target.blooms, target.rows,
          buckets = target.buckets, dvs = Some(target.dvs), cdf = cdfStaged))
    }.get
  }

  /** `RESTORE TABLE ... TO TIMESTAMP AS OF` — [[restore]] addressed by
    * commit wall time, resolved with exactly [[snapshotAsOfTimestamp]]'s
    * rule (highest retained version whose `#ts` ≤ the instant; the
    * skew argument there applies verbatim). Refuses when every
    * retained timestamped commit is later than the instant — a
    * restore "to before the lake existed" has no defined content. */
  def restoreToTimestamp(dir: String, tsMillis: Long): Snapshot = {
    val target = snapshotAsOfTimestamp(dir, tsMillis).getOrElse(
      throw new IllegalStateException(
        s"cannot restore $dir to timestamp $tsMillis: every retained " +
          "commit is later (or undated)"))
    restore(dir, target.version)
  }

  /** [[restoreToTimestamp]] with a change record — the CDF-aware
    * [[restore]] overload, addressed by commit wall time. */
  def restoreToTimestamp(s: SparkSession, dir: String,
                         tsMillis: Long): Snapshot = {
    val target = snapshotAsOfTimestamp(dir, tsMillis).getOrElse(
      throw new IllegalStateException(
        s"cannot restore $dir to timestamp $tsMillis: every retained " +
          "commit is later (or undated)"))
    restore(s, dir, target.version)
  }

  /** Zero-copy CLONE (Delta's `CREATE TABLE ... CLONE`, at an optional
    * `VERSION AS OF`): materialize `srcDir`'s snapshot as a brand-new,
    * fully INDEPENDENT lake at `dstDir` without copying a data byte.
    * Every data file and DV sidecar in the snapshot is HARD-LINKED
    * into the clone at its relative path — an O(files) metadata
    * operation at any data size (the same no-replace link primitive
    * the manifest CAS rides), valid because committed bytes are
    * immutable by construction: no commit path ever writes a data or
    * DV file in place (appends stage fresh names, compaction/COW
    * rewrite to fresh names, MoR writes fresh sidecars), so two lakes
    * sharing inodes can never observe each other's mutations. Either
    * side may then append/DML/compact/vacuum freely: removal is
    * unlink, and a shared inode survives until its LAST referent
    * unlinks it, so `vacuum` on one side can never corrupt the other
    * (pinned in CloneSpec). A cross-filesystem destination degrades
    * to per-file copy — same contract, no longer zero-copy. (On an
    * object store, the same design point is manifest-level absolute
    * references; on a filesystem lake, links ARE that reference,
    * with the kernel refcounting lifetime.)
    *
    * The clone's history starts fresh at v1 (op "clone"): per-file
    * metadata (schema, declared layout props — minus `analyze.*`,
    * whose version stamp is source-relative — stats/blooms/rows/
    * buckets, deletion vectors) carries over verbatim — the skipping
    * index and MoR state survive the clone — but source HISTORY does
    * not (time travel below the clone point belongs to the source,
    * Delta's model exactly), streaming `#txn` high-waters do not
    * (exactly-once is per-DESTINATION: carrying them would make a
    * writer redirected at the clone silently SKIP batches it never
    * delivered here), and `#cdf` change-sidecar references do not
    * (change records are per-commit history). Refuses a destination
    * that already holds a committed lake — CLONE creates, never
    * merges; a crash-interrupted clone may be safely re-run (links
    * already present are kept, the manifest commits last). */
  def clone(srcDir: String, dstDir: String,
            versionAsOf: Option[Long] = None,
            timestampAsOf: Option[Long] = None): Snapshot = {
    val srcRoot = Paths.get(srcDir)
    val dstRoot = Paths.get(dstDir)
    require(srcRoot.toAbsolutePath.normalize != dstRoot.toAbsolutePath.normalize,
      s"clone source and destination are the same directory: $srcDir")
    require(versionAsOf.isEmpty || timestampAsOf.isEmpty,
      "clone takes at most one of versionAsOf / timestampAsOf")
    val snap = (versionAsOf, timestampAsOf) match {
      case (Some(v), _) => snapshotAt(srcDir, v).getOrElse(
        throw new IllegalStateException(
          s"cannot clone $srcDir at v$v: that manifest is gone (retired " +
            "by vacuum) or was never committed"))
      case (_, Some(ts)) => snapshotAsOfTimestamp(srcDir, ts).getOrElse(
        throw new IllegalStateException(
          s"cannot clone $srcDir at timestamp $ts: every retained " +
            "commit is later (or undated)"))
      case _ => latestSnapshot(srcDir).getOrElse(
        throw new IllegalStateException(
          s"no committed manifest in $srcDir — nothing to clone"))
    }
    require(versions(dstDir).isEmpty,
      s"clone destination $dstDir already holds a committed lake — " +
        "CLONE creates, never merges")
    Files.createDirectories(dstRoot)
    val payload =
      snap.files ++ snap.dvs.valuesIterator.map(_.path).toVector.distinct
    payload.foreach { f =>
      val from = srcRoot.resolve(f)
      val to = dstRoot.resolve(f)
      if (!Files.exists(from)) throw new IllegalStateException(
        s"cannot clone $srcDir at v${snap.version}: its file $f was " +
          "already vacuumed — clone from a retained version")
      Files.createDirectories(to.getParent)
      // crash-rerun safety: a destination file left by an earlier
      // interrupted clone is adopted only if its size matches the
      // source — a hard link is atomic (always matches), but a legacy
      // or foreign partial copy must be redone, never committed over
      if (Files.exists(to) && Files.size(to) != Files.size(from))
        Files.delete(to)
      if (!Files.exists(to)) {
        try Files.createLink(to, from)
        catch {
          // cross-device (EXDEV) or a filesystem without links:
          // degrade to a copy — staged to a temp name and atomically
          // renamed into place, so a crash mid-copy can never leave a
          // truncated file under the final name for a re-run to adopt
          case _: UnsupportedOperationException |
               _: java.nio.file.FileSystemException =>
            val tmp = Files.createTempFile(to.getParent, ".clone_", ".tmp")
            try {
              Files.copy(from, tmp,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
              Files.move(tmp, to,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            } finally { Files.deleteIfExists(tmp); () }
        }
      }
    }
    commitLoop(dstRoot) {
      case Some(existing) => throw new IllegalStateException(
        s"clone destination $dstDir gained a commit mid-clone " +
          s"(v${existing.version}) — aborting; clone into a fresh directory")
      // analyze.* props do NOT carry over: analyze.version refers to
      // the SOURCE's version numbering, meaningless against the
      // clone's fresh v1 history — carrying it would make
      // Cbo.persistedStats staleness judgment on the clone a lie.
      // A clone wanting CBO stats re-runs ANALYZE (one scan).
      case None => Some(Ledger(snap.files, Map.empty, snap.stats, "clone",
        snap.schema, snap.blooms, snap.rows,
        props = Some(snap.props.filterNot(_._1.startsWith("analyze."))),
        buckets = snap.buckets, dvs = Some(snap.dvs)))
    }.get
  }

  /** MAINTAINER REGISTRY (the vacuum/view-maintenance coupling — r15
    * verdict "what's missing" #1): an incrementally maintained view
    * reads its source's change sidecars for every window PAST its
    * high-water, and the min/max rescan leg additionally reads the
    * source AT the window-end version ([[maintainAggViewBatch]]'s
    * `snapshotAt(srcDir, endV)`). Both fail LOUDLY if a vacuum retired
    * those versions first — correct, but nothing prevented it: an
    * operator running aggressive retention against a lagging view
    * strands the view with only a crash to show for it. The reference
    * never had the failure mode (PostgreSQL MVCC plus its claim
    * queues hold derived-work state transactionally —
    * maintain_database.py's incremental loop); the lake needs the
    * coupling made explicit.
    *
    * One file per maintainer under `srcDir/_maintainers/` (appId
    * URL-encoded as the filename; body `view:`/`hw:`/`ts:` lines),
    * written atomically (temp + ATOMIC_MOVE) so a concurrent vacuum
    * reads a whole record or none. [[maintainViewBatch]] and
    * [[maintainAggViewBatch]] refresh it after every committed batch
    * with the window's max `_commit_version`; [[vacuum]] keeps every
    * version STRICTLY ABOVE the oldest registered high-water (the
    * maintainer has drained through hw, so hw and below owe it
    * nothing; everything above feeds its next window and rescan).
    * Metadata-only source commits write no change rows, so the
    * recorded hw can lag them — vacuum then over-protects by a few
    * versions, which is the protective direction. A decommissioned
    * maintainer must [[deregisterMaintainer]] or it pins retention
    * forever — same operational contract as a Kafka consumer group
    * holding offsets. A malformed registry file fails the vacuum
    * loudly (never silently unprotects). */
  final case class Maintainer(appId: String, viewDir: String,
                              highWater: Long, heartbeatMillis: Long)

  private[core] val MaintainersDir = "_maintainers"

  private def maintainerPath(root: Path, appId: String): Path =
    root.resolve(MaintainersDir).resolve(
      java.net.URLEncoder.encode(appId, "UTF-8"))

  /** The maintainer high-water observation for a CDF batch, or None
    * when no registration will happen (no `srcDir`). A registered
    * maintainer REQUIRES the CDF version column — silently skipping
    * registration would leave the view unprotected from vacuum. */
  private def maintainerObservation(batch: DataFrame,
                                    srcDir: Option[String])
      : Option[org.apache.spark.sql.Observation] =
    srcDir.map { sd =>
      require(batch.columns.contains(GraftCdf.CommitVersionCol),
        s"maintainer registration against $sd needs the " +
          s"${GraftCdf.CommitVersionCol} column on the batch — drive " +
          "the maintainer from the change feed, or pass srcDir=None")
      org.apache.spark.sql.Observation()
    }

  /** The committed window's max source version, read from the batch's
    * observed metric ([[org.apache.spark.sql.Observation]]): the
    * `max(_commit_version)` rides whatever actions the maintenance
    * fold already ran over the persisted batch (`CollectMetricsExec`
    * in the cached plan), so registration costs NO extra Spark job —
    * an explicit per-batch agg compounded across a drain's
    * micro-batches into ~35% of the q184 bench row (r16 A/B).
    * Metric delivery rides the async `QueryExecutionListener` bus, so
    * the await after the fold's last action is normally instant; if
    * it never lands (every consumer served from a pre-observe cache —
    * not a path the maintainers have, but belt-and-braces), fall back
    * to the one tiny agg over the still-persisted batch. An empty
    * window observes SQL-NULL → None → the pin floor only moves
    * forward. */
  private def observedHighWater(obs: org.apache.spark.sql.Observation,
                                b: DataFrame): Option[Long] = {
    try {
      val r = scala.concurrent.Await.result(
        obs.future, scala.concurrent.duration.Duration(2, "s"))
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    } catch {
      case _: java.util.concurrent.TimeoutException =>
        val hw = b.agg(max(col(GraftCdf.CommitVersionCol))).head()
        if (hw.isNullAt(0)) None else Some(hw.getLong(0))
    }
  }

  def registerMaintainer(srcDir: String, appId: String, viewDir: String,
                         highWater: Long): Unit = {
    require(appId.nonEmpty && !appId.contains('\n'),
      "maintainer appId must be a non-empty single line")
    val root = Paths.get(srcDir)
    val dir = root.resolve(MaintainersDir)
    Files.createDirectories(dir)
    val body = s"view:$viewDir\nhw:$highWater\nts:${System.currentTimeMillis()}\n"
    val tmp = Files.createTempFile(dir, ".maint_", ".tmp")
    try {
      Files.write(tmp, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Files.move(tmp, maintainerPath(root, appId),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally { Files.deleteIfExists(tmp); () }
  }

  def deregisterMaintainer(srcDir: String, appId: String): Unit = {
    Files.deleteIfExists(maintainerPath(Paths.get(srcDir), appId))
    ()
  }

  /** Registered maintainers of `srcDir`, sorted by appId. Throws on a
    * malformed record: vacuum must fail protective, never skip a
    * maintainer it cannot parse. */
  def maintainers(srcDir: String): Vector[Maintainer] = {
    val dir = Paths.get(srcDir).resolve(MaintainersDir)
    if (!Files.isDirectory(dir)) return Vector.empty
    val st = Files.list(dir)
    val names =
      try st.iterator().asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith(".")).toVector
      finally st.close()
    names.sorted.flatMap { n =>
      val lines =
        try Files.readAllLines(dir.resolve(n)).asScala.toVector
        catch { case _: java.io.IOException => Vector.empty } // raced dereg
      if (lines.isEmpty) None
      else {
        def field(k: String): String = lines.find(_.startsWith(s"$k:"))
          .map(_.drop(k.length + 1)).getOrElse(throw new IllegalStateException(
            s"malformed maintainer record $srcDir/$MaintainersDir/$n: " +
              s"missing '$k:' — repair or deregister it before vacuuming"))
        Some(Maintainer(java.net.URLDecoder.decode(n, "UTF-8"),
          field("view"), field("hw").toLong, field("ts").toLong))
      }
    }
  }

  /** `retainMillis` is the restore-safety window (Delta's
    * `delta.deletedFileRetentionDuration` analogue): any version whose
    * commit wall time is within the window keeps BOTH its manifest and
    * its data files, however many newer versions exist — so a restore
    * to any version inside the window always succeeds, no matter how
    * aggressive `keepVersions` is. A pre-`#ts:` manifest (no wall time)
    * is treated as inside the window — retention must fail PROTECTIVE,
    * never reclaim what it cannot date. `retainMillis = 0` is the
    * version-count-only contract (deterministic tests). */
  /** `dryRun = true` reports what a real run WOULD reclaim (same
    * census, same cutoffs) and touches nothing — the audit step before
    * an aggressive retention change (Delta's `VACUUM ... DRY RUN`). */
  /** The vacuum's half of the vacuum/publish handshake (see
    * [[PublishLog.publish]]'s post-CAS re-verify): on a lake that
    * declared `publish.coord`, the vacuum lands this marker BEFORE
    * reading the publish pins, and a publisher's post-CAS verify
    * waits out a fresh marker before trusting its members — each side
    * records its intent before checking the other's, so a publish
    * that returns success can never lose a member to a racing
    * retention pass. */
  private[core] val VacuumIntentMarker = "_vacuum.intent"

  /** Test seam: runs at the top of each delete-phase lease check with
    * the phase name, BEFORE the marker's age is read — PublishSpec
    * ages the marker here to pin the two-sided-lease abort. Production
    * value is a no-op. */
  @volatile private[core] var beforeVacuumPhase: String => Unit = _ => ()

  /** `maintainerStaleMillis` — the operator's escape hatch from an
    * ABANDONED maintainer (see [[registerMaintainer]]): 0 (default)
    * honors every registered record — protective, a paused view is
    * still a view; a positive value IGNORES records whose heartbeat
    * is older than the window, so a decommissioned-but-never-
    * deregistered maintainer stops pinning retention once the
    * operator explicitly says how stale is dead. Never automatic:
    * the default can strand nothing. */
  def vacuum(dir: String, keepVersions: Int = 2,
             graceMillis: Long = DefaultVacuumGraceMillis,
             retainMillis: Long = 0L,
             dryRun: Boolean = false,
             maintainerStaleMillis: Long = 0L): Long = {
    val root = Paths.get(dir)
    val latest = latestSnapshot(dir).getOrElse(return 0L)
    val mdir = root.resolve(ManifestDir)
    val coordOpt = latest.props.get(PropPublishCoord)
    val marker = root.resolve(VacuumIntentMarker)
    val useMarker = coordOpt.isDefined && !dryRun
    if (useMarker) {
      try Files.createFile(marker)
      catch { case _: FileAlreadyExistsException =>
        Files.setLastModifiedTime(marker,
          java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      }
    }
    try {
    val keepFrom = latest.version - math.max(1, keepVersions) + 1
    val retainCutoff = System.currentTimeMillis() - math.max(0L, retainMillis)
    // vanished-path tolerant: a CONCURRENT vacuum may retire a manifest
    // between a listing and this read — an undatable manifest is
    // treated as inside the window (kept; deleteIfExists makes the
    // double-delete harmless), never a crash
    def manifestTs(v: Long): Option[Long] =
      try Files.readAllLines(manifestPath(root, v)).asScala
        .find(_.startsWith("#ts:")).map(_.drop(4).toLong)
      catch { case _: java.io.IOException => None }
    def retainedByTime(v: Long): Boolean =
      retainMillis > 0L && manifestTs(v).forall(_ >= retainCutoff)
    /** TWO-SIDED LEASE (the suspended-vacuum hole): a publisher stops
      * trusting this vacuum's `_vacuum.intent` marker
      * [[PublishLog.VacuumIntentStaleMillis]] after its mtime — so a
      * vacuum SUSPENDED past that window (VM pause, cgroup freeze)
      * must not wake up and resume deleting under a lease the other
      * side already stopped honoring. Re-checked before every delete
      * phase; a stale (or vanished) marker aborts the sweep loudly
      * with nothing further deleted. */
    def requireLeaseFresh(phase: String): Unit = if (useMarker) {
      beforeVacuumPhase(phase)
      val age = try System.currentTimeMillis() -
        Files.getLastModifiedTime(marker).toMillis
      catch { case _: java.io.IOException => Long.MaxValue }
      if (age >= PublishLog.VacuumIntentStaleMillis)
        throw new IllegalStateException(
          s"vacuum of $dir ABORTED before its $phase phase: its " +
            s"$VacuumIntentMarker marker is ${age / 1000}s old — " +
            "publishers stop honoring the lease after " +
            s"${PublishLog.VacuumIntentStaleMillis / 1000}s, so a " +
            "suspended vacuum must not resume deleting; re-run it")
    }
    val allVersions: Vector[Long] = {
      val st = Files.list(mdir)
      try st.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
        .map(_.drop(1).toLong).toVector
      finally st.close()
    }
    // publish-aware retention: a lake that declared its coordinator
    // (`publish.coord`) keeps every version the newest
    // `publish.retain` (default 2) publish vectors name for it — so
    // automated retention can never make the CURRENT (or the
    // one-before, covering an in-flight consumer that resolved it)
    // cross-lake snapshot unreadable. Resolution is by normalized
    // absolute path: the vector records the path the publisher used,
    // which need not be spelled identically to this vacuum's `dir`.
    // (read AFTER the intent marker landed — the handshake's ordering —
    // and over LIVE vectors only: a retracted vector pins nothing)
    val pinnedByPublish: Set[Long] = coordOpt match {
      case None => Set.empty
      case Some(coord) =>
        val k = latest.props.get(PropPublishRetain)
          .flatMap(_.toIntOption).getOrElse(2)
        val me = root.toAbsolutePath.normalize
        PublishLog.liveVersions(coord).takeRight(k).flatMap { seq =>
          // a vector RETRACTED between the listing and this read pins
          // nothing — skip it, don't crash the vacuum
          try PublishLog.vectorAt(coord, seq).collectFirst {
            case (d, v) if Paths.get(d).toAbsolutePath.normalize == me => v
          }
          catch {
            case _: IllegalStateException | _: IllegalArgumentException =>
              None
          }
        }.toSet
    }
    // maintainer-aware retention (see [[registerMaintainer]]): every
    // version STRICTLY ABOVE the oldest registered high-water stays —
    // manifests, data files, DVs AND change sidecars (the protected-
    // snapshot resolution below carries all four) — so a lagging
    // view's next feed window and its min/max rescan can never be
    // stranded by retention. Read AFTER the intent marker landed,
    // like the publish pins.
    val maintainerFloor: Option[Long] = {
      val cutoff =
        if (maintainerStaleMillis <= 0L) Long.MinValue
        else System.currentTimeMillis() - maintainerStaleMillis
      maintainers(dir).filter(_.heartbeatMillis >= cutoff)
        .map(_.highWater).minOption
    }
    def pinnedByMaintainer(v: Long): Boolean =
      maintainerFloor.exists(v > _)
    val protectedVersions = allVersions.filter(v =>
      v >= keepFrom || retainedByTime(v) || pinnedByPublish.contains(v) ||
        pinnedByMaintainer(v))
    // Protection reads the RESOLVED snapshot of each protected version
    // (a delta manifest's raw body is only its edit list — scanning it
    // for paths would silently unprotect every file the delta inherits
    // from its base: vacuum past the grace window would delete LIVE
    // data). parseManifest resolves full and delta manifests alike.
    val protectedSnaps = protectedVersions.map(v => parseManifest(root, v))
    val referenced: Set[String] =
      protectedSnaps.flatMap(_.files).toSet
    // DV sidecars referenced by any protected version stay; the rest
    // (superseded by a union rewrite, or their data file left the
    // ledger) are reclaimable garbage like unreferenced parquet
    val referencedDvs: Set[String] =
      protectedSnaps.flatMap(_.dvs.valuesIterator.map(_.path)).toSet
    // change sidecars are per-commit records: they live exactly as
    // long as the manifest whose `#cdf:` headers name them
    val referencedCdf: Set[String] = protectedSnaps.flatMap(_.cdfFiles).toSet
    val cutoff = System.currentTimeMillis() - math.max(0L, graceMillis)
    // a racing writer deletes its own .stage_ dir (and a racing vacuum
    // may reclaim a candidate) between our listing and this stat — a
    // vanished path is simply nothing to reclaim, never a crash
    def oldEnough(p: Path): Boolean =
      try Files.getLastModifiedTime(p).toMillis <= cutoff
      catch { case _: java.io.IOException => false }
    var reclaimed = 0L
    requireLeaseFresh("data-file sweep")
    val top = Files.list(root)
    try top.iterator().asScala.foreach { p =>
      val name = p.getFileName.toString
      if (name.startsWith(".stage_")) {
        if (oldEnough(p)) {
          if (!dryRun) {
            try deleteTree(p)
            catch { case _: java.io.IOException => () } // vanished mid-walk
          }
          reclaimed += 1
        }
      } else if (Files.isDirectory(p) && name.contains("=")) {
        requireLeaseFresh(s"data-file sweep ($name)")
        val fs = Files.list(p)
        try fs.iterator().asScala
          .filter(f => f.getFileName.toString.endsWith(".parquet"))
          .filterNot(f => referenced.contains(s"$name/${f.getFileName}"))
          .filter(oldEnough)
          .foreach { f => if (!dryRun) { Files.deleteIfExists(f); () }; reclaimed += 1 }
        finally fs.close()
      } else if (Files.isDirectory(p) && name == DvStore.DvDir) {
        requireLeaseFresh("DV sweep")
        val fs = Files.list(p)
        try fs.iterator().asScala
          .filter(f => f.getFileName.toString.endsWith(".dv"))
          .filterNot(f => referencedDvs.contains(s"$name/${f.getFileName}"))
          .filter(oldEnough)
          .foreach { f => if (!dryRun) { Files.deleteIfExists(f); () }; reclaimed += 1 }
        finally fs.close()
      } else if (Files.isDirectory(p) && name == CdfDir) {
        requireLeaseFresh("CDF sweep")
        val fs = Files.list(p)
        try fs.iterator().asScala
          .filter(f => f.getFileName.toString.endsWith(".parquet"))
          .filterNot(f => referencedCdf.contains(s"$name/${f.getFileName}"))
          .filter(oldEnough)
          .foreach { f => if (!dryRun) { Files.deleteIfExists(f); () }; reclaimed += 1 }
        finally fs.close()
      }
    } finally top.close()
    // Retire manifests that fell out of BOTH retention contracts (their
    // files are already unprotected, so the history they describe is
    // gone). A time-retained manifest keeps its version addressable —
    // restore/time-travel to it stays whole for the full window.
    // A protected DELTA additionally pins its #base chain: those base
    // manifests stay on disk (they are the resolution substrate, at
    // most ManifestCheckpointEvery-1 of them) but do NOT protect their
    // own files — reading such a version may fail loudly once its
    // unique files are reclaimed, exactly as if the manifest itself
    // had been retired ([[restore]] pre-checks and refuses cleanly).
    val protectedSet: Set[Long] = {
      val seen = scala.collection.mutable.Set.empty[Long]
      def walk(v: Long): Unit =
        if (seen.add(v)) baseVersionOf(root, v).foreach(walk)
      protectedVersions.foreach(walk)
      seen.toSet
    }
    val retiredNow = scala.collection.mutable.Set.empty[Long]
    if (!dryRun) {
      requireLeaseFresh("manifest retirement")
      val st2 = Files.list(mdir)
      try st2.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith("v") && n.drop(1).forall(_.isDigit) && {
            val v = n.drop(1).toLong
            // the retention PREDICATE re-evaluates on this FRESH
            // listing — membership in the census-time protected set
            // alone would retire any version committed DURING the
            // vacuum (it post-dates the census, so it was in neither
            // allVersions nor protectedSet): a racing writer's
            // just-committed manifest would vanish, silently losing
            // the commit. v >= keepFrom covers every late commit
            // (they are all above the census latest).
            v < keepFrom && !protectedSet.contains(v) &&
              !retainedByTime(v) && !pinnedByMaintainer(v)
          }
        }
        .foreach { p =>
          if (Files.deleteIfExists(p))
            retiredNow += p.getFileName.toString.drop(1).toLong
        }
      finally st2.close()
    }
    // POST-DELETE RETRACTION SWEEP (the vacuum's second half of the
    // handshake): a vector whose CAS landed after this vacuum's pin
    // read but whose publisher's verify ran before these deletes would
    // otherwise be armed-but-broken. Any live vector naming a version
    // of THIS lake retired in THIS run is tombstoned — its publisher's
    // own verify either already threw (never returned success) or will
    // find the retraction; no consumer can pin it.
    if (!dryRun) coordOpt.foreach { coord =>
      val me = root.toAbsolutePath.normalize
      PublishLog.liveVersions(coord).foreach { seq =>
        try {
          PublishLog.vectorAt(coord, seq).foreach { case (d, v) =>
            if (Paths.get(d).toAbsolutePath.normalize == me &&
                retiredNow.contains(v))
              PublishLog.retract(coord, seq)
          }
        } catch { case _: IllegalStateException => () } // raced retraction
      }
    }
    reclaimed
    } finally { if (useMarker) { Files.deleteIfExists(marker); () } }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => { Files.deleteIfExists(q); () })
      finally walk.close()
    }
}
