package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.util.ConcurrentModificationException

import graft.Tables
import graft.sources.ManifestPrune
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{Bridge, ManifestFile, ManifestScan, StatsWrite}
import org.apache.spark.sql.types.DecimalType

/** A minimal transaction log over immutable parquet files — the public
  * Delta/Iceberg-style snapshot protocol (SURVEY.md §2A), sized to what the
  * maintenance operators actually need:
  *
  *   table/
  *     data/<uuid>/part-*.parquet   immutable; never rewritten in place
  *     _log/00000000.manifest      '#op=<operation>' header, then one
  *     _log/00000001.manifest      live file per line — bare relative
  *                                 path, or path TAB col TAB min TAB max
  *                                 when committed with per-file stats
  *
  * The COMMIT is the atomic unit: a writer stages new parquet files under a
  * fresh uuid dir (invisible — no manifest references them), then PUBLISHES
  * the next manifest as `NNNNNNNN.manifest` by an atomic create-if-absent
  * ([[LogFile.publish]]: a hard link on the local filesystem, a rename on
  * HDFS — both refuse an existing name), so of two racing writers, in one
  * process or in two, exactly one wins version N and the loser retries
  * against N — the compare-and-swap at the heart of every public table
  * format. Every other log file (pends, transaction markers, tags, branch
  * refs, merge marks, checkpoints) is published and read through the same
  * module.
  *
  * Readers resolve a snapshot by reading ONE manifest and scanning exactly
  * the files it lists — never by listing the data directory. That single
  * rule is what upgrades q44-style maintenance from "rewrites a directory"
  * (a concurrent reader sees a mixed file set) to "commits a snapshot":
  * compaction/z-order/upsert stage + commit, and a reader pinned to version
  * V keeps reading V's exact files no matter how many commits land after it.
  *
  * Scale notes: the manifest holds file PATHS, not data — O(#files), read
  * once on the driver per snapshot resolution (the same driver-side metadata
  * cost as any file listing, minus the eventual-consistency hazards).
  * Production formats shard manifests + checkpoint them; one file per
  * version is the honest minimum that preserves the semantics.
  */
object TxnTable {

  private val D12 = DecimalType(12, 2)

  private def fs(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private[graft] def logDir(table: String): Path = new Path(table, "_log")

  private def manifestPath(table: String, v: Long): Path =
    new Path(logDir(table), f"$v%08d.manifest")

  /** Committed versions, ascending. `.tmp-*` files (a crashed writer's
    * half-written manifest) don't match the suffix and are invisible.
    * A `.pend.` manifest (a multi-table transaction's prepared slot) is
    * visible IFF its transaction's arbiter says commit — recovery then
    * finalizes it right here (one rename), so a transaction that
    * crashed between its marker and its renames completes on the next
    * read of the lagging table. In-flight and aborted pends are
    * invisible; the no-pend common case costs no extra I/O (the names
    * are already in the listing this method always does). */
  def versions(s: SparkSession, table: String): Seq[Long] = {
    val ld = logDir(table)
    val f = fs(s, ld)
    if (!f.exists(ld)) Seq.empty
    else {
      val names = f.listStatus(ld).toSeq.map(_.getPath.getName)
      val committed = names.filter(_.endsWith(".manifest"))
        .map(_.stripSuffix(".manifest").toLong)
      val recovered = names.filter(PendRe.matches)
        .flatMap(n => resolvePend(s, table, n, abortInFlight = false))
      (committed ++ recovered).distinct.sorted
    }
  }

  def currentVersion(s: SparkSession, table: String): Long = {
    val vs = versions(s, table)
    require(vs.nonEmpty, s"$table has no committed version")
    vs.last
  }

  /** Per-file, per-column statistics: value range plus NULL count. An
    * all-null file carries the EMPTY range (lo > hi) — it can never
    * intersect a value box, but its null count keeps it visible to
    * IS NULL pruning. */
  case class ColStat(col: String, lo: Long, hi: Long, nulls: Long)

  /** Per-file STRING-column statistics: truncated [lo, hi] bounds plus
    * null count. Bounds are conservative under truncation — `lo` is a
    * prefix (≤ every value), `hi` a prefix with its last char bumped
    * (≥ every value) — so pruning stays sound however long the values
    * are (the public Iceberg bound-truncation recipe). Comparisons are
    * binary/ASCII-faithful; the manifest encodes bounds base64 so tabs
    * or newlines in data can never corrupt the line format. */
  case class StrStat(col: String, lo: String, hi: String, nulls: Long)

  /** Per-file mergeable NDV sketch: a base64 Apache DataSketches HLL
    * over an indexed column's values, written at stage time. Unlike a
    * scalar distinct-count estimate, sketches UNION losslessly — the
    * table-level NDV of any file subset is one driver-side merge of
    * O(#files) kilobyte sketches, never a data scan — which is what lets
    * snapshot-read joins make stats-driven broadcast decisions without
    * an ANALYZE pass (see [[ndv]] / [[snapshotJoinNdv]]). lgK=8 (256
    * buckets, ~±6% error) keeps the manifest line compact. `rows` is
    * the file's exact row count, measured by the same pass — the
    * cardinality stat every production manifest carries. */
  case class HllStat(col: String, sketch: String, rows: Long)

  /** One manifest entry: a live file plus per-file column stats — zero or
    * more (column, min, max, nulls) groups, integral or string — for
    * manifest-level data skipping. Multiple columns give
    * MULTI-dimensional skipping: with a z-ordered layout every file has
    * a tight bounding box in each indexed dimension, so a box predicate
    * prunes on all of them at once; null counts let IS NULL predicates
    * prune too (the Iceberg/Delta stat triple).
    *
    * `seq` is the DATA SEQUENCE NUMBER: the commit sequence under which
    * this file was first added (carried verbatim ever after; on a
    * table's own timeline it equals the version number — a shallow
    * clone's later commits continue above the source's). Merge-on-read
    * tombstones carry their own commit seq and apply ONLY to entries
    * with a SMALLER one — the Iceberg-v2 rule that lets appends, merges
    * and deletes commit on top of pending tombstones: a row (re)written
    * after the tombstone was committed is newer than the delete and
    * must not be re-deleted by it. */
  case class Entry(path: String, stats: Seq[ColStat],
      strStats: Seq[StrStat] = Nil, seq: Long = 0L,
      hlls: Seq[HllStat] = Nil, bytes: Long = -1L) {
    def statFor(c: String): Option[(Long, Long)] =
      stats.collectFirst { case ColStat(`c`, lo, hi, _) => (lo, hi) }
    def nullsFor(c: String): Option[Long] =
      stats.collectFirst { case ColStat(`c`, _, _, n) => n }
    def strStatFor(c: String): Option[(String, String)] =
      strStats.collectFirst { case StrStat(`c`, lo, hi, _) => (lo, hi) }
    def hllFor(c: String): Option[String] =
      hlls.collectFirst { case HllStat(`c`, sk, _) => sk }
  }

  /** Log-file reads since process start — instrumentation for the
    * checkpointing contract (history must read O(1) + tail, not
    * O(versions)); incremented on every manifest or checkpoint open. */
  private[graft] val logReads = new java.util.concurrent.atomic.AtomicLong

  /** Version `v`'s manifest through one [[LogFile]] reader — its whole
    * text, or a [[manifestHeader]] walk — counted as one log read;
    * refuses a version that is not (or no longer) in the log. */
  private def readLog[A](s: SparkSession, table: String, v: Long)(
      read: (FileSystem, Path) => Option[A]): A = {
    val mp = manifestPath(table, v)
    val r = read(fs(s, mp), mp).getOrElse(throw new IllegalArgumentException(
      s"$table version $v not found (vacuumed or never committed)"))
    logReads.incrementAndGet()
    r
  }

  /** `walk` over version `v`'s leading `#` header lines only: headers
    * lead the file (#format, #op, #ts, #metrics in that fixed order), so
    * a walk that stops early costs O(header) whatever the table's file
    * count — what lets commit carry its parent's timestamp and ledger,
    * and a lineage scan read metrics, without parsing entry lines. */
  private def manifestHeader[A](s: SparkSession, table: String, v: Long)(
      walk: Iterator[String] => A): A =
    readLog(s, table, v)(LogFile.header(_, _)(walk))

  /** The `#ts=` commit timestamp of a header walk (−1 for pre-timestamp
    * manifests); stops at the `#ts=` line. */
  private def tsOf(header: Iterator[String]): Long =
    header.collectFirst { case l if l.startsWith("#ts=") =>
      l.stripPrefix("#ts=").toLong }.getOrElse(-1L)

  /** Read ONLY metric `key` from version `v`'s `#metrics=` header (−1
    * when absent) — [[mergeBranch]]'s resume scan walks a lineage with
    * it instead of fully parsing every manifest's entry lines
    * (O(commits) tiny reads, never O(commits × table files)). */
  private[operators] def manifestHeaderMetric(s: SparkSession,
      table: String, v: Long, key: String): Long =
    manifestHeaderMetrics(s, table, v).getOrElse(key, -1L)

  /** Every metric of version `v`'s `#metrics=` header: the walk stops at
    * the first line past #format/#op/#ts (≤4 lines, one open). */
  private[operators] def manifestHeaderMetrics(s: SparkSession,
      table: String, v: Long): Map[String, Long] =
    manifestHeader(s, table, v)(_.find(l => !(l.startsWith("#format=") ||
        l.startsWith("#op=") || l.startsWith("#ts="))))
      .filter(_.startsWith("#metrics="))
      .fold(Map.empty[String, Long])(
        _.stripPrefix("#metrics=").split(',').toSeq.flatMap { kv =>
          val i = kv.lastIndexOf(':')
          if (i < 0) None else Some(kv.take(i) -> kv.drop(i + 1).toLong)
        }.toMap)

  /** One fully-parsed manifest — a snapshot resolution or a guarded
    * write reads and parses the log file ONCE and threads this struct
    * through, instead of re-opening the same manifest for each facet
    * (on an object store every open is a GET). */
  /** A committed per-file bloom-filter sidecar: `dir` holds a parquet of
    * (f: file name, w: word index, b: 64 bits) rows — the split-into-
    * words bit set of a bloom over column `col`, `m` bits and `k`
    * hashes per file. Sidecar files, not manifest lines: blooms are
    * data-sized metadata (Iceberg stores them in Puffin files for the
    * same reason), so they are BUILT in one distributed pass and stored
    * as ordinary parquet, while the manifest carries only this O(1)
    * reference. */
  case class BloomRef(dir: String, col: String, m: Long, k: Int)

  case class Manifest(op: String,
      schema: Option[org.apache.spark.sql.types.StructType],
      deletes: Seq[(String, String, Long)], entries: Seq[Entry],
      hdrIdx: Option[Seq[String]] = None,
      hdrStrIdx: Option[Seq[String]] = None,
      blooms: Seq[BloomRef] = Nil,
      ts: Long = -1L,
      metrics: Map[String, Long] = Map.empty,
      cdcRefs: Seq[String] = Nil,
      fmt: Long = ManifestFormat,
      retired: Seq[(Long, String)] = Nil,
      checks: Seq[(String, String)] = Nil,
      txns: Map[String, Long] = Map.empty) {
    def liveFiles: Seq[String] = entries.map(_.path)
    // the index column set prefers the `#index=` header: deriving it from
    // entry stats alone loses the index whenever a version legitimately
    // carries no stat groups (a delete that emptied the table down to the
    // zero-row sentinel file), permanently downgrading every later
    // append/merge/compact to unindexed staging
    def idxCols: Seq[String] =
      hdrIdx.getOrElse(entries.flatMap(_.stats.map(_.col)).distinct)
    def strIdxCols: Seq[String] =
      hdrStrIdx.getOrElse(entries.flatMap(_.strStats.map(_.col)).distinct)
  }

  /** Read + parse version `v`'s manifest. Line format: `#op=`/`#schema=`
    * /`#delete=` metadata headers, then one live file per line — `path`
    * followed by zero or more `<TAB>col<TAB>min<TAB>max<TAB>nulls` stat
    * groups (written by [[stageIndexed]]). */
  /** Current manifest format version, written as a `#format=` header.
    * v6 = `#delete=` tombstone headers record the key column's
    * PHYSICAL name (stable across RENAME/DROP COLUMN — what lets
    * column mapping proceed while tombstones are pending); v5 lines
    * recorded the logical-at-delete-time name, which ≤5 writers kept
    * current by refusing renames/drops, so the parse boundary maps
    * them forward through the manifest's own schema.
    * v5 = entry lines may carry ONE per-file byte-size group
    * (`~b TAB bytes TAB 0 TAB 0` — the reserved `~b` name can never
    * collide with a column: stageIndexed rejects names ending in a
    * stat-kind suffix) alongside the others; a v4 reader would collect
    * `~b` as a value stat on a phantom column, hence the bump. Sizes
    * make the table's total byte weight manifest metadata — the input
    * to broadcast-side planning ([[tableBytes]]), where bytes beat row
    * counts whenever row width is skewed. v4 = entry lines may carry
    * NDV-sketch groups (`col~h TAB b64 TAB 0
    * TAB 0` — still 4 fields, so the carried-line field-count invariant
    * holds) alongside stat groups; a v3 reader would mis-parse the
    * base64 as a bound, hence the bump. v3 = entry lines carry a data
    * sequence number after the path
    * (`path TAB seq TAB groups…`), tombstone headers carry their commit
    * seq (`#delete=path TAB col TAB seq`). v2 = 4-field stat groups
    * without seqs (read as seq 0; pre-seq tombstones apply to all of
    * them — exactly the behavior those manifests were written under).
    * A manifest WITHOUT the header is parsed as the OLDEST format, v1 —
    * 3-field integral-only (col, min, max) groups, read with nulls
    * UNKNOWN (−1), which every consumer treats conservatively — so
    * pre-header tables stay readable instead of failing a line-level
    * parse. (4-field manifests from the short headerless span before
    * `#format=` existed are indistinguishable from v1 and out of scope:
    * every table here is per-run scratch, and a production format would
    * have carried its version header from day one.) A NEWER format
    * fails with a clear unsupported-format error, never a cryptic
    * field-count require. */
  private val ManifestFormat = 6L

  def manifest(s: SparkSession, table: String, v: Long): Manifest = {
    val lines = readLog(s, table, v)(LogFile.read).linesIterator.toSeq
    val fmt = lines.find(_.startsWith("#format="))
      .map(_.stripPrefix("#format=").toLong).getOrElse(1L)
    require(fmt <= ManifestFormat,
      s"$table version $v uses manifest format $fmt; this reader " +
        s"understands <= $ManifestFormat")
    val op = lines.find(_.startsWith("#op="))
      .map(_.stripPrefix("#op=")).getOrElse("write")
    val schema = lines.find(_.startsWith("#schema=")).map(l =>
      org.apache.spark.sql.types.DataType.fromJson(l.stripPrefix("#schema="))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    val deletes0 = lines.filter(_.startsWith("#delete=")).map { l =>
      l.stripPrefix("#delete=").split('\t') match {
        case Array(p, c, sq) => (p, c, sq.toLong)
        // pre-seq tombstone: seq 1 — above every legacy entry (they all
        // read seq 0, and r8 writers refused to add entries past a
        // pending tombstone) but SMALL, so commit's newSeq = max+1 can
        // never overflow the way a MaxValue sentinel would
        case Array(p, c) => (p, c, 1L)
        case other => throw new IllegalArgumentException(
          s"bad tombstone line: ${other.mkString("\t")}")
      }
    }
    // In-memory invariant: tombstone key names are PHYSICAL. Format ≥6
    // records them physical on disk; ≤5 recorded the key's LOGICAL
    // name — and ≤5 writers refused rename/drop while tombstones were
    // pending, so THIS manifest's own schema maps it to the stable
    // physical name at the parse boundary.
    val deletes =
      if (fmt >= 6 || deletes0.isEmpty) deletes0
      else {
        val pm = schema.fold(Map.empty[String, String])(
          _.fields.iterator.map(f => f.name -> physName(f))
            .filter { case (l, p) => l != p }.toMap)
        deletes0.map { case (p, c, sq) => (p, pm.getOrElse(c, c), sq) }
      }
    def idxHdr(prefix: String): Option[Seq[String]] =
      lines.find(_.startsWith(prefix)).map(_.stripPrefix(prefix))
        .map(v => if (v.isEmpty) Seq.empty else v.split(',').toSeq)
    val blooms = lines.filter(_.startsWith("#bloom=")).map { l =>
      val Array(dir, c, m, k) = l.stripPrefix("#bloom=").split('\t')
      BloomRef(dir, c, m.toLong, k.toInt)
    }
    val groupLen = if (fmt >= 2) 4 else 3
    val seqField = if (fmt >= 3) 1 else 0 // v3: `path TAB seq` lead fields
    val entries = lines.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { line =>
        val parts = line.split('\t')
        require(parts.length % groupLen == 1 + seqField,
          s"bad manifest line: $line")
        val seq = if (seqField == 1) parts(1).toLong else 0L
        val groups = parts.drop(1 + seqField).grouped(groupLen).toSeq
        val stats = groups.collect {
          case Array(c, lo, hi, n) if !c.endsWith("~s") && !c.endsWith("~h") &&
              c != "~b" =>
            ColStat(c, lo.toLong, hi.toLong, n.toLong)
          case Array(c, lo, hi) => // legacy v1: null count unknown
            ColStat(c, lo.toLong, hi.toLong, -1L)
        }
        val bytes = groups.collectFirst {
          case Array("~b", b, _, _) => b.toLong
        }.getOrElse(-1L)
        val strs = groups.collect {
          case Array(c, lo, hi, n) if c.endsWith("~s") =>
            StrStat(c.stripSuffix("~s"), b64dec(lo), b64dec(hi), n.toLong)
        }
        val hlls = groups.collect {
          case Array(c, sk, n, _) if c.endsWith("~h") =>
            HllStat(c.stripSuffix("~h"), sk, n.toLong)
        }
        Entry(parts.head, stats, strs, seq, hlls, bytes)
      }
    val ts = lines.find(_.startsWith("#ts="))
      .map(_.stripPrefix("#ts=").toLong).getOrElse(-1L)
    // `#metrics=k:v,...` — the commit's operation metrics (file-level
    // accounting a DML commit records; Delta's commitInfo shape)
    val metrics = lines.find(_.startsWith("#metrics="))
      .map(_.stripPrefix("#metrics=").split(',').toSeq
        .filter(_.nonEmpty)
        .map { kv =>
          val Array(k, v) = kv.split(':')
          (k, v.toLong)
        }.toMap).getOrElse(Map.empty[String, Long])
    // `#cdc=<rel>` — THE commit's published change-feed files (per
    // version, not cumulative): readers resolve the feed from manifests
    // alone, O(new commits) per tail trigger, never a directory listing
    // that grows with total feed history
    val cdcRefs = lines.filter(_.startsWith("#cdc="))
      .map(_.stripPrefix("#cdc="))
    // `#retired=gid:b64(phys),...` — physical names of DROPPED columns,
    // cumulative: an ADD COLUMN reusing one mints a fresh physical name
    // (by-name parquet resolution would otherwise resurrect the dropped
    // column's values from old files)
    val retired = lines.find(_.startsWith("#retired="))
      .map(_.stripPrefix("#retired=").split(',').toSeq.filter(_.nonEmpty)
        .map { kv =>
          val Array(id, p) = kv.split(':')
          (id.toLong, b64dec(p))
        }).getOrElse(Nil)
    // `#check=name TAB b64(sql)` — write-time CHECK constraints,
    // cumulative table metadata like the index headers
    val checks = lines.filter(_.startsWith("#check=")).map { l =>
      val Array(n, e) = l.stripPrefix("#check=").split('\t')
      (n, b64dec(e))
    }
    // `#txn=appId TAB batchId` — the idempotent-writer ledger (Delta's
    // txnAppId/txnVersion shape), cumulative: every commit carries the
    // map forward, so the CURRENT manifest always answers "has (app,
    // batch) already landed" with one header read, at any log length
    val txns = lines.filter(_.startsWith("#txn=")).map { l =>
      val Array(a, b) = l.stripPrefix("#txn=").split('\t')
      (b64dec(a), b.toLong)
    }.toMap
    Manifest(op, schema, deletes, entries,
      idxHdr("#index="), idxHdr("#strindex="), blooms, ts, metrics, cdcRefs,
      fmt, retired, checks, txns)
  }

  /** The operation metrics version `v`'s commit recorded in its
    * `#metrics=` header (empty for commits that record none) — the
    * in-log answer to "what did that DELETE/MERGE actually touch",
    * readable by anyone with the log, surviving the session that ran
    * the statement. This is how SQL DML accounting reaches scenario
    * assertions: from the manifest, not a smuggled global. */
  def commitMetrics(s: SparkSession, table: String, v: Long = -1L)
      : Map[String, Long] = {
    val ver = if (v < 0) currentVersion(s, table) else v
    manifest(s, table, ver).metrics
  }

  private def b64enc(v: String): String =
    java.util.Base64.getEncoder.encodeToString(v.getBytes(UTF_8))
  private def b64dec(v: String): String =
    new String(java.util.Base64.getDecoder.decode(v), UTF_8)

  /** UTF-8 binary-order string comparison — the SAME order Spark's
    * min/max and string filters use. Java's code-unit compareTo
    * disagrees with it for supplementary characters vs [U+E000,U+FFFF],
    * so manifest-side pruning must compare the encoded bytes, not the
    * UTF-16 units. */
  private[graft] def u8cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

  /** Iceberg-style conservative bound truncation at 16 chars: the lower
    * bound truncates to a prefix (≤ every value in UTF-8 order); the
    * upper bound bumps the truncated prefix's last char (≥ every value
    * with that prefix). Truncation must never mint an unpaired UTF-16
    * surrogate — getBytes would silently encode it as '?' and the
    * persisted bound could sort BELOW the data it must cover — so a cut
    * or bump that lands in surrogate space falls back to dropping the
    * split char (lower: still a prefix) or keeping the full value
    * (upper: correctness over compactness). */
  private[graft] def truncLower(v: String): String =
    if (v.length <= 16) v
    else {
      val t = v.take(16)
      if (Character.isHighSurrogate(t.last)) t.init else t
    }
  private[graft] def truncUpper(v: String): String =
    if (v.length <= 16) v
    else {
      val t = v.take(16)
      val bumped = (t.last + 1).toChar
      // ANY surrogate last char falls back: a HIGH one is itself unpaired
      // after the cut; a LOW one (e.g. U+103FF's \uDFFF, whose bump
      //  is innocently non-surrogate) leaves t.init ending with the
      // pair's now-unpaired HIGH surrogate — getBytes would encode that
      // as '?' and the persisted bound could sort BELOW the data
      if (Character.isSurrogate(t.last) || Character.isSurrogate(bumped)
        || t.last == Char.MaxValue) v
      else t.init + bumped
    }

  /** The live-file entries of version `v` (one log read; callers
    * touching several manifest facets should use [[manifest]] once). */
  def liveEntries(s: SparkSession, table: String, v: Long): Seq[Entry] =
    manifest(s, table, v).entries

  private def checkpointPath(table: String, v: Long): Path =
    new Path(logDir(table), f"$v%08d.checkpoint")

  // ---- NAMED TAGS: durable version pins (the Iceberg tag shape) ----

  private def refsDir(table: String): Path = new Path(logDir(table), "refs")

  /** Create an immutable TAG `name` → committed version `v`: one tiny
    * ref file under `_log/refs/`. `VERSION AS OF '<name>'` resolves it
    * by name, and [[vacuum]] KEEPS a tagged version's manifest and
    * files however far retention advances — a tag is the durable
    * audit/repro pin (the dataset release, the model-training
    * snapshot) that plain retention can't provide. Tags are immutable:
    * re-tagging a name is refused ([[deleteTag]] first — a silently
    * moved tag would un-pin what someone is depending on). */
  def tag(s: SparkSession, table: String, name: String, v: Long): Unit = {
    require(name.nonEmpty &&
      name.forall(c => c.isLetterOrDigit || "._-".contains(c)),
      s"tag name '$name' must be [A-Za-z0-9._-]+")
    require(name.toLongOption.isEmpty,
      s"tag name '$name' would shadow a version number")
    require(versions(s, table).contains(v),
      s"$table: cannot tag version $v (vacuumed or never committed)")
    // tags and branches share the `VERSION AS OF '<name>'` namespace:
    // a tag shadowed by a same-named branch would silently turn an
    // immutable pin into a mutable head — refuse the collision here
    require(!branches(s, table).exists(_._1 == name),
      s"$table: a branch named '$name' exists — tags and branches " +
        "share the VERSION AS OF namespace (drop_branch first)")
    val rd = refsDir(table)
    val f = fs(s, rd)
    f.mkdirs(rd)
    val dst = new Path(rd, name)
    require(!f.exists(dst),
      s"$table: tag '$name' already exists (tags are immutable — " +
        "deleteTag first)")
    // the same create-if-absent as manifests: two racers, one winner
    if (!LogFile.publish(f, logDir(table), dst, s"$v\n"))
      throw new ConcurrentModificationException(
        s"$table: tag '$name' was created concurrently")
  }

  /** All tags, (name, version), name-sorted. */
  def tags(s: SparkSession, table: String): Seq[(String, Long)] = {
    val rd = refsDir(table)
    val f = fs(s, rd)
    if (!f.exists(rd)) Seq.empty
    else f.listStatus(rd).toSeq.map(_.getPath).flatMap { p =>
      LogFile.read(f, p).map(txt => (p.getName, txt.trim.toLong))
    }.sortBy(_._1)
  }

  /** Remove tag `name` (false if absent). The version it pinned joins
    * ordinary retention at the next vacuum. */
  def deleteTag(s: SparkSession, table: String, name: String): Boolean = {
    val p = new Path(refsDir(table), name)
    val f = fs(s, p)
    f.exists(p) && f.delete(p, false)
  }

  // ---- NAMED WRITABLE BRANCHES: `_log/refs-branch/` heads ----

  private def branchRefsDir(table: String): Path =
    new Path(logDir(table), "refs-branch")

  /** The DEFAULT directory a branch's own log + staged data live
    * under — INSIDE the parent table's directory, so the branch
    * travels with the table, but outside `data/` so the parent's
    * vacuum listing never sees branch files. The ref file records the
    * branch's ACTUAL dir leaf (see [[branchDir(s,table,name)*]]): a
    * name whose default dir is occupied by a dropped branch's remains
    * gets a fresh uuid-suffixed leaf instead. */
  def branchDir(table: String, name: String): String =
    s"$table/_branches/$name"

  /** The branch's ACTUAL directory: the dir leaf its ref file records.
    * A dropped branch's directory is never deleted or reused — a
    * pre-drop [[fastForward]] may have published absolute references
    * into it — so re-creating the name allocates a fresh leaf, and
    * every reader must resolve through the ref rather than assume the
    * default layout. Legacy refs (no recorded leaf) resolve to the
    * default. */
  def branchDir(s: SparkSession, table: String, name: String): String =
    branchInfo(s, table, name) match {
      case Some(r) => s"$table/_branches/${r.leaf}"
      case None => branchDir(table, name)
    }

  /** A branch ref's recorded state: the PARENT version the branch is
    * based on (the fast-forward precondition), the branch's dir leaf,
    * and `localBase` — the BRANCH-lineage version whose content is
    * identical to parent@base (what [[rebase]] diffs and three-way-
    * merges against; parent@base's own manifest may be vacuumed, the
    * branch's copy is shielded). */
  case class BranchRef(base: Long, leaf: String, localBase: Long)

  /** The ref recorded for branch `name`, if it exists. */
  def branchInfo(s: SparkSession, table: String, name: String)
      : Option[BranchRef] = {
    val p = new Path(branchRefsDir(table), name)
    LogFile.read(fs(s, p), p).map { txt =>
      val parts = txt.trim.split('\t')
      // a ref without a recorded localBase predates rebase support: 0
      // is only correct for a never-fast-forwarded branch, and an old
      // fast-forward cannot be distinguished from none — record the
      // UNKNOWN sentinel and let rebase refuse it loudly
      BranchRef(parts(0).toLong,
        if (parts.length > 1) parts(1) else name,
        if (parts.length > 2) parts(2).toLong else -1L)
    }
  }

  /** Create a named WRITABLE BRANCH at the table's current version —
    * the Iceberg branch-ref shape, built on the shallow-clone
    * machinery: the branch is its own manifest lineage (under
    * [[branchDir]]) whose version 0 references the parent's current
    * live files by absolute path (one manifest write, zero data
    * moved). Commits addressed to the branch advance the BRANCH's
    * version counter — the parent's timeline does not move — and
    * [[fastForward]] publishes the branch head back onto the parent as
    * one commit. The ref file records the parent version the branch
    * lineage is based on (the fast-forward precondition). Unlike a tag
    * (an immutable pin) a branch is a divergent writable lineage;
    * like a tag, [[vacuum]] shields every parent file a branch still
    * references. */
  def branch(s: SparkSession, table: String, name: String): Long = {
    require(name.nonEmpty &&
      name.forall(c => c.isLetterOrDigit || "._-".contains(c)),
      s"branch name '$name' must be [A-Za-z0-9._-]+")
    // dot-prefixed leaves are RESERVED for internal state beside the
    // branch dirs (`.merges/` merge-base markers):
    // a branch literally named '.merges' would claim the marker dir as
    // its live directory and a later vacuum of it would sweep every
    // pair's merge-base marker as orphans
    require(!name.startsWith("."),
      s"branch name '$name' is reserved (names must not start with '.')")
    require(name.toLongOption.isEmpty,
      s"branch name '$name' would shadow a version number")
    // the mirror of tag()'s guard: a branch created under a live tag's
    // name would repoint `VERSION AS OF '<name>'` from an immutable,
    // vacuum-shielded pin to a mutable head (branches resolve first)
    require(!tags(s, table).exists(_._1 == name),
      s"$table: a tag named '$name' exists — tags and branches share " +
        "the VERSION AS OF namespace (deleteTag first)")
    val base = currentVersion(s, table)
    // A previously dropped branch's directory is NEVER reused: a
    // pre-drop fastforward may have published absolute references into
    // it (parent manifests point at `_branches/<leaf>/data/...`), so
    // deleting or renaming it would destroy live parent data. A fresh
    // uuid-suffixed leaf goes in the ref file instead; readers resolve
    // through branchDir(s, ...).
    val defaultDir = new Path(branchDir(table, name))
    val leaf =
      if (!fs(s, defaultDir).exists(defaultDir)) name
      else s"$name-${java.util.UUID.randomUUID().toString.take(8)}"
    writeBranchRef(s, table, name, base, leaf, localBase = 0L,
      expectNew = true)
    try shallowClone(s, table, s"$table/_branches/$leaf")
    catch { case e: Throwable => deleteBranch(s, table, name); throw e }
  }

  /** All branches, (name, base version the ref records), name-sorted. */
  def branches(s: SparkSession, table: String): Seq[(String, Long)] = {
    val rd = branchRefsDir(table)
    val f = fs(s, rd)
    if (!f.exists(rd)) Seq.empty
    else f.listStatus(rd).toSeq.map(_.getPath).flatMap { p =>
      LogFile.read(f, p).map(txt => (p.getName, txt.trim.split('\t')(0).toLong))
    }.sortBy(_._1)
  }

  /** Create (create-if-absent, like [[tag]]) or, for a fast-forward's or
    * rebase's advance, atomically REPLACE the branch ref file — a reader
    * never finds an advancing branch missing. The ref carries
    * `base<TAB>dirLeaf<TAB>localBase`. */
  private def writeBranchRef(s: SparkSession, table: String, name: String,
      base: Long, leaf: String, localBase: Long,
      expectNew: Boolean): Unit = {
    val rd = branchRefsDir(table)
    val f = fs(s, rd)
    f.mkdirs(rd)
    val dst = new Path(rd, name)
    val text = s"$base\t$leaf\t$localBase\n"
    if (!expectNew) LogFile.replace(f, logDir(table), dst, text)
    else if (!LogFile.publish(f, logDir(table), dst, text))
      throw new ConcurrentModificationException(
        s"$table: branch '$name' already exists")
  }

  /** Drop a branch ref (false if absent). The branch's own directory
    * (its log + any files it staged) stays on disk for pinned readers
    * AND for parent manifests a pre-drop fastforward published into
    * it — re-creating the name allocates a fresh dir leaf, never
    * reusing or cleaning this one; the next parent [[vacuum]] stops
    * shielding the parent files it referenced. */
  def deleteBranch(s: SparkSession, table: String, name: String): Boolean = {
    val p = new Path(branchRefsDir(table), name)
    val f = fs(s, p)
    f.exists(p) && f.delete(p, false)
  }

  /** FAST-FORWARD publish: make the parent's content EXACTLY the
    * branch head, as one commit — legal only while the parent still
    * sits at the version the branch is based on (the git fast-forward
    * rule; ref bases advance with each fast-forward so a continued
    * branch can fast-forward again). A parent that moved needs
    * [[publish]] (the WAP cherry-pick of additions) or a real merge —
    * refusing here keeps "publish advances main once" exact. Unlike
    * publish, a fast-forward CAN carry the branch's merge-on-read
    * tombstones: the parent's entries are (a subset of) the branch's
    * carried entries with their original seqs, so the sequencing
    * stays sound wholesale. */
  def fastForward(s: SparkSession, table: String, name: String): Long = {
    val BranchRef(base, leaf, _) = branchInfo(s, table, name)
      .getOrElse(throw new IllegalArgumentException(
        s"$table: no branch named '$name' (branches: " +
          s"${branches(s, table).map(_._1).mkString(", ")})"))
    val bd = s"$table/_branches/$leaf"
    val cur = currentVersion(s, table)
    require(cur == base,
      s"$table: not a fast-forward — the table moved from $base to " +
        s"$cur while branch '$name' was open; publish() grafts the " +
        "branch's additions instead, or re-branch and replay")
    // Path algebra for the published manifest: branch-staged files
    // (relative in the branch's manifest) become absolute under the
    // branch dir; the parent's OWN files — absolute self-references
    // inherited from the shallow clone — fold BACK to table-relative,
    // so the parent's vacuum keep-set (which compares relative
    // `data/...` names against the on-disk listing) keeps shielding
    // them after the branch ref is dropped. Foreign absolute paths
    // (a clone source) pass through untouched.
    def absPath(p: String) =
      if (p.startsWith(s"$table/data/")) p.drop(table.length + 1)
      else if (p.startsWith("/")) p
      else s"$bd/$p"
    val bHead = currentVersion(s, bd)
    val ms = manifest(s, bd, bHead)
    // the branch's default since-version stamps speak the BRANCH's
    // timeline (re-anchored at creation); transplanting them verbatim
    // onto the parent would let a parent stream replay pre-default
    // files raw — re-anchor to the parent's own stamps / this commit
    val mParent = manifest(s, table, cur)
    val v = commit(s, table,
      ms.entries.map(e => render(e.copy(path = absPath(e.path)))), cur,
      op = "fastforward",
      schemaJson = ms.schema.map(sch => restageStamped(mParent.schema,
        reanchorSinceVer(sch, mParent.schema, cur + 1), cur + 1).json).orNull,
      deleteLines = ms.deletes.map { case (p, c, sq) => (absPath(p), c, sq) },
      idxCols = ms.idxCols, strIdxCols = ms.strIdxCols,
      blooms = ms.blooms.map(b => b.copy(dir = absPath(b.dir))),
      retired = ms.retired, checks = ms.checks)
    // localBase = the branch head just published: from here on, the
    // branch's content at bHead ≡ parent@v — the next rebase diffs
    // against THIS point, not the branch's birth
    writeBranchRef(s, table, name, v, leaf, localBase = bHead,
      expectNew = false)
    v
  }

  /** REBASE branch `name` onto the parent's CURRENT head — the
    * moved-main case [[fastForward]] refuses. The branch's per-commit
    * changes replay IN ORDER on top of main@head through the same
    * file-level conflict-set validation [[commitResolving]] runs:
    *
    *   - CLEAN (no interim main commit removed a file the branch also
    *     rewrote, and no interim main tombstones landed against a
    *     branch rewrite): pure metadata — one commit re-points the
    *     branch at main's entries, then one commit per branch change
    *     replays its adds (re-stamped at the replay commit's fresh
    *     seq) and tombstones (ditto), zero data read or moved. Fresh
    *     seqs keep BOTH orderings sound: main's rows predate every
    *     replayed branch change, and intra-branch tombstone-vs-add
    *     order is preserved commit by commit.
    *   - TRUE OVERLAP (or a compaction on either side restaged the
    *     table under new physical names): recompute at row granularity — the branch's
    *     net content delta vs its old base three-way-merges onto
    *     main's head content (multiset EXCEPT/UNION, deterministic
    *     and order-free) and stages as fresh branch files, one
    *     commit, tombstones materialized away.
    *
    * Either way the ref base advances to main's head, so the branch
    * can [[fastForward]] afterwards. The read-set approximation is
    * the manifest-visible one (a rewrite read what it removed); a
    * branch commit that read parent data without rewriting it cannot
    * be seen from metadata — same contract as the public formats'
    * conflict checkers. Both sides evolving the same governance facet
    * (schema, checks, retired ledger, index set) refuses loudly. */
  def rebase(s: SparkSession, table: String, name: String): Long = {
    val BranchRef(base, leaf, localBase) = branchInfo(s, table, name)
      .getOrElse(throw new IllegalArgumentException(
        s"$table: no branch named '$name' (branches: " +
          s"${branches(s, table).map(_._1).mkString(", ")})"))
    val bd = s"$table/_branches/$leaf"
    val cur = currentVersion(s, table)
    val bHead = currentVersion(s, bd)
    if (cur == base) return bHead // already based on main's head
    require(localBase >= 0,
      s"$table: branch '$name' predates rebase support (its ref " +
        "records no branch point) — re-branch from the current head " +
        "and replay, or fastForward/publish instead")
    require(versions(s, bd).contains(localBase),
      s"$table: branch '$name' lost its branch-point manifest " +
        s"(version $localBase was vacuumed from the branch lineage) — " +
        "re-branch from main's head, or fastForward if main has not " +
        "moved")
    // branch@localBase ≡ parent@base (the branch point / last publish
    // point — parent@base's own manifest may already be vacuumed, the
    // branch's copy is pinned by the branch-aware vacuum); only
    // commits AFTER it replay. A branch whose INTERIOR versions were
    // vacuumed can't reconstruct per-commit deltas — it routes to the
    // row-level recompute, which needs only the endpoints.
    val haveVs = versions(s, bd).toSet
    val contiguous = (localBase to bHead).forall(haveVs)
    val bms =
      if (contiguous) (localBase to bHead).map(v => manifest(s, bd, v))
      else Seq(manifest(s, bd, localBase), manifest(s, bd, bHead))
    val b0 = bms.head
    val bLast = bms.last
    val mCur = manifest(s, table, cur)
    // both lineages reference files relative to their OWN dir or
    // absolutely — normalize to fully absolute for cross-lineage
    // comparison (parent-relative vs branch-relative `data/...` forms
    // must never string-collide)
    def normP(p: String): String = if (p.startsWith("/")) p else s"$table/$p"
    def normB(p: String): String = if (p.startsWith("/")) p else s"$bd/$p"
    // main's NET interim delta since the branch point
    val mainRemoved =
      b0.entries.map(e => normB(e.path)).toSet --
        mCur.entries.map(e => normP(e.path)).toSet
    val mainNewTombs =
      mCur.deletes.map { case (p, c, sq) => (normP(p), c, sq) }.toSet --
        b0.deletes.map { case (p, c, sq) => (normB(p), c, sq) }.toSet
    // the branch's per-commit deltas since the branch point
    case class BDelta(added: Seq[Entry], removed: Set[String],
        tombs: Seq[(String, String, Long)], addedBlooms: Seq[BloomRef],
        op: String)
    val deltas =
      if (!contiguous) Seq.empty
      else bms.indices.drop(1).map { i =>
        val a = bms(i); val p = bms(i - 1)
        val prevPaths = p.entries.map(e => normB(e.path)).toSet
        BDelta(
          a.entries.filterNot(e => prevPaths(normB(e.path))),
          prevPaths -- a.entries.map(e => normB(e.path)).toSet,
          a.deletes.filterNot(p.deletes.toSet),
          a.blooms.filterNot(p.blooms.toSet),
          a.op)
      }
    val branchRemoved = deltas.flatMap(_.removed).toSet // already normB'd
    // a BOUNDED tombstone added on the branch cannot replay as pure
    // metadata: its per-row L bounds speak the branch's OLD seq space,
    // and re-stamping the manifest line does not re-map the file's row
    // bounds — the row-level recompute is always sound, so route there
    // (same for a vacuumed-interior lineage, whose deltas are unknown)
    // a compaction on either side that restaged the table under new
    // physical names: the other side's files carry the old ones, and
    // only the row-level recompute restages them under one mapping
    val remap = restaged(b0.schema, mCur.schema) ||
      restaged(b0.schema, bLast.schema)
    val conflict = !contiguous || remap ||
      mainRemoved.exists(branchRemoved) ||
      (mainNewTombs.nonEmpty && branchRemoved.nonEmpty) ||
      // bounded (~L) bounds speak the branch's old seq space and
      // positional (~pos) vectors name exact files — both route to the
      // always-sound row-level recompute rather than a metadata replay
      deltas.exists(_.tombs.exists(t =>
        t._2.endsWith("~L") || t._2 == "~pos"))
    // governance facets merge only when at most ONE side moved them
    def pick[A](curV: A, baseV: A, brV: A, what: String): A =
      if (curV == baseV || curV == brV) brV
      else if (brV == baseV) curV
      else throw new IllegalStateException(
        s"$table: rebase of '$name' cannot merge $what — both main " +
          "and the branch changed it since the branch point")
    // schemas compare in since-version-STRIPPED normal form (the stamp
    // is timeline-local, re-anchored at branch creation — raw equality
    // would read every branch schema as "changed" from birth); the
    // winner re-anchors onto the BRANCH's own timeline before landing
    val schemaJson = pick(mCur.schema.map(stripSinceVer),
      b0.schema.map(stripSinceVer), bLast.schema.map(stripSinceVer),
      "the schema")
      .map(w => reanchorSinceVer(w, bLast.schema, bHead + 1).json).orNull
    val idx = pick(mCur.idxCols, b0.idxCols, bLast.idxCols, "the index set")
    val strIdx = pick(mCur.strIdxCols, b0.strIdxCols, bLast.strIdxCols,
      "the string index set")
    val retired = pick(mCur.retired, b0.retired, bLast.retired,
      "the retired-column ledger")
    val checks = pick(mCur.checks, b0.checks, bLast.checks,
      "the CHECK constraints")
    // the RE-POINT commit both paths start from: branch content :=
    // main@cur, every path made absolute so it resolves from the
    // branch dir — one manifest write, zero data moved. It is also the
    // branch's NEW localBase: content-identical to parent@cur, so past
    // a restage it reads main's files under main's own mapping.
    val (rpSchema, rpIdx, rpStrIdx) =
      if (!remap) (schemaJson, idx, strIdx)
      else (mCur.schema.map(w => restageStamped(bLast.schema,
        reanchorSinceVer(stripSinceVer(w), bLast.schema, bHead + 1),
        bHead + 1).json).orNull, mCur.idxCols, mCur.strIdxCols)
    def repoint(expected: Long): Long = commit(s, bd,
      mCur.entries.map(e => render(e.copy(path = normP(e.path)))),
      expected, op = "rebase",
      schemaJson = rpSchema,
      deleteLines = mCur.deletes.map { case (p, c, sq) =>
        (normP(p), c, sq) },
      idxCols = rpIdx, strIdxCols = rpStrIdx,
      blooms = mCur.blooms.map(b => b.copy(dir = normP(b.dir))),
      retired = retired, checks = checks)
    val newLocalBase = repoint(bHead)
    val newVer =
      if (!conflict) {
        // ---- pure-metadata replay, one commit per branch change ----
        var v = newLocalBase
        deltas.foreach { d =>
          val mNow = manifest(s, bd, v)
          d.removed.foreach(p =>
            require(mNow.entries.exists(e => normB(e.path) == p),
              s"$bd: rebase replay removes $p which the rebased state " +
                "does not list"))
          v = commit(s, bd,
            mNow.entries.filterNot(e => d.removed(normB(e.path)))
              .map(render) ++
              d.added.map(renderFresh), // re-stamped at THIS commit's seq
            v, op = "rebase",
            schemaJson = schemaJson,
            deleteLines = mNow.deletes ++
              d.tombs.map { case (p, c, _) => (normB(p), c, -1L) },
            idxCols = idx, strIdxCols = strIdx,
            blooms = mNow.blooms ++ d.addedBlooms,
            retired = retired, checks = checks)
        }
        v
      } else {
        // ---- row-level recompute: three-way multiset merge of the
        // branch's net content delta onto main's head content ----
        val mainC = snapshot(s, table, cur)
        val baseC = snapshot(s, bd, localBase)
        val brC = snapshot(s, bd, bHead)
        require(mainC.columns.toSeq == brC.columns.toSeq,
          s"$table: conflicting rebase of '$name' needs matching " +
            s"schemas (main: ${mainC.columns.toSeq}, branch: " +
            s"${brC.columns.toSeq})")
        val merged = mainC
          .exceptAll(baseC.exceptAll(brC))     // rows the branch removed
          .unionAll(brC.exceptAll(baseC))      // rows the branch added
        val mStage = bLast.copy(schema =
          Option(schemaJson).map(j =>
            org.apache.spark.sql.types.DataType.fromJson(j)
              .asInstanceOf[org.apache.spark.sql.types.StructType]))
        val lines =
          if (idx.nonEmpty || strIdx.nonEmpty)
            stageIndexed(s, bd, toPhysical(merged, mStage), idx, strIdx)
              .filter(hasStats)
          else stage(s, bd, toPhysical(merged, mStage))
        val lines2 = if (lines.nonEmpty) lines
          else stageEmpty(s, bd, toPhysical(merged, mStage).schema)
        val rpParsed = Option(rpSchema).map(j =>
          org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
        commit(s, bd, lines2, newLocalBase, op = "rebase",
          schemaJson = mStage.schema
            .map(restageStamped(rpParsed, _, newLocalBase + 1).json).orNull,
          idxCols = idx, strIdxCols = strIdx,
          retired = retired, checks = checks,
          metrics = Seq("recomputed" -> 1L))
      }
    writeBranchRef(s, table, name, cur, leaf,
      localBase = newLocalBase, expectNew = false)
    newVer
  }

  /** MERGE branch `from` INTO branch `into` — the two-diverged-branches
    * case [[rebase]] (branch→moved-main) and [[fastForward]] don't
    * cover. `into` gains `from`'s changes since ITS branch point (its
    * ref-recorded localBase — the last publish point, or birth), by the
    * same two-path rule as rebase:
    *
    *   - CLEAN (into still lists every file `from` removed; no into-side
    *     interim tombstones against a from-side rewrite; no bounded
    *     tombstones or vacuumed interior in from's lineage): one commit
    *     per from-change replays onto into's head — from-staged files
    *     referenced ABSOLUTELY under from's branch dir (the shallow-
    *     clone contract: from's dir outlives its ref, so the references
    *     stay live), adds re-stamped at the replay commit's fresh seq,
    *     zero data read or moved.
    *   - TRUE OVERLAP: row-level three-way multiset merge — into@head
    *     EXCEPT (from@base EXCEPT from@head) UNION (from@head EXCEPT
    *     from@base) — staged as fresh into-files, one commit.
    *
    * `from` itself is untouched (the git merge contract: merging does
    * not move the source branch); both refs keep their parent bases, so
    * publish/fastForward semantics vs the parent are unchanged. A
    * per-(into, from) MERGE MARKER records how far `into` has already
    * carried `from`, so a repeated merge is a no-op and a merge after
    * `from` advances carries ONLY the new delta — never a duplicate
    * replay. Both sides moving the same governance facet (schema,
    * checks, retired ledger, index set) since the merge base refuses
    * loudly — exactly rebase's rule. Returns into's new head
    * version. */
  def mergeBranch(s: SparkSession, table: String, from: String,
      into: String): Long = {
    require(from != into,
      s"$table: cannot merge branch '$from' into itself")
    def info(n: String) = branchInfo(s, table, n).getOrElse(
      throw new IllegalArgumentException(
        s"$table: no branch named '$n' (branches: " +
          s"${branches(s, table).map(_._1).mkString(", ")})"))
    val BranchRef(_, fLeaf, fBase) = info(from)
    val BranchRef(_, iLeaf, _) = info(into)
    val fd = s"$table/_branches/$fLeaf"
    val id = s"$table/_branches/$iLeaf"
    val fHead = currentVersion(s, fd)
    val iHead = currentVersion(s, id)
    require(fBase >= 0,
      s"$table: branch '$from' predates rebase support (its ref " +
        "records no branch point) — re-branch and replay instead")
    // the MERGE BASE: from's branch point, advanced past everything a
    // PREVIOUS merge of this (from → into) pair already carried over —
    // without the marker a repeated merge would replay the same deltas
    // and silently double every already-merged file in into's manifest.
    // Keyed by dir LEAVES, so a dropped-and-recreated branch (fresh
    // uuid leaf) starts a fresh baseline. The marker file is advanced
    // PER replay commit, and each merge commit additionally records its
    // from-version as a `merged_<fromLeaf>` metric — atomic with the
    // commit — so a merge interrupted between a commit and its marker
    // write still resumes where it stopped when into's head IS that
    // commit.
    // nothing to merge per the marker alone → skip the lineage scan
    // below entirely (the metric can only ADVANCE the base, and it is
    // already at from's head)
    val markBase = Seq(fBase, readMergeMark(s, table, iLeaf, fLeaf)).max
    if (fHead == markBase) return iHead
    val mCur = manifest(s, id, iHead)
    // The head's metric alone is NOT a sufficient resume record: any
    // ordinary append/compact after an interrupted merge buries it, and
    // a compaction can also rewrite the very files whose presence the
    // in-loop skip guard would otherwise use as landing proof — the
    // repeated merge would then silently re-add already-carried rows.
    // The metric is monotone per (into, from) pair, so a newest-first
    // scan of into's surviving lineage stops at the first hit; each
    // probe is a HEADER-ONLY read (#metrics leads the file) — a
    // long-lived into branch never pays a full entry-line parse per
    // version, and expireSnapshots bounds the history length.
    val metricBase = versions(s, id).reverseIterator
      .map(v => if (v == iHead)
          mCur.metrics.getOrElse(s"merged_$fLeaf", -1L)
        else manifestHeaderMetric(s, id, v, s"merged_$fLeaf"))
      .find(_ >= 0).getOrElse(-1L)
    val mBase = Seq(markBase, metricBase).max
    require(versions(s, fd).contains(mBase),
      s"$table: branch '$from' lost its merge-base manifest " +
        s"(version $mBase was vacuumed from the branch lineage)")
    if (fHead == mBase) return iHead // nothing to merge
    val haveVs = versions(s, fd).toSet
    val contiguous = (mBase to fHead).forall(haveVs)
    val bms =
      if (contiguous) (mBase to fHead).map(v => manifest(s, fd, v))
      else Seq(manifest(s, fd, mBase), manifest(s, fd, fHead))
    val b0 = bms.head
    val bLast = bms.last
    def normI(p: String): String = if (p.startsWith("/")) p else s"$id/$p"
    def normF(p: String): String = if (p.startsWith("/")) p else s"$fd/$p"
    // into's NET interim delta since the merge base (the same
    // manifest-visible read-set approximation rebase uses)
    val intoRemoved =
      b0.entries.map(e => normF(e.path)).toSet --
        mCur.entries.map(e => normI(e.path)).toSet
    val intoAdded =
      mCur.entries.map(e => normI(e.path)).toSet --
        b0.entries.map(e => normF(e.path)).toSet
    // compare tombstones by (file, key column) ONLY: a previous clean
    // merge re-stamped carried tombstone seqs, so a seq-sensitive
    // difference would flag every carried tombstone as "new" forever
    // and route incremental re-merges to the recompute path
    val intoNewTombs =
      mCur.deletes.map { case (p, c, _) => (normI(p), c) }.toSet --
        b0.deletes.map { case (p, c, _) => (normF(p), c) }.toSet
    case class FDelta(fromV: Long, added: Seq[Entry], removed: Set[String],
        tombs: Seq[(String, String, Long)], addedBlooms: Seq[BloomRef])
    val deltas =
      if (!contiguous) Seq.empty
      else bms.indices.drop(1).map { i =>
        val a = bms(i); val p = bms(i - 1)
        val prevPaths = p.entries.map(e => normF(e.path)).toSet
        FDelta(mBase + i,
          a.entries.filterNot(e => prevPaths(normF(e.path))),
          prevPaths -- a.entries.map(e => normF(e.path)).toSet,
          a.deletes.filterNot(p.deletes.toSet),
          a.blooms.filterNot(p.blooms.toSet))
      }
    val fromRemoved = deltas.flatMap(_.removed).toSet
    val fromTombs = deltas.exists(_.tombs.nonEmpty)
    // either side restaged under new physical names: rebase's rule
    val conflict = !contiguous ||
      restaged(b0.schema, mCur.schema) || restaged(b0.schema, bLast.schema) ||
      intoRemoved.exists(fromRemoved) ||
      (intoNewTombs.nonEmpty && fromRemoved.nonEmpty) ||
      // bounded and positional tombstones never metadata-replay (the
      // rebase rule: seq-space / file-coordinate semantics don't
      // survive re-stamping) — row-level recompute is always sound
      deltas.exists(_.tombs.exists(t =>
        t._2.endsWith("~L") || t._2 == "~pos")) ||
      // replayed tombstones are re-stamped at fresh seqs and would kill
      // same-key rows `into` added since the merge base — rows the
      // row-level three-way (the ground truth) preserves. Route there.
      (fromTombs && intoAdded.nonEmpty)
    def pick[A](curV: A, baseV: A, brV: A, what: String): A =
      if (curV == baseV || curV == brV) brV
      else if (brV == baseV) curV
      else throw new IllegalStateException(
        s"$table: merge of '$from' into '$into' cannot merge $what — " +
          "both branches changed it since the branch point")
    // same normal-form comparison as rebase; the winner re-anchors
    // onto the INTO branch's timeline (the destination of this merge)
    val schemaJson = pick(mCur.schema.map(stripSinceVer),
      b0.schema.map(stripSinceVer), bLast.schema.map(stripSinceVer),
      "the schema")
      .map(w => reanchorSinceVer(w, mCur.schema, iHead + 1).json).orNull
    val idx = pick(mCur.idxCols, b0.idxCols, bLast.idxCols, "the index set")
    val strIdx = pick(mCur.strIdxCols, b0.strIdxCols, bLast.strIdxCols,
      "the string index set")
    val retired = pick(mCur.retired, b0.retired, bLast.retired,
      "the retired-column ledger")
    val checks = pick(mCur.checks, b0.checks, bLast.checks,
      "the CHECK constraints")
    val newVer = if (!conflict) {
      // ---- pure-metadata replay, one commit per from-change ----
      var v = iHead
      deltas.foreach { d =>
        val mNow = manifest(s, id, v)
        val have = mNow.entries.map(e => normI(e.path)).toSet
        // an interrupted previous merge may have committed this delta
        // without advancing the marker: its freshly-staged adds already
        // being listed proves the delta landed (staged paths are
        // globally unique) — re-mark instead of double-replaying
        if (d.added.nonEmpty && d.added.forall(e => have(normF(e.path))))
          writeMergeMark(s, table, iLeaf, fLeaf, d.fromV)
        else {
          d.removed.foreach(p =>
            require(mNow.entries.exists(e => normI(e.path) == p),
              s"$id: merge replay removes $p which the target state " +
                "does not list"))
          v = commit(s, id,
            mNow.entries.filterNot(e => d.removed(normI(e.path)))
              .map(render) ++
              d.added.map(e => renderFresh(e.copy(path = normF(e.path)))),
            v, op = "merge",
            schemaJson = schemaJson,
            deleteLines = mNow.deletes ++
              d.tombs.map { case (p, c, _) => (normF(p), c, -1L) },
            idxCols = idx, strIdxCols = strIdx,
            blooms = mNow.blooms ++
              d.addedBlooms.map(b => b.copy(dir = normF(b.dir))),
            retired = retired, checks = checks,
            // the from-version this commit carries `into` up to —
            // atomic with the commit, so an interrupted merge resumes
            // here even if the marker write below never ran
            metrics = Seq(s"merged_$fLeaf" -> d.fromV))
          writeMergeMark(s, table, iLeaf, fLeaf, d.fromV)
        }
      }
      v
    } else {
      // ---- row-level three-way multiset merge ----
      val intoC = snapshot(s, id, iHead)
      val baseC = snapshot(s, fd, mBase)
      val frC = snapshot(s, fd, fHead)
      require(intoC.columns.toSeq == frC.columns.toSeq,
        s"$table: conflicting merge of '$from' into '$into' needs " +
          s"matching schemas (into: ${intoC.columns.toSeq}, from: " +
          s"${frC.columns.toSeq})")
      val merged = intoC
        .exceptAll(baseC.exceptAll(frC))   // rows `from` removed
        .unionAll(frC.exceptAll(baseC))    // rows `from` added
      val mStage = bLast.copy(schema =
        Option(schemaJson).map(j =>
          org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[org.apache.spark.sql.types.StructType]))
      val lines =
        if (idx.nonEmpty || strIdx.nonEmpty)
          stageIndexed(s, id, toPhysical(merged, mStage), idx, strIdx)
            .filter(hasStats)
        else stage(s, id, toPhysical(merged, mStage))
      val lines2 = if (lines.nonEmpty) lines
        else stageEmpty(s, id, toPhysical(merged, mStage).schema)
      commit(s, id, lines2, iHead, op = "merge",
        schemaJson = mStage.schema
          .map(restageStamped(mCur.schema, _, iHead + 1).json).orNull,
        idxCols = idx, strIdxCols = strIdx,
        retired = retired, checks = checks,
        metrics = Seq("recomputed" -> 1L, s"merged_$fLeaf" -> fHead))
    }
    writeMergeMark(s, table, iLeaf, fLeaf, fHead)
    newVer
  }

  /** The (into, from) merge-base marker: the `from`-lineage version a
    * previous [[mergeBranch]] of this pair carried `into` up to. Lives
    * beside the branch dirs as `.merges/<intoLeaf>/<fromLeaf>` — a
    * SUBDIRECTORY per into-leaf, never a joined filename: leaf names
    * may contain any separator character ('-', '.', '_'), so a flat
    * `a--b` encoding would collide distinct pairs. */
  private def mergeMarkPath(table: String, intoLeaf: String,
      fromLeaf: String): Path =
    new Path(s"$table/_branches/.merges/$intoLeaf", fromLeaf)

  /** Synchronized with [[writeMergeMark]] (same lock): where the store
    * has no atomic overwrite, a reader racing the writer's delete+rename
    * window would otherwise observe the file momentarily absent and
    * report -1, regressing the pair's merge base for that caller.
    * Cross-process the marker is only a secondary record anyway —
    * mergeBranch max-es it with the in-lineage `merged_<leaf>` metric
    * scan, which a transient -1 cannot rewind. */
  private def readMergeMark(s: SparkSession, table: String,
      intoLeaf: String, fromLeaf: String): Long = commitLock.synchronized {
    val p = mergeMarkPath(table, intoLeaf, fromLeaf)
    LogFile.read(fs(s, p), p).fold(-1L)(_.trim.toLong)
  }

  /** Advance the marker MONOTONICALLY: synchronized (like the branch
    * refs), and never backwards — a slow merge that finishes after a
    * faster one must not rewind the pair's progress. The marker's value
    * over the commit-side `merged_<leaf>` metric is that it survives
    * snapshot EXPIRY of the merge commit itself; within a surviving
    * lineage the metric scan is authoritative. */
  private def writeMergeMark(s: SparkSession, table: String,
      intoLeaf: String, fromLeaf: String, v: Long): Unit =
    commitLock.synchronized {
      if (v > readMergeMark(s, table, intoLeaf, fromLeaf)) {
        val dst = mergeMarkPath(table, intoLeaf, fromLeaf)
        val f = fs(s, dst)
        f.mkdirs(dst.getParent)
        LogFile.replace(f, logDir(table), dst, s"$v\n")
      }
    }

  /** Resolve a version REFERENCE: a number, or a tag name. */
  def resolveVersion(s: SparkSession, table: String, ref: String): Long =
    ref.toLongOption.getOrElse(
      tags(s, table).collectFirst { case (`ref`, v) => v }
        .getOrElse(throw new IllegalArgumentException(
          s"$table: no tag named '$ref' (tags: " +
            s"${tags(s, table).map(_._1).mkString(", ")})")))

  /** Committed checkpoint versions, ascending. */
  def checkpointVersions(s: SparkSession, table: String): Seq[Long] = {
    val ld = logDir(table)
    val f = fs(s, ld)
    if (!f.exists(ld)) Seq.empty
    else f.listStatus(ld).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".checkpoint"))
      .map(_.stripSuffix(".checkpoint").toLong).sorted
  }

  private def readCheckpoint(s: SparkSession, table: String, v: Long)
      : Seq[(Long, String, Long)] = {
    val cp = checkpointPath(table, v)
    val text = LogFile.read(fs(s, cp), cp).getOrElse(
      throw new java.io.FileNotFoundException(s"$cp"))
    logReads.incrementAndGet()
    text.linesIterator.filter(_.nonEmpty).map { line =>
      val Array(ver, op, n) = line.split('\t')
      (ver.toLong, op, n.toLong)
    }.toSeq
  }

  /** Checkpoint the log at the current version: one `.checkpoint` file
    * summarizing the audit trail of every version ≤ N, so [[history]]
    * reads O(1) + the post-checkpoint tail instead of every manifest —
    * the log-compaction every production format runs once the version
    * count grows (resolution of any SNAPSHOT was always one manifest
    * read; it is the trail that accumulated). Published like manifests
    * ([[LogFile.publish]]); `.checkpoint` files are invisible to version
    * resolution and survive vacuum, so the audit of vacuumed versions
    * outlives their manifests — retention bounds data, not lineage. */
  def checkpoint(s: SparkSession, table: String): Long = {
    val cur = currentVersion(s, table)
    // a commit can land between reading `cur` and the history scan: a
    // checkpoint named `cur` must summarize versions ≤ cur ONLY, or the
    // raced version would appear twice in every later history read
    val trail = history(s, table).filter(_._1 <= cur)
    // idempotent: two checkpointers of the same version write identical
    // content, so finding the checkpoint already published is success
    LogFile.publish(fs(s, logDir(table)), logDir(table),
      checkpointPath(table, cur),
      trail.map { case (v, op, n) => s"$v\t$op\t$n" }.mkString("", "\n", "\n"))
    cur
  }

  /** The table's audit trail — (version, operation, live-file count) per
    * commit (DESCRIBE HISTORY, minus wall-clock timestamps, which would
    * not be deterministic). With a checkpoint in the log this reads ONE
    * checkpoint file plus the post-checkpoint manifests; without one it
    * reads every manifest. Checkpointed entries for vacuumed versions are
    * kept — the audit trail survives retention. */
  def history(s: SparkSession, table: String): Seq[(Long, String, Long)] = {
    val vs = versions(s, table)
    def readOne(v: Long): (Long, String, Long) = {
      val lines = readLog(s, table, v)(LogFile.read).linesIterator.toSeq
      val op = lines.find(_.startsWith("#op=")).map(_.stripPrefix("#op="))
        .getOrElse("write")
      (v, op, lines.count(l => l.nonEmpty && !l.startsWith("#")).toLong)
    }
    checkpointVersions(s, table).lastOption match {
      case Some(cv) if vs.isEmpty || cv <= vs.last =>
        readCheckpoint(s, table, cv) ++ vs.filter(_ > cv).map(readOne)
      case _ => vs.map(readOne)
    }
  }

  /** The live-file set of version `v`, table-relative, as committed. */
  def liveFiles(s: SparkSession, table: String, v: Long): Seq[String] =
    liveEntries(s, table, v).map(_.path)

  /** Atomically commit `relFiles` as the table's next version. `expected`
    * is the version the writer based its work on (-1 for a fresh table):
    * if another commit landed since, the caller must re-read and retry —
    * optimistic concurrency, never clobber. */
  def commit(s: SparkSession, table: String, relFiles: Seq[String],
             expected: Long, op: String = "write",
             schemaJson: String = null,
             deleteLines: Seq[(String, String, Long)] = Nil,
             idxCols: Seq[String] = Nil,
             strIdxCols: Seq[String] = Nil,
             blooms: Seq[BloomRef] = Nil,
             metrics: Seq[(String, Long)] = Nil,
             cdcFiles: Seq[String] = Nil,
             retired: Seq[(Long, String)] = Nil,
             checks: Seq[(String, String)] = Nil,
             txn: Option[(String, Long)] = None): Long = {
    val ld = logDir(table)
    val f = fs(s, ld)
    f.mkdirs(ld)
    val cur = versions(s, table).lastOption.getOrElse(-1L)
    if (cur != expected)
      throw new ConcurrentModificationException(
        s"$table moved to version $cur while writer expected $expected")
    val next = cur + 1
    val body = manifestBody(s, table, relFiles, cur, op, schemaJson,
      deleteLines, idxCols, strIdxCols, blooms, metrics, cdcFiles,
      retired, checks, txn)
    // the CAS is LogFile.publish — atomic create-if-absent on the local
    // filesystem and on HDFS alike, so it holds across processes. The
    // lock serializes it with this JVM's pend placement and finalize
    val won = commitLock.synchronized {
      // a multi-table transaction may hold a PENDING manifest on this
      // slot: resolve it through the arbiter first — a plain writer
      // never WAITS on a transaction (it aborts an undecided one); a
      // decided-commit pend finalizes here and our CAS then loses
      pendsIn(f, ld).filter(_._2 == next).foreach { case (n, _, _) =>
        resolvePend(s, table, n, abortInFlight = true)
      }
      LogFile.publish(f, ld, manifestPath(table, next), body)
    }
    if (!won)
      throw new ConcurrentModificationException(
        s"$table version $next was committed concurrently")
    next
  }

  /** Render one manifest's full text for the commit of `relFiles` on top
    * of version `cur` — everything [[commit]] writes, minus the CAS.
    * Factored out so a multi-table transaction can PREPARE the identical
    * bytes as a pending manifest and publish them later by rename. */
  private def manifestBody(s: SparkSession, table: String,
      relFiles: Seq[String], cur: Long, op: String,
      schemaJson: String,
      deleteLines: Seq[(String, String, Long)],
      idxCols: Seq[String],
      strIdxCols: Seq[String],
      blooms: Seq[BloomRef],
      metrics: Seq[(String, Long)],
      cdcFiles: Seq[String],
      retired: Seq[(Long, String)],
      checks: Seq[(String, String)],
      txn: Option[(String, Long)]): String = {
    val next = cur + 1
    // the commit TIMESTAMP, monotonized against the previous commit's
    // (`max(now, prev+1)` — Delta's in-commit-timestamp rule): AS OF
    // <timestamp> resolution can then scan newest-first and stop at the
    // first commit at-or-before the target, and two commits can never
    // tie. Wall-clock is inherently non-replayable, so timestamps are
    // header-only metadata — never part of a hashed query output. The
    // parent's timestamp and `#txn=` ledger come from ONE header walk
    val (prevTs, prevTxns) =
      if (cur < 0) (-1L, Map.empty[String, Long])
      else manifestHeader(s, table, cur) { it =>
        val hdr = it.toSeq
        (tsOf(hdr.iterator), hdr.collect { case l if l.startsWith("#txn=") =>
          val Array(a, b) = l.stripPrefix("#txn=").split('\t')
          b64dec(a) -> b.toLong
        }.toMap)
      }
    val ts = math.max(System.currentTimeMillis(), prevTs + 1)
    // the idempotent-writer ledger carries CUMULATIVELY through every
    // commit (append, overwrite, compact, DML alike — it is table
    // metadata like the index headers, surviving operations that never
    // heard of it); this commit's own (appId, batchId) merges in with
    // newest-wins per app. Carrying inside commit() — not at call
    // sites — is what makes the guarantee unconditional: no commit
    // path can drop the ledger by forgetting to thread a parameter
    val txnsOut = txn.fold(prevTxns) { case (a, b) =>
      prevTxns + (a -> math.max(b, prevTxns.getOrElse(a, Long.MinValue)))
    }
    val txnLines = txnsOut.toSeq.sortBy(_._1).map { case (a, b) =>
      s"#txn=${b64enc(a)}\t$b\n"
    }.mkString
    // the committed schema travels IN the log (one JSON line): readers
    // plan from manifest metadata alone — no footer reads, and a version
    // whose file set predates an added column still reads correctly
    // (parquet fills requested-but-absent columns with NULL by name).
    // `#delete=` lines register merge-on-read tombstone files (path +
    // key column) the reader anti-joins at scan time. `#index=` /
    // `#strindex=` persist the table's index column set so it survives
    // versions whose entries carry no stat groups (an emptied table's
    // zero-row sentinel) — without the header the next writer would
    // silently stop indexing.
    val schemaLine = Option(schemaJson).map(j => s"#schema=$j\n").getOrElse("")
    // THE commit's sequence number: one past the largest seq this
    // manifest carries (entries or tombstones). On a table's own
    // timeline that equals the version number; a shallow CLONE's
    // referenced entries keep the SOURCE's seqs, and continuing above
    // them keeps the tombstone ordering (t.seq > e.seq ⇔ t committed
    // after e) sound across the graft point
    val carriedSeqs = relFiles.flatMap { line =>
      val parts = line.split('\t')
      if (parts.length % 4 == 2) Some(parts(1).toLong) else None
    } ++ deleteLines.collect { case (_, _, sq) if sq >= 0 => sq }
    val newSeq = nextSeqFrom(carriedSeqs, next - 1)
    // a NEW tombstone (seq < 0, assigned here) gets this commit's seq;
    // carried tombstones keep theirs verbatim
    val delLines = deleteLines
      .map { case (p, c, sq) =>
        s"#delete=$p\t$c\t${if (sq < 0) newSeq else sq}\n" }.mkString
    def idxLine(prefix: String, cols: Seq[String]): String =
      if (cols.isEmpty) ""
      else {
        cols.foreach(c => require(!c.contains(','),
          s"index column name '$c' would corrupt the $prefix header"))
        prefix + cols.mkString(",") + "\n"
      }
    // operation metrics travel IN the commit (`#metrics=` header) — the
    // file-level accounting of a DML commit is log metadata like the op
    // name itself, so any later reader (or a scenario assertion) gets it
    // from the manifest instead of a session-scoped side channel
    val metricsLine =
      if (metrics.isEmpty) ""
      else {
        metrics.foreach { case (k, _) => require(!k.exists(":,\t\n".contains(_)),
          s"metric name '$k' would corrupt the #metrics header") }
        "#metrics=" + metrics.map { case (k, v) => s"$k:$v" }.mkString(",") + "\n"
      }
    val bloomLines = blooms.map { b =>
      require(!b.dir.exists("\t\n".contains(_)) &&
        !b.col.exists("\t\n".contains(_)),
        s"bloom ref (${b.dir}, ${b.col}) would corrupt the manifest format")
      s"#bloom=${b.dir}\t${b.col}\t${b.m}\t${b.k}\n"
    }.mkString
    // THIS commit's published change-feed files (per-version metadata,
    // unlike the cumulative entry/tombstone state — commitResolving
    // deliberately does not carry them across rebases)
    val cdcLines = cdcFiles.map { r =>
      require(!r.exists("\t\n".contains(_)),
        s"cdc ref '$r' would corrupt the manifest format")
      s"#cdc=$r\n"
    }.mkString
    // retired physical column names carry cumulatively, like the index
    // headers — schema-preserving commit paths thread them through
    val retiredLine =
      if (retired.isEmpty) ""
      else "#retired=" + retired.map { case (id, p) =>
        s"$id:${b64enc(p)}" }.mkString(",") + "\n"
    val checkLines = checks.map { case (n, e) =>
      require(n.nonEmpty && !n.exists("\t\n=".contains(_)),
        s"check constraint name '$n' would corrupt the manifest format")
      s"#check=$n\t${b64enc(e)}\n"
    }.mkString
    // entry lines arrive in two shapes: CARRIED lines rendered from a
    // prior manifest already hold their data seq after the path
    // (fields % 4 == 2), FRESH lines from stage/stageIndexed don't
    // (fields % 4 == 1) and are assigned THIS commit's seq — the
    // "added at" stamp tombstone application compares against
    val stamped = relFiles.map { line =>
      val parts = line.split('\t')
      if (parts.length % 4 == 2) line
      else (parts.head +: newSeq.toString +: parts.tail).mkString("\t")
    }
    s"#format=$ManifestFormat\n#op=$op\n#ts=$ts\n" + metricsLine +
      txnLines + schemaLine + delLines +
      idxLine("#index=", idxCols) + idxLine("#strindex=", strIdxCols) +
      bloomLines + cdcLines + retiredLine + checkLines +
      stamped.sorted.mkString("\n") + "\n"
  }

  private val commitLock = new Object

  // ---- MULTI-TABLE ATOMIC TRANSACTIONS -----------------------------------
  //
  // One logical commit spanning N tables, with per-table logs and no
  // catalog: the classic prepare / decide / finalize protocol, made
  // crash-safe by a SINGLE-FILE ARBITER. Each table gets a fully
  // rendered PENDING manifest at its next slot (`_log/vN.pend.<txnId>`,
  // invisible to readers); the transaction then claims its marker file
  // (`<coordinator>/_txn/<txnId>.done`) by LogFile.publish — the ONE
  // place the commit/abort decision lives, written exactly once: a
  // concurrent plain writer that finds an undecided pend in its way
  // races for the same file with verdict "abort" (writers never wait on
  // transactions), and whoever publishes first decides for everyone,
  // across processes too. After a commit verdict each pend is one
  // publish away from being an ordinary manifest (its body, minus the
  // marker header, at the manifest name) — the committer does them
  // eagerly, and ANY later reader of a lagging table completes them
  // from the log listing it already performs (recovery-on-read,
  // `versions`). Every crash window is covered: before the marker the
  // transaction never happened (pends invisible, aborted by the next
  // writer on that slot); after the marker it always happens (each table
  // independently finalizes). Every log file here is published and read
  // through LogFile; the JVM locks add what a single publish cannot: a
  // plain commit resolves the pends on its slot before its CAS, and pend
  // placement checks the slot free before publishing. Pend placement
  // and the plain-commit CAS publish DIFFERENT names, so across
  // processes a plain writer can still take a slot a pend was placed on
  // — finalize detects that (below) rather than hiding it.
  //
  // ARBITER RETENTION, a deliberate decision: markers are PERMANENT.
  // A commit marker may be referenced by an unfinalized pend on ANY
  // table (recovery needs it — sweeping one would turn a committed
  // transaction into an aborted-looking orphan: data loss), and even
  // an abort marker must outlive the losing transaction's own decide
  // call (deleting it in the window between a writer's abort and the
  // owner reading the verdict would let the owner's later "commit"
  // claim a transaction whose pends are already swept). Markers are a
  // few bytes per transaction in one flat dir — at any realistic
  // transaction rate this is noise next to one manifest, and
  // correctness never hinges on a garbage-collection heuristic.

  // 8+ digits: %08d renders NINE at version 100,000,000 — anchoring at
  // exactly 8 would make such pends invisible to recovery
  private val PendRe = """^(\d{8,})\.pend\.([0-9a-fA-F-]+)$""".r

  private def pendPath(table: String, v: Long, txnId: String): Path =
    new Path(logDir(table), f"$v%08d.pend.$txnId")

  /** (name, slot version, txnId) of every pending manifest in the log
    * listing. */
  private def pendsIn(f: org.apache.hadoop.fs.FileSystem, ld: Path)
      : Seq[(String, Long, String)] =
    if (!f.exists(ld)) Nil
    else f.listStatus(ld).toSeq.map(_.getPath.getName).collect {
      case n @ PendRe(v, txnId) => (n, v.toLong, txnId)
    }

  private val txnArbiterLock = new Object

  /** Race for the transaction's arbiter file with `verdict`; return the
    * verdict that actually STANDS (ours if we won the publish, the
    * earlier winner's otherwise). The arbiter is written exactly once —
    * publish refuses an existing name — so every participant
    * (committer, aborting writer, recovering reader) converges on one
    * answer however the calls interleave. It stages in the coordinator
    * table's log (the marker lives in `<coordinator>/_txn/`). */
  private def decideTxn(s: SparkSession, marker: Path, verdict: String)
      : String = {
    val f = fs(s, marker)
    f.mkdirs(marker.getParent)
    LogFile.publish(f, new Path(marker.getParent.getParent, "_log"), marker,
      verdict)
    markerVerdict(s, marker).get
  }

  /** The standing verdict of `marker`, or None while undecided. */
  private def markerVerdict(s: SparkSession, marker: Path)
      : Option[String] =
    LogFile.read(fs(s, marker), marker).map(_.trim)

  /** Resolve one pending manifest found in `table`'s log. Committed →
    * finalize (rename into its real slot) and return the version;
    * aborted → delete it, None; undecided → None, and when
    * `abortInFlight` (writer paths — they never wait) first race the
    * arbiter with "abort". Losing the finalize rename to a concurrent
    * recoverer is fine: the slot then holds the same bytes. */
  private def resolvePend(s: SparkSession, table: String, name: String,
      abortInFlight: Boolean): Option[Long] = {
    val (v, _) = name match { case PendRe(vs, tid) => (vs.toLong, tid) }
    val ld = logDir(table)
    val f = fs(s, ld)
    val src = new Path(ld, name)
    // the pend's leading `#pendmarker=` header names its transaction's
    // arbiter. A pend that is gone (a concurrent finalizer or an
    // aborting writer got there first) is the "raced away" outcome, not
    // an error for a reader that merely listed the log
    val marker = LogFile.header(f, src)(_.nextOption()).getOrElse(return None)
      .filter(_.startsWith("#pendmarker="))
      .map(l => new Path(l.stripPrefix("#pendmarker=")))
      .getOrElse(throw new IllegalArgumentException(
        s"$table: pending manifest $name lacks its #pendmarker header"))
    val verdict = markerVerdict(s, marker).getOrElse {
      if (abortInFlight) decideTxn(s, marker, "abort") else return None
    }
    if (verdict == "commit") {
      val dst = manifestPath(table, v)
      txnArbiterLock.synchronized {
        // finalize STRIPS the #pendmarker header: a finalized manifest
        // is byte-identical to a plain commit's, so the log keeps ONE
        // dialect (header-walk fast paths like manifestHeaderMetric
        // rely on the fixed lead order). A pend already gone was
        // completed by a concurrent finalizer
        val txt = LogFile.read(f, src).getOrElse(return Some(v))
        val body = txt.substring(txt.indexOf('\n') + 1)
        // cross-process, pend placement and the plain-commit CAS publish
        // DIFFERENT names, so a plain writer can slip its manifest into
        // this slot after the pend was placed. A committed transaction's
        // version going to someone else is PARTIAL TRANSACTION
        // APPLICATION — silently deleting the pend would hide it forever;
        // raise so the inconsistency is detectable and repairable. (The
        // common benign occupant — a concurrent recoverer finalizing the
        // same pend — has identical bytes and passes.)
        if (!LogFile.publish(f, ld, dst, body) &&
            !LogFile.read(f, dst).contains(body))
          throw new IllegalStateException(
            s"$table: version $v was committed by a concurrent plain " +
              s"writer while transaction pend $name held a COMMIT " +
              "verdict — the multi-table transaction is partially " +
              "applied; its pend is preserved for manual repair")
        f.delete(src, false)
      }
      Some(v)
    } else {
      f.delete(src, false)
      None
    }
  }

  /** ATOMIC MULTI-TABLE APPEND — one logical commit landing a batch in
    * EVERY listed table or in none (the pipeline shape where a corpus
    * table and its derived store — fingerprints, an ANN index, an
    * audit ledger — must move together; a crash between two
    * single-table commits leaves them silently inconsistent forever).
    * Appends are the right transactional unit: they are
    * base-independent, so a lost race rebases by re-rendering pends at
    * the new bases — the staged data files are written ONCE however
    * many attempts the commit takes. Readers of each table see the
    * transaction's version either entirely or not at all: pends are
    * invisible until the arbiter commits, and from then on any read of
    * a lagging table finalizes it before resolving (`versions`).
    * Concurrent plain writers are never blocked — they abort an
    * undecided transaction in their way, and the transaction retries
    * (bounded by `maxAttempts`). Returns table → landed version. */
  def commitMultiAppend(s: SparkSession,
      writes: Seq[(String, DataFrame)],
      maxAttempts: Int = 8): Map[String, Long] =
    commitMultiImpl(s, writes, None, maxAttempts).getOrElse(
      throw new IllegalStateException(
        "unreachable: a ledger-less multi-table append reported skip"))

  /** [[commitMultiAppend]] under the (appId, batchId) idempotence
    * ledger — the EXACTLY-ONCE multi-table sink primitive: a streaming
    * foreachBatch that must land a batch in N tables together can be
    * re-invoked with the same batch after any failure (Spark's
    * documented at-least-once contract), and this returns None instead
    * of landing it twice. The ledger rides EVERY pend's manifest
    * header, so atomicity extends to the bookkeeping itself: after
    * recovery, either all N tables carry both the batch and its ledger
    * entry, or none does — the skip decision is readable from ANY of
    * them. Checked three times, like the single-table form: before
    * staging (fast path, no work), at prepare against each table's
    * CURRENT base (a racing retry of the same batch aborts this
    * attempt's pends and skips), never after. */
  def commitMultiIdempotent(s: SparkSession,
      writes: Seq[(String, DataFrame)], appId: String, batchId: Long,
      maxAttempts: Int = 8): Option[Map[String, Long]] =
    commitMultiImpl(s, writes, Some((appId, batchId)), maxAttempts)

  private def commitMultiImpl(s: SparkSession,
      writes: Seq[(String, DataFrame)], txn: Option[(String, Long)],
      maxAttempts: Int): Option[Map[String, Long]] = {
    // idempotence fast path: the transaction is atomic, so ANY member
    // table's ledger answers for all of them — one header-resolved
    // manifest read, no staging
    if (txn.exists { case (a, b) => writes.exists { case (t, _) =>
        val cur = currentVersion(s, t)
        cur >= 0 && manifest(s, t, cur).txns.get(a).exists(_ >= b)
      }}) return None
    val staged = stageMulti(s, writes)
    try {
      var attempt = 0
      while (attempt < maxAttempts) {
        attempt += 1
        txnAttempts.incrementAndGet()
        try {
          prepareDecide(s, staged, finalize = true, txn = txn) match {
            case Some(landed) => return Some(landed)
            case None => // aborted or slot contention: retry at new bases
          }
        } catch { case _: TxnAlreadyApplied =>
          // a racing retry of the SAME batch won: clean skip
          staged.foreach { case (t, _, _, fresh) => dropStaged(s, t, fresh) }
          return None
        }
      }
      throw new ConcurrentModificationException(
        s"multi-table transaction lost ${maxAttempts} straight races " +
          s"over ${writes.map(_._1).mkString(", ")}")
    } catch { case e: Throwable =>
      staged.foreach { case (t, _, _, fresh) => dropStaged(s, t, fresh) }
      throw e
    }
  }

  /** Transaction attempts since process start (instrumentation). */
  private[graft] val txnAttempts =
    new java.util.concurrent.atomic.AtomicLong

  /** The staging half of [[commitMultiAppend]]: validate + stage each
    * table's batch ONCE (appends derive from nothing, so every retry
    * reuses these files verbatim). Split out so the crash-window spec
    * can drive [[prepareDecide]] directly. */
  private[graft] def stageMulti(s: SparkSession,
      writes: Seq[(String, DataFrame)])
      : Seq[(String, DataFrame, Seq[(String, String)], Seq[String])] = {
    require(writes.nonEmpty, "empty transaction")
    require(writes.map(_._1).distinct.size == writes.size,
      "a table may appear once per transaction")
    writes.map { case (t, df) =>
      val m0 = manifest(s, t, currentVersion(s, t))
      val have = m0.schema.getOrElse(snapshot(s, t).schema)
        .map(fd => (fd.name, fd.dataType)).toSeq
      require(df.schema.map(fd => (fd.name, fd.dataType)).toSeq == have,
        s"$t: append schema does not match table schema $have")
      enforceChecks(s, m0.checks, df, s"$t: multi-table append")
      val fresh =
        if (m0.idxCols.nonEmpty || m0.strIdxCols.nonEmpty)
          stageIndexed(s, t, toPhysical(df, m0), m0.idxCols, m0.strIdxCols)
        else stage(s, t, toPhysical(df, m0))
      (t, df, m0.checks, fresh)
    }
  }

  /** One prepare → decide (→ finalize) round. `finalize = false` is the
    * CRASH SIMULATION hook the spec uses: the transaction commits its
    * marker and stops — recovery-on-read must complete it. Returns the
    * landed versions, or None when this attempt aborted (its pends are
    * cleaned here; staged data files are the caller's). */
  private[graft] def prepareDecide(s: SparkSession,
      staged: Seq[(String, DataFrame, Seq[(String, String)], Seq[String])],
      finalize: Boolean,
      onPrepared: () => Unit = () => (),
      txn: Option[(String, Long)] = None): Option[Map[String, Long]] = {
    val txnId = java.util.UUID.randomUUID().toString
    val marker = new Path(
      new Path(staged.head._1, "_txn"), s"$txnId.done")
    val prepared = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long)]
    def cleanup(): Unit = prepared.foreach { case (t, v) =>
      fs(s, logDir(t)).delete(pendPath(t, v, txnId), false)
    }
    // an exception mid-prepare (a concurrently-added constraint the
    // batch violates, an I/O error) must not orphan this attempt's
    // pends as immortal slot-blockers: decide ABORT first — so a racing
    // recoverer can never finalize a half-prepared transaction — then
    // remove them and rethrow
    try staged.foreach { case (t, df, checks0, fresh) =>
      val cur = currentVersion(s, t)
      val m = manifest(s, t, cur)
      // idempotence recheck at the CURRENT base: a racing retry of the
      // same (app, batch) already landed — this attempt must abort (the
      // catch below decides abort + cleans pends), not land twice
      if (txn.exists { case (a, b) => m.txns.get(a).exists(_ >= b) })
        throw new TxnAlreadyApplied
      // same revalidation rule as the single-table resolving append: a
      // constraint added since staging must be enforced before commit
      if (m.checks != checks0)
        enforceChecks(s, m.checks, df, s"$t: multi-table append " +
          "(constraint added concurrently)")
      // schema equality was validated against the STAGE-TIME base; the
      // pend below renders withMapping(m, df.schema), so if an ADD
      // COLUMN landed between staging and this (retried) attempt, the
      // evolve's new column would silently vanish from the committed
      // schema. Re-require it here and fail LOUDLY — a retry cannot
      // outrun a permanent schema change, and the catch below aborts
      // the transaction and cleans this attempt's pends
      m.schema.foreach { sch =>
        val have = sch.map(fd => (fd.name, fd.dataType)).toSeq
        require(df.schema.map(fd => (fd.name, fd.dataType)).toSeq == have,
          s"$t: table schema changed concurrently during the " +
            s"multi-table transaction (now $have); re-stage the batch")
      }
      val body = s"#pendmarker=$marker\n" + manifestBody(s, t,
        m.entries.map(render) ++ fresh, cur, "append",
        withMapping(m, df.schema).json, m.deletes, m.idxCols,
        m.strIdxCols, m.blooms, Nil, Nil, m.retired, m.checks, txn)
      val ld = logDir(t)
      val f = fs(s, ld)
      val slotFree = commitLock.synchronized {
        // a FOREIGN pend in our slot gets the same treatment plain
        // writers give us: resolve through its arbiter — finalize a
        // decided-commit (slot genuinely taken), abort an undecided one
        // (a crashed or slower transaction; ours proceeds) — so a dead
        // transaction can never block this table's transactions forever
        pendsIn(f, ld).filter(_._2 == cur + 1).foreach { case (n, _, _) =>
          resolvePend(s, t, n, abortInFlight = true)
        }
        val taken = f.exists(manifestPath(t, cur + 1)) ||
          pendsIn(f, ld).exists(_._2 == cur + 1)
        !taken && LogFile.publish(f, ld, pendPath(t, cur + 1, txnId), body)
      }
      if (!slotFree) {
        cleanup()
        return None
      }
      prepared += ((t, cur + 1))
    } catch {
      // the slot-contention `return None` above travels as a control
      // throwable — it already cleaned up, let it through untouched
      case e: scala.util.control.ControlThrowable => throw e
      case e: Throwable =>
        decideTxn(s, marker, "abort")
        cleanup()
        throw e
    }
    onPrepared() // spec hook: interleave work in the undecided window
    val verdict = decideTxn(s, marker, "commit")
    if (verdict != "commit") { cleanup(); return None }
    if (finalize) prepared.foreach { case (t, v) =>
      resolvePend(s, t, pendPath(t, v, txnId).getName,
        abortInFlight = false)
    }
    Some(prepared.toMap)
  }

  /** One writer's intended change for [[commitResolving]]: freshly-staged
    * manifest lines to add (rendered WITHOUT seqs — [[commit]] stamps
    * them), the paths it removes (rewrites/drops), and the paths whose
    * CONTENT its outputs were derived from (the read set — for a rewrite
    * that is the removed files themselves; an append reads nothing).
    *
    * The maintenance override fields (all None for plain writers):
    * `deletes` = Some(replacement) REPLACES the base's tombstone lines
    * (compact/zorder apply-and-clear them, rewriteTombstones collapses
    * them) — any interleaved change to the delete SET then conflicts,
    * because the replacement was derived from the old one; None inherits
    * the (refreshed) base's tombstones verbatim. `idxCols` = Some(cols)
    * adopts a new integral index header (zorder's clustering-spec
    * evolution). `schemaFallback` records a schema ONLY when the base
    * has none (a pre-#schema table) — never overriding the refreshed
    * base's, so a rebase past a concurrent schema evolution keeps the
    * winner's schema. `blooms` = Some(refs) replaces the base's bloom
    * sidecar refs (a full rewrite drops them: every covered file is
    * gone). `schema` = Some(json) REPLACES the base's schema and
    * `strIdxCols` its string index header (a compaction that restaged
    * every file under the live names drops the column mapping); any
    * interleaved winner then conflicts. */
  case class Change(added: Seq[String], removed: Set[String],
      readSet: Set[String], op: String = "write",
      metrics: Seq[(String, Long)] = Nil,
      deletes: Option[Seq[(String, String, Long)]] = None,
      idxCols: Option[Seq[String]] = None,
      schemaFallback: Option[String] = None,
      blooms: Option[Seq[BloomRef]] = None,
      txn: Option[(String, Long)] = None,
      schema: Option[String] = None,
      strIdxCols: Option[Seq[String]] = None)

  /** Outcome of a resolved commit: the landed version plus how the
    * conflicts were handled — `rebases` = CAS losses resolved as pure
    * metadata (the change re-applied onto the winner's manifest, no data
    * re-read or re-written), `recomputes` = true conflicts where the
    * work had to re-run against the new base. */
  case class CommitOutcome(version: Long, rebases: Int, recomputes: Int)

  /** Commit with FILE-LEVEL optimistic-conflict resolution — the fix for
    * whole-table OCC serialization at high write concurrency. A plain
    * [[commit]] loser must re-do its work on ANY interleaved commit;
    * here the loser first checks whether the interleaved winners
    * actually touched the files it cares about:
    *
    *   conflict ⇔ some winner REMOVED a file the loser also removes
    *              (both rewrote it) or a file in the loser's READ SET
    *              (the loser's outputs are stale), or a winner added
    *              new merge-on-read tombstones while the loser rewrote
    *              or read data (rewritten rows would escape them),
    *              or a winner restaged the table under new physical
    *              column names while the loser adds files staged under
    *              the old ones ([[restaged]]; a `work` that hands back
    *              the same files then fails loudly).
    *
    * Disjoint writers — appends, or rewrites of non-overlapping file
    * sets — REBASE: the same staged files re-commit onto the winner's
    * manifest as one more metadata round-trip, with zero data re-read,
    * re-filtered, or re-written. That is the conflict-set validation
    * public formats run (Iceberg's validation history, Delta's
    * conflict checker), and the difference between "1000 executors can
    * append concurrently" and "every commit serializes through data
    * recomputation". `work` receives the base version it must compute
    * against and stages against it; it re-runs ONLY on a true overlap.
    *
    * `recheck` runs with the base version before EVERY commit attempt —
    * including pure-metadata rebases, where `work` is deliberately NOT
    * re-invoked — so a caller whose commit-or-skip decision depends on
    * what the interleaved winners contained (the streaming sink's
    * replay ledger) can re-validate atomically with the CAS loop: any
    * competing commit that lands before our rename forces a CAS loss,
    * and the next `recheck` sees it. Throwing from `recheck` abandons
    * the commit (the caller owns cleanup of its staged files). */
  def commitResolving(s: SparkSession, table: String,
      recheck: Long => Unit = _ => ())
      (work: Long => Change): CommitOutcome = {
    var rebases = 0
    var recomputes = 0
    var base = currentVersion(s, table)
    var m = manifest(s, table, base)
    var ch = work(base)
    while (true) {
      recheck(base)
      ch.removed.foreach(p => require(m.entries.exists(_.path == p),
        s"$table: change removes $p which version $base does not list"))
      val lines = m.entries.filterNot(e => ch.removed(e.path)).map(render) ++
        ch.added
      try {
        val v = commit(s, table, lines, base, op = ch.op,
          schemaJson = ch.schema.orElse(m.schema.map(_.json))
            .orElse(ch.schemaFallback).orNull,
          deleteLines = ch.deletes.getOrElse(m.deletes),
          idxCols = ch.idxCols.getOrElse(m.idxCols),
          strIdxCols = ch.strIdxCols.getOrElse(m.strIdxCols),
          blooms = ch.blooms.getOrElse(m.blooms),
          metrics = ch.metrics, retired = m.retired, checks = m.checks,
          txn = ch.txn)
        return CommitOutcome(v, rebases, recomputes)
      } catch {
        case _: ConcurrentModificationException =>
          val newCur = currentVersion(s, table)
          // winners = every version that landed since our base; each is
          // judged against ITS parent so a chain of winners accumulates
          val winners = (base + 1 to newCur).map(wv =>
            (manifest(s, table, wv - 1), manifest(s, table, wv)))
          // a winner that restaged the table under new physical names
          // (a compaction dropping the column mapping): files staged
          // under the old names would read as NULL under its schema
          val remap = ch.added.nonEmpty &&
            winners.exists { case (pm, wm) => restaged(pm.schema, wm.schema) }
          val conflict = remap || winners.exists { case (pm, wm) =>
            val wRemoved =
              pm.entries.map(_.path).toSet -- wm.entries.map(_.path).toSet
            val newTombs = wm.deletes.toSet -- pm.deletes.toSet
            // a schema REPLACEMENT renames what every file is read by:
            // any winner's files and schema predate it
            ch.schema.isDefined ||
            wRemoved.exists(p => ch.removed(p) || ch.readSet(p)) ||
              (newTombs.nonEmpty &&
                (ch.removed.nonEmpty || ch.readSet.nonEmpty)) ||
              // a delete-set REPLACEMENT was derived from the base's
              // tombstones: ANY interleaved change to them (new MoR
              // tombstones, another collapse, a clearing compact)
              // invalidates the derivation
              (ch.deletes.isDefined && wm.deletes != pm.deletes) ||
              // same rule for a bloom-ref replacement: a winner that
              // added a bloom for a file this rewrite did NOT touch
              // must not have it silently dropped by the rebase
              (ch.blooms.isDefined && wm.blooms != pm.blooms)
          }
          base = newCur
          m = manifest(s, table, newCur)
          if (conflict) {
            recomputes += 1
            val stale = ch.added.map(_.takeWhile(_ != '\t')).toSet
            ch = work(base)
            // a `work` that hands back the same staged files cannot
            // land them past a restage: loud, never NULL columns
            if (remap && ch.added.exists(l => stale(l.takeWhile(_ != '\t'))))
              throw new IllegalStateException(s"$table: version $base " +
                "restaged the table under its live column names while " +
                "this write's files were staged under the old ones — " +
                "retry the write")
          } else rebases += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Stage a DataFrame as new immutable parquet files under a fresh uuid
    * dir; returns their table-relative paths. Staged files are invisible
    * until a manifest references them — a crashed writer leaves garbage
    * for vacuum, never a corrupt table. */
  def stage(s: SparkSession, table: String, df: DataFrame): Seq[String] =
    writeStaged(s, table, df, None).map(_._1)

  /** THE staging write every commit path shares: one parquet write job
    * into a fresh uuid dir, optionally measuring per-file stats inside
    * the write tasks ([[StatsWrite]]); returns (relative path, byte
    * size) per file from ONE listing of the new dir, sorted by path. */
  private def writeStaged(s: SparkSession, table: String, df: DataFrame,
      tracker: Option[StatsWrite.FileStatsTracker]): Seq[(String, Long)] = {
    val sub = s"data/${java.util.UUID.randomUUID()}"
    StatsWrite.parquet(df, s"$table/$sub", tracker.toSeq)
    val dir = new Path(s"$table/$sub")
    fs(s, dir).listStatus(dir).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => (s"$sub/${st.getPath.getName}", st.getLen)).sortBy(_._1)
  }

  /** Stage ONE zero-row schema-carrying sentinel file — the guard every
    * commit path uses when its content is empty (a zero-file version
    * would be unreadable by design: snapshot resolution needs at least
    * one schema-carrying file). */
  def stageEmpty(s: SparkSession, table: String,
      schema: org.apache.spark.sql.types.StructType): Seq[String] =
    stage(s, table, s.createDataFrame(
      s.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.Row], 1),
      schema))

  /** Whether a freshly-staged manifest LINE carries at least one stat
    * group — i.e. the staged file has rows: [[stageIndexed]] and the
    * streaming sink emit the bare path for a zero-row file (nothing
    * to stat), so "has a field separator" ⇔ "has stats". Named here so
    * callers filtering out empty-partition files say what they mean
    * instead of testing for a magic character. */
  def hasStats(line: String): Boolean = line.contains('\t')

  /** Delete staged-but-uncommitted files (abort paths): `rels` may be
    * bare relative paths or full manifest LINES (path is the first
    * field) — the manifest-line format stays TxnTable's knowledge. */
  def dropStaged(s: SparkSession, table: String, rels: Seq[String]): Unit =
    rels.foreach { rel =>
      val p = new Path(pathFor(table, rel.split('\t').head))
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, false)
    }

  /** Create the table at version 0. */
  def create(s: SparkSession, table: String, df: DataFrame): Long =
    commit(s, table, stage(s, table, df), expected = -1L, op = "create",
      schemaJson = df.schema.json)

  /** Append-commit: next version = current entries + newly staged ones
    * (prior entries keep their manifest lines verbatim, so per-file stats
    * survive appends). The append must match the table's schema (names +
    * types, nullability ignored): a drifted append would not fail here
    * but at some future read, as missing columns or a parquet merge
    * error — the table format's job is to turn that into an immediate
    * commit-time error. (Overwrite-commits MAY change the schema: that
    * is how a table evolves.) */
  def append(s: SparkSession, table: String, df: DataFrame,
             op: String = "append"): Long = {
    val cur = currentVersion(s, table)
    val m = manifest(s, table, cur) // ONE log read for all facets below
    // the committed schema answers the drift check without touching any
    // data file; only a pre-#schema table falls back to a footer read
    val have = m.schema.getOrElse(snapshot(s, table, cur).schema)
      .map(f => (f.name, f.dataType)).toSeq
    val got = df.schema.map(f => (f.name, f.dataType)).toSeq
    require(got == have,
      s"append schema $got does not match table schema $have")
    enforceChecks(s, m.checks, df, s"$table: append")
    // appending stat-less files to an INDEXED table would degrade pruning
    // and make the next compact() drop the index — stage with stats on
    // the table's index columns instead. Indexed = ANY entry carries
    // stats: a zero-row staged file legitimately has none, and one such
    // entry must not silently downgrade the whole table (skipping keeps
    // stat-less entries conservatively anyway)
    // staging writes PHYSICAL names (identity on unmapped tables); the
    // index headers already speak physical, so stats line up
    val fresh =
      if (m.idxCols.nonEmpty || m.strIdxCols.nonEmpty)
        stageIndexed(s, table, toPhysical(df, m), m.idxCols, m.strIdxCols)
      else stage(s, table, toPhysical(df, m))
    // pending tombstones CARRY (they keep applying to older entries);
    // the appended files' seq = this commit's version > every pending
    // tombstone's seq, so appended rows — even re-inserted tombstoned
    // keys — stay visible
    commit(s, table, m.entries.map(render) ++ fresh, cur, op = op,
      schemaJson = withMapping(m, df.schema).json, deleteLines = m.deletes,
      idxCols = m.idxCols, strIdxCols = m.strIdxCols, blooms = m.blooms,
      retired = m.retired, checks = m.checks)
  }

  /** Append that never loses to a concurrent writer: same schema check
    * and indexed staging as [[append]], but the commit goes through
    * [[commitResolving]] — an append removes and reads nothing, so a
    * CAS loss rebases (the staged files re-commit onto the winner's
    * manifest as one more metadata round-trip, zero data re-written)
    * unless the winner restaged the table under new physical column
    * names, which restages the rows. This is what the SQL catalog's INSERT INTO rides:
    * 1000 concurrent inserters serialize only through manifest writes,
    * exactly like every public table format's append path. */
  def appendResolving(s: SparkSession, table: String, df: DataFrame)
      : CommitOutcome =
    appendResolvingImpl(s, table, df, None).get

  /** IDEMPOTENT append keyed by (`appId`, `batchId`) — the Delta
    * txnAppId/txnVersion contract, the missing half of exactly-once for
    * any RETRIED writer (a foreachBatch restart, a task-level replay, a
    * client retrying after a timeout whose first attempt actually
    * landed): the commit records its (app, batch) pair in the
    * manifest's cumulative `#txn=` ledger, and a second application of
    * a batch the ledger already covers (`batchId` at-or-below the
    * recorded one) is a clean no-op — `None`, nothing staged survives,
    * no version lands. The ledger rides the CURRENT manifest (carried
    * by every commit), so the check is one header read at any log
    * length, and it is re-validated inside the commit CAS loop (the
    * `recheck` hook): two racing retries of the same batch serialize
    * through the manifest rename, the loser re-reads the ledger at its
    * new base, finds its batch landed, and aborts — duplicates are
    * impossible BY THE LOG, not by session state, so the guarantee
    * survives driver restarts. Batch ids must be monotone per app
    * (every replay-offset scheme — streaming epoch, CDC cursor — is). */
  def appendIdempotent(s: SparkSession, table: String, df: DataFrame,
      appId: String, batchId: Long): Option[CommitOutcome] =
    appendResolvingImpl(s, table, df, Some((appId, batchId)))

  /** Thrown inside the CAS loop when the recheck finds our (app, batch)
    * already in the ledger — the retry raced us and won. */
  private class TxnAlreadyApplied extends RuntimeException

  /** `beforeCommit` runs with the base before every commit attempt — a
    * test seam for landing a concurrent commit between the staging and
    * the CAS. */
  private[graft] def appendResolvingImpl(s: SparkSession, table: String,
      df: DataFrame, txn: Option[(String, Long)],
      beforeCommit: Long => Unit = _ => ()): Option[CommitOutcome] = {
    val v0 = currentVersion(s, table)
    val m0 = manifest(s, table, v0)
    // idempotence fast path: the batch already landed — nothing to stage
    val applied = (t: (String, Long)) =>
      m0.txns.get(t._1).exists(_ >= t._2)
    if (txn.exists(applied)) return None
    val have = m0.schema.getOrElse(snapshot(s, table).schema)
      .map(f => (f.name, f.dataType)).toSeq
    val got = df.schema.map(f => (f.name, f.dataType)).toSeq
    require(got == have,
      s"append schema $got does not match table schema $have")
    enforceChecks(s, m0.checks, df, s"$table: append")
    // staged once against m0: an append derives from nothing, so
    // rebases reuse the files verbatim. The one recompute an append
    // meets is a winner that restaged the table under new physical
    // names (commitResolving's remap rule): the rows then restage
    // under the new base's names and index headers.
    var fresh: Seq[String] = Nil
    def stageFor(m: Manifest): Seq[String] = {
      dropStaged(s, table, fresh)
      fresh =
        if (m.idxCols.nonEmpty || m.strIdxCols.nonEmpty)
          stageIndexed(s, table, toPhysical(df, m), m.idxCols, m.strIdxCols)
        else stage(s, table, toPhysical(df, m))
      fresh
    }
    // a CAS loss rebases without re-running work — but an interleaved
    // ADD CONSTRAINT commit changes what this append must satisfy, and
    // rebasing past it would land unvalidated rows under a constraint
    // addCheck just verified. The recheck re-enforces against any base
    // whose check set moved (one change-set pass, only on that race) —
    // and re-reads the idempotence ledger, so a racing retry of the
    // SAME batch aborts instead of landing twice.
    try Some(commitResolving(s, table, base => {
      beforeCommit(base)
      // no-race fast path: the base we already validated against costs
      // no extra log read
      if (base != v0) {
        val bm = manifest(s, table, base)
        if (txn.exists(t => bm.txns.get(t._1).exists(_ >= t._2)))
          throw new TxnAlreadyApplied
        if (bm.checks != m0.checks)
          enforceChecks(s, bm.checks, df, s"$table: append (constraint " +
            "added concurrently)")
      }
    })(base => Change(
      stageFor(if (fresh.isEmpty) m0 else manifest(s, table, base)),
      Set.empty, Set.empty, op = "append", txn = txn)))
    catch {
      case _: TxnAlreadyApplied => dropStaged(s, table, fresh); None
      case e: Throwable => dropStaged(s, table, fresh); throw e
    }
  }

  private[graft] def render(e: Entry): String =
    (e.path +: e.seq.toString +: renderGroups(e)).mkString("\t")

  /** Render a FRESHLY-STAGED entry WITHOUT a seq field (fields % 4 == 1):
    * the data sequence number is this-commit state, so [[commit]] stamps
    * it — staging must not bake in a stale one. */
  private[graft] def renderFresh(e: Entry): String =
    (e.path +: renderGroups(e)).mkString("\t")

  private def renderGroups(e: Entry): Seq[String] =
    e.stats.map { case ColStat(c, lo, hi, n) => s"$c\t$lo\t$hi\t$n" } ++
      e.strStats.map { case StrStat(c, lo, hi, n) =>
        s"$c~s\t${b64enc(lo)}\t${b64enc(hi)}\t$n" } ++
      e.hlls.map { case HllStat(c, sk, n) => s"$c~h\t$sk\t$n\t0" } ++
      // the per-file byte size rides as one more 4-field group, so the
      // carried-line field-count invariant (%4) holds unchanged
      (if (e.bytes >= 0) Seq(s"~b\t${e.bytes}\t0\t0") else Nil)

  /** Stage with per-file column statistics: like [[stage]], but each
    * manifest line carries (col, min, max, nulls), an NDV sketch and the
    * row count for every index spec, (lo, hi, nulls) string bounds for
    * every `strCols` column, and the file's byte size — the
    * Iceberg-style metadata that lets a reader prune files from the
    * MANIFEST, before touching storage. The stats are measured INSIDE
    * the write tasks, from the rows as they are written
    * ([[fileStatsTracker]]): staging an indexed frame is the same one
    * Spark job as staging a plain one, with no re-read of what it just
    * wrote. */
  def stageIndexed(s: SparkSession, table: String, df: DataFrame,
                   indexCols: Seq[String],
                   strCols: Seq[String] = Nil): Seq[String] = {
    if (indexCols.isEmpty && strCols.isEmpty) return stage(s, table, df)
    val tracker = fileStatsTracker(s, df.schema, indexCols, strCols)
    stagedLines(writeStaged(s, table, df, Some(tracker)), tracker.byFile,
      indexCols, strCols)
  }

  /** PARTITION-TRANSFORM index spec (Iceberg hidden partitioning): an
    * integral index column may be spelled `days(c)` — per-file stats are
    * then computed on the DERIVED value (days since epoch of timestamp
    * `c`), recorded in the manifest under the spec string itself, and
    * timestamp-range predicates on the BASE column map to day ranges at
    * every prune site (ManifestPrune's day rule).
    * The table never materializes a day column — the transform lives in
    * metadata only, so event tables get time-pruning for free. */
  private[graft] val DaysSpec = """^days\((.+)\)$""".r

  /** The other Iceberg transform: `bucketN(c)` — a multiplicative hash
    * of integral column `c` into N buckets. All arithmetic stays inside
    * the Mersenne field (2^31−1) so no intermediate overflows a long
    * under ANSI and a SQL oracle replays it with plain `%`. */
  private[graft] val BucketSpec = """^bucket(\d+)\((.+)\)$""".r
  private val BucketP = 2147483647L // 2^31 − 1
  private val BucketM = 2654435761L % BucketP // Knuth's multiplier, mod P

  /** Literal-side twin of the bucket mapping. */
  private[graft] def bucketOf(v: Long, n: Int): Long =
    Math.floorMod(Math.floorMod(v, BucketP) * BucketM, BucketP) % n

  /** The Column a (possibly transform) index spec measures: identity for
    * a plain column name; for `days(c)` the epoch-day of timestamp `c` —
    * floor division so pre-1970 values land on the correct day; for
    * `bucketN(c)` the N-ary multiplicative hash bucket of integral `c`.
    * The numeric mappings are THE single convention: ManifestPrune maps
    * predicate literals with the same floorDiv and [[bucketOf]] to
    * match. */
  private[graft] def idxExpr(spec: String): Column = spec match {
    case DaysSpec(c) =>
      // EXACT integer floorDiv of epoch micros — `div` keeps the whole
      // computation in longs (pmod makes it a floor, not a truncation),
      // so the write-side day can never diverge from the read-side
      // floorDiv twins ([[epochDayUs]], ManifestPrune.dayLit) the way a
      // double round-trip could at the edges of the timestamp range
      val q = c.replace("`", "``")
      expr(s"(unix_micros(`$q`) - pmod(unix_micros(`$q`), " +
        "86400000000)) div 86400000000")
    case BucketSpec(n, c) =>
      pmod(pmod(col(c).cast("long"), lit(BucketP)) * lit(BucketM),
        lit(BucketP)) % n.toInt
    case c => col(c)
  }

  /** Epoch-day of a millisecond timestamp — the literal-side twin of
    * [[idxExpr]]'s days() mapping. */
  private[graft] def epochDayMs(ms: Long): Long =
    Math.floorDiv(ms, 86400000L)

  /** Epoch MICROSECONDS of a java.sql.Timestamp — getTime alone drops
    * the sub-millisecond part the nanos field carries. */
  private[graft] def tsMicros(t: java.sql.Timestamp): Long = {
    val i = t.toInstant
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
      i.getNano / 1000L)
  }

  /** Microsecond-exact epoch-day of a timestamp — the named twin the
    * day-transform prune sites share. */
  private[graft] def epochDayUs(t: java.sql.Timestamp): Long =
    Math.floorDiv(tsMicros(t), 86400000000L)


  /** The per-file stats measurer for rows of `schema` — the write-side
    * twin of [[statGroupsByFile]], with the same semantics: per index
    * spec the [[idxExpr]] value's (min, max) cast to long (a decimal's
    * box widened to floor(min)/ceil(max)), its null count and its
    * `hll_sketch_agg` (decimals sketched through their string form);
    * per string column its (min, max) as strings and its null count.
    * Refuses what [[statGroupsByFile]] refuses, before anything runs.
    * Shared by [[stageIndexed]] and the streaming sink's executor-side
    * writers, so both channels produce the same manifest lines. */
  private[graft] def fileStatsTracker(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType, indexCols: Seq[String],
      strCols: Seq[String]): StatsWrite.FileStatsTracker = {
    checkIndexNames(indexCols ++ strCols)
    val widened = widenedSpecs(s.createDataFrame(
      java.util.Collections.emptyList[Row](), schema), indexCols)
    val asLong = (v: Column) => v.cast("long")
    StatsWrite.tracker(s, schema,
      values = indexCols.map(idxExpr) ++ strCols.map(col),
      lo = indexCols.map(c =>
        if (widened(c)) (v: Column) => floor(v).cast("long") else asLong) ++
        strCols.map(_ => (v: Column) => v.cast("string")),
      hi = indexCols.map(c =>
        if (widened(c)) (v: Column) => ceil(v).cast("long") else asLong) ++
        strCols.map(_ => (v: Column) => v.cast("string")),
      sketched = indexCols.map(c => hllOf(c, widened(c))))
  }

  /** Render freshly-staged (path, bytes) pairs into manifest lines from
    * the per-file measurements of [[fileStatsTracker]] (keyed by file
    * name). A zero-row file — or one the tracker never saw — has no
    * stats and stays PATH-ONLY (downstream zero-row filters key on "no
    * TAB"); the string-stat values follow the integral ones, in
    * `strCols` order. */
  private[graft] def stagedLines(files: Seq[(String, Long)],
      stats: Map[String, StatsWrite.FileStats], indexCols: Seq[String],
      strCols: Seq[String]): Seq[String] =
    files.map { case (rel, bytes) =>
      stats.get(rel.split('/').last).filter(_.rows > 0) match {
        case None => rel
        case Some(f) =>
          val ints = indexCols.zipWithIndex.map { case (c, i) =>
            // an ALL-NULL file has no min/max: the empty range (lo > hi)
            if (f.lo(i) == null) ColStat(c, 0L, -1L, f.nulls(i))
            else ColStat(c, f.lo(i).asInstanceOf[Long],
              f.hi(i).asInstanceOf[Long], f.nulls(i))
          }
          val hlls = indexCols.zip(f.sketches).map { case (c, b) =>
            HllStat(c, java.util.Base64.getEncoder.encodeToString(b), f.rows)
          }
          val strs = strCols.zipWithIndex.map { case (c, j) =>
            val i = indexCols.length + j
            if (f.lo(i) == null) StrStat(c, "", "", f.nulls(i))
            else StrStat(c, truncLower(f.lo(i).asInstanceOf[String]),
              truncUpper(f.hi(i).asInstanceOf[String]), f.nulls(i))
          }
          renderFresh(Entry(rel, ints, strs, hlls = hlls, bytes = bytes))
      }
    }

  /** The manifest-format guard on index column names: the '~s' suffix
    * discriminates stat kinds in the manifest, TAB separates fields, and
    * ',' separates the `#index=` header's column list — a column name
    * using any of them would corrupt every future parse of the committed
    * line. */
  private def checkIndexNames(cols: Seq[String]): Unit =
    cols.foreach(c =>
      require(!c.endsWith("~s") && !c.endsWith("~h") && c != "~b" &&
        !c.exists("\t\n,".contains(_)),
        s"index column name '$c' would corrupt the manifest format"))

  def stageIndexed(s: SparkSession, table: String, df: DataFrame,
                   indexCol: String): Seq[String] =
    stageIndexed(s, table, df, Seq(indexCol))

  /** The index specs of `df` whose stats box is WIDENED (decimals), after
    * refusing the types no box can describe soundly. Fractional index
    * columns stop here, at the one choke point every stats write passes
    * (staging, refresh merge, reindex): a plain long cast TRUNCATES
    * toward zero — hi would exclude the true maximum, lo a negative
    * minimum — and would MIS-PRUNE, the one failure worse than no stats
    * at all. DECIMALS (exact fixed-point, no NaN) get SOUND widened
    * boxes instead — lo = floor(min), hi = ceil(max), a superset of the
    * values, so overlap AND containment checks stay conservative (a
    * legacy table whose manifest already carries a decimal index column
    * keeps writing; money-typed keys prune). Binary floating point still
    * refuses BY NAME: NaN poisons the box algebra (min/max propagate it,
    * a NaN cast is 0) — index an integral surrogate instead. */
  private def widenedSpecs(df: DataFrame, indexCols: Seq[String])
      : Set[String] = {
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    indexCols.flatMap { c =>
      df.select(idxExpr(c)).schema.head.dataType match {
        case DoubleType | FloatType =>
          throw new IllegalArgumentException(
            s"cannot stat-index floating-point column '$c': NaN breaks " +
              "the min/max box algebra — cluster without indexing, or " +
              "index an integral surrogate")
        case d: DecimalType if d.precision - d.scale > 18 =>
          throw new IllegalArgumentException(
            s"cannot stat-index decimal column '$c' ($d): its integral " +
              "part can exceed the manifest's long box range — index " +
              "an integral surrogate")
        case _: DecimalType => Some(c)
        case _ => None
      }
    }.toSet
  }

  /** The per-file NDV sketch of index spec `c`. hll_sketch_agg takes no
    * decimal input; a widened (decimal) spec is sketched through its
    * canonical fixed-scale string rendering, which is injective, so the
    * NDV is the value NDV. */
  private def hllOf(c: String, widened: Boolean): Column =
    hll_sketch_agg(if (widened) idxExpr(c).cast("string") else idxExpr(c), 8)

  /** One stats-measuring scan over `df`, per file: the (min, max,
    * nulls) group, NDV sketch and row count for every index spec, plus
    * the string-bound groups — keyed by the value of `file`, the
    * caller's file-key column ([[reindex]] passes the scan's
    * `__gcanon`). Used by [[reindex]] alone (stats backfill over live
    * files that were written without them); files being written get the
    * same stats from [[fileStatsTracker]] inside the write. */
  private[graft] def statGroupsByFile(df: DataFrame, file: Column,
      indexCols: Seq[String], strCols: Seq[String])
      : Map[String, (Seq[ColStat], Seq[HllStat], Seq[StrStat])] = {
    val widened = widenedSpecs(df, indexCols)
    val aggs = indexCols.flatMap { c =>
      val (loE, hiE) =
        if (widened(c)) (floor(min(idxExpr(c))), ceil(max(idxExpr(c))))
        else (min(idxExpr(c)), max(idxExpr(c)))
      Seq(
        loE.cast("long").as(s"lo_$c"),
        hiE.cast("long").as(s"hi_$c"),
        sum(when(idxExpr(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
        // the per-file NDV sketch rides the SAME stats pass — no extra
        // scan; sketches union losslessly at read time ([[ndv]])
        hllOf(c, widened(c)).as(s"hs_$c"),
        count(lit(1)).as(s"cnt_$c"))
    } ++
      strCols.flatMap(c => Seq(
        min(col(c)).cast("string").as(s"slo_$c"),
        max(col(c)).cast("string").as(s"shi_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"snn_$c")))
    df.groupBy(file.as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => (r.getString(0),
        (indexCols.map { c =>
          // an ALL-NULL file has no min/max: record the empty range
          // (lo > hi) — unmatchable by any value box, kept by IS NULL
          if (r.isNullAt(r.fieldIndex(s"lo_$c")))
            ColStat(c, 0L, -1L, r.getAs[Long](s"nn_$c"))
          else ColStat(c, r.getAs[Long](s"lo_$c"),
            r.getAs[Long](s"hi_$c"), r.getAs[Long](s"nn_$c"))
        },
          indexCols.flatMap { c =>
            Option(r.getAs[Array[Byte]](s"hs_$c"))
              .map(b => HllStat(c,
                java.util.Base64.getEncoder.encodeToString(b),
                r.getAs[Long](s"cnt_$c")))
          },
          strCols.map { c =>
            // an all-null STRING column records the EMPTY range (lo > hi
            // in UTF-8 order), mirroring the integral convention: the
            // group must still be EMITTED — omitting it would render a
            // path-only line that the zero-row-file filter in merge/
            // deleteRange (no TAB ⇒ zero rows) would silently drop,
            // losing live rows
            if (r.isNullAt(r.fieldIndex(s"slo_$c")))
              StrStat(c, "", "", r.getAs[Long](s"snn_$c"))
            else StrStat(c,
              truncLower(r.getAs[String](s"slo_$c")),
              truncUpper(r.getAs[String](s"shi_$c")),
              r.getAs[Long](s"snn_$c"))
          })))
      .toMap
  }

  /** Build a per-file BLOOM FILTER sidecar over column `c` for the given
    * staged files — the stat kind for POINT lookups on a column the
    * layout is NOT clustered by (a time-partitioned table probed by id:
    * every file's id [min,max] spans the whole keyspace, so range stats
    * prune nothing, but each file holds only its own ids). The bloom is
    * built in ONE distributed aggregation (k probe positions per row →
    * per-(file, word) bit_or) and stored as an ordinary parquet sidecar
    * — never collected to the driver: at 100 TB blooms are data-sized
    * metadata, which is exactly why Iceberg keeps them in Puffin files
    * beside the data rather than in the manifest. The manifest carries
    * only the O(1) `#bloom=` reference.
    *
    * Sizing: ~`bitsPerRow` bits per row at the MEASURED mean file size
    * with `k` double-hashed probes (h1 + i·h2, the standard
    * Kirsch–Mitzenmacher construction over two xxhash64 seeds) — false-
    * positive rate ≈ 1% at 16/4, independent of scale because m grows
    * with the rows. */
  def buildBloom(s: SparkSession, table: String, rels: Seq[String],
                 c: String, bitsPerRow: Long = 16L, k: Int = 4): BloomRef = {
    require(rels.nonEmpty, "buildBloom over zero files")
    val paths = rels.map(r => pathFor(table, r))
    val df = s.read.parquet(paths: _*)
    val rowsPerFile = math.max(1L, df.count() / rels.size)
    val m = ((bitsPerRow * rowsPerFile + 63L) / 64L) * 64L
    // combine in mod-space: (h1 + i*h2) mod m == (h1 mod m + i*(h2 mod m))
    // mod m, and the reduced operands can't overflow a long under ANSI
    // arithmetic (i < k, operands < m)
    // hash the column AS LONG: xxhash64 is type-sensitive, and the probe
    // side hashes a long literal — an int-typed column hashed in its
    // stored width would systematically miss on every probe (wrong EMPTY
    // results, not just a missed prune)
    val h1 = pmod(xxhash64(col(c).cast("long")), lit(m))
    val h2 = pmod(xxhash64(lit("graftbloom"), col(c).cast("long")), lit(m))
    val positions = array((0 until k).map(i =>
      pmod(h1 + lit(i.toLong) * h2, lit(m))): _*)
    val words = df
      .select(regexp_extract(input_file_name(), "[^/]+$", 0).as("f"),
        explode(positions).as("p"))
      .select(col("f"), (col("p") / 64).cast("long").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 64) AS INT))").as("b"))
      .groupBy(col("f"), col("w")).agg(expr("bit_or(b)").as("b"))
    val sub = s"data/bloom-${java.util.UUID.randomUUID()}"
    words.write.parquet(s"$table/$sub")
    BloomRef(sub, c, m, k)
  }

  /** The bloom MEMBERSHIP probe behind [[ManifestPrune.keep]]: which
    * data files (by name) the sidecar `b` cannot prove free of value
    * `v`. Files the sidecar does not cover (added after the bloom was
    * built) are conservatively kept; a false positive costs one extra
    * file scan, never a wrong result (the residual filter still applies
    * inside surviving files). One SMALL job over the sidecar (data-sized
    * metadata, ≪ the data), O(#files) driver state — same order as the
    * manifest itself. */
  private[graft] def bloomProbe(s: SparkSession, table: String,
      b: BloomRef, v: Long): String => Boolean = {
    import s.implicits._
    // replay the EXACT build-side hash (same xxhash64 expressions,
    // evaluated over one literal row) — a driver-side reimplementation
    // could drift from Spark's hash of the typed column
    val probe = s.range(1).select(
      xxhash64(lit(v)).as("h1"),
      xxhash64(lit("graftbloom"), lit(v)).as("h2")).collect()(0)
    val (p1, p2) = (Math.floorMod(probe.getLong(0), b.m),
      Math.floorMod(probe.getLong(1), b.m))
    val need = (0 until b.k)
      .map(i => Math.floorMod(p1 + i * p2, b.m))
      .map(p => (p / 64, 1L << (p % 64).toInt))
      .groupBy(_._1).map { case (w, ps) =>
        (w, ps.map(_._2).reduce(_ | _)) }.toSeq
    // ONE pass over the sidecar (pathFor: a clone's bloom ref is
    // absolute): the left join keeps every covered file in the
    // grouping, so coverage and the membership verdict come out of
    // the same O(#files) collect
    val sidecar = s.read.schema("f STRING, w BIGINT, b BIGINT")
      .parquet(pathFor(table, b.dir))
    val needDf = broadcast(need.toDF("w", "need"))
    val perFile = sidecar.join(needDf, Seq("w"), "left")
      .groupBy(col("f"))
      .agg(sum(when(col("need").isNotNull &&
          col("b").bitwiseAND(col("need")) === col("need"), 1)
        .otherwise(0)).as("hit"))
      .select(col("f"), (col("hit") === need.size).as("ok"))
      .as[(String, Boolean)].collect()
    val covered = perFile.map(_._1).toSet
    val hits = perFile.filter(_._2).map(_._1).toSet
    name => !covered(name) || hits(name)
  }

  /** Build a bloom sidecar over the table's CURRENT live files and
    * commit its reference in one metadata commit (entries verbatim,
    * zero data rewritten) — the post-hoc indexing path SQL tables use
    * (`CALL graft.system.build_bloom`). A previous bloom on the same
    * column is superseded (its sidecar stays on disk for pinned
    * readers; vacuum sweeps it once unreferenced). Files appended
    * AFTER the build are uncovered and conservatively scanned until the
    * next build. Refused over pending MoR tombstones: a bloom must
    * not testify for rows a reader never sees — compact() first. */
  def buildBloomCommit(s: SparkSession, table: String, c: String): Long = {
    val cur = currentVersion(s, table)
    val m = manifest(s, table, cur)
    require(m.deletes.isEmpty,
      s"$table: build_bloom with pending merge-on-read tombstones would " +
        "index rows a reader never sees — compact() applies them first")
    require(m.schema.forall(_.fields.exists(f => f.name == c)),
      s"$table: no column '$c' to bloom-index")
    require(m.schema.forall(_.fields.forall(f => physName(f) == f.name)),
      s"$table: build_bloom on a column-mapped table is not supported " +
        "(the sidecar reads files by physical name) — compact() " +
        "restages under the live names first")
    val b = buildBloom(s, table, m.entries.map(_.path), c)
    commit(s, table, m.entries.map(render), cur, op = "build_bloom",
      schemaJson = m.schema.map(_.json).orNull,
      idxCols = m.idxCols, strIdxCols = m.strIdxCols,
      blooms = m.blooms.filterNot(_.col == c) :+ b,
      retired = m.retired, checks = m.checks)
  }

  /** Table-level NDV of column `c` at version `v`, from MANIFEST
    * METADATA ALONE: one driver-side union of the per-file HLL sketches
    * [[stageIndexed]] wrote (kilobytes per file — the same O(#files)
    * driver cost as reading the manifest itself; a 100 TB table answers
    * in milliseconds with zero data I/O). Sketches union losslessly, so
    * the estimate over any live-file subset is as good as a fresh
    * single-pass sketch. None when no live entry carries a sketch for
    * `c` (pre-v4 manifests, or an unindexed column) — callers must fall
    * back to conservative behavior, never guess. */
  def ndv(s: SparkSession, table: String, c: String, v: Long = -1L)
      : Option[Long] = {
    import org.apache.datasketches.hll.{HllSketch, Union}
    val ver = if (v < 0) currentVersion(s, table) else v
    val sketches = manifest(s, table, ver).entries.flatMap(_.hllFor(c))
    if (sketches.isEmpty) None
    else {
      val u = new Union(12)
      sketches.foreach(b => u.update(
        HllSketch.heapify(java.util.Base64.getDecoder.decode(b))))
      Some(math.round(u.getEstimate))
    }
  }

  /** (bytes, rows) of an arbitrary ENTRY SUBSET from manifest metadata
    * alone — the per-scan variant of [[tableBytes]]/[[tableRows]]: what
    * the DSv2 scan reports to the SQL planner AFTER file pruning, so a
    * pure-SQL join of two graft tables gets the stats-driven broadcast
    * decision without ANALYZE. None per facet when any non-empty entry
    * predates the recording formats — callers fall back, never guess. */
  def entriesBytesRows(entries: Seq[Entry])
      : (Option[Long], Option[Long]) = {
    val bytes = entries.map { e =>
      if (e.bytes >= 0) Some(e.bytes)
      else if (e.stats.isEmpty && e.strStats.isEmpty) Some(0L)
      else None
    }
    val rows = entries.map { e =>
      if (e.hlls.nonEmpty) Some(e.hlls.head.rows)
      else if (e.stats.isEmpty && e.strStats.isEmpty) Some(0L)
      else None
    }
    (if (bytes.forall(_.isDefined)) Some(bytes.flatten.sum) else None,
      if (rows.forall(_.isDefined)) Some(rows.flatten.sum) else None)
  }

  /** Merged-HLL NDV of PHYSICAL column `c` over an entry subset; None
    * unless every non-empty entry carries a sketch for it. */
  def entriesNdv(entries: Seq[Entry], c: String): Option[Long] = {
    import org.apache.datasketches.hll.{HllSketch, Union}
    val per = entries.map { e =>
      val sk = e.hllFor(c)
      if (sk.isDefined) sk
      else if (e.stats.isEmpty && e.strStats.isEmpty) Some("")
      else None
    }
    if (!per.forall(_.isDefined)) None
    else {
      val sketches = per.flatten.filter(_.nonEmpty)
      if (sketches.isEmpty) return Some(0L)
      val u = new Union(12)
      sketches.foreach(b => u.update(
        HllSketch.heapify(java.util.Base64.getDecoder.decode(b))))
      Some(math.round(u.getEstimate))
    }
  }

  /** Null count of PHYSICAL column `c` over an entry subset, from the
    * per-file value/string stat groups; None when unrecorded. */
  def entriesNulls(entries: Seq[Entry], c: String): Option[Long] = {
    val per = entries.map { e =>
      val n = e.stats.find(_.col == c).map(_.nulls)
        .orElse(e.strStats.find(_.col == c).map(_.nulls))
      if (n.exists(_ >= 0)) n
      else if (e.stats.isEmpty && e.strStats.isEmpty) Some(0L)
      else None
    }
    if (per.forall(_.isDefined)) Some(per.flatten.sum) else None
  }

  /** Exact row count of version `v` from MANIFEST METADATA ALONE: the
    * per-file counts the v4 stats pass records, summed driver-side.
    * None when any non-empty entry predates the counts (pre-v4) or the
    * table is unindexed — callers fall back, never guess. (A group-less
    * entry in an INDEXED table is the zero-row sentinel: counts 0.) */
  def tableRows(s: SparkSession, table: String, v: Long = -1L)
      : Option[Long] = {
    val ver = if (v < 0) currentVersion(s, table) else v
    val m = manifest(s, table, ver)
    if (m.idxCols.isEmpty) return None
    val per = m.entries.map { e =>
      if (e.hlls.nonEmpty) Some(e.hlls.head.rows)
      else if (e.stats.isEmpty && e.strStats.isEmpty) Some(0L)
      else None
    }
    if (per.forall(_.isDefined)) Some(per.flatten.sum) else None
  }

  /** Exact on-disk byte size of version `v` from MANIFEST METADATA
    * ALONE: the per-file sizes the v5 stats pass records
    * ([[stageIndexed]]), summed driver-side. None when any entry WITH
    * stat groups predates the sizes (pre-v5) or the table is unindexed —
    * callers fall back, never guess. A group-less entry in an indexed
    * table is the zero-row sentinel: a few hundred bytes of parquet
    * scaffolding, counted as 0 (it can never flip a broadcast-side
    * decision). */
  def tableBytes(s: SparkSession, table: String, v: Long = -1L)
      : Option[Long] = {
    val ver = if (v < 0) currentVersion(s, table) else v
    val m = manifest(s, table, ver)
    if (m.idxCols.isEmpty && m.strIdxCols.isEmpty) return None
    val per = m.entries.map { e =>
      if (e.bytes >= 0) Some(e.bytes)
      else if (e.stats.isEmpty && e.strStats.isEmpty) Some(0L)
      else None
    }
    if (per.forall(_.isDefined)) Some(per.flatten.sum) else None
  }

  /** Join two snapshot tables with the broadcast side chosen from
    * MANIFEST STATS — the decision q47 gets from ANALYZE TABLE, here
    * answered by the log itself (no catalog, no stats job, no footer
    * reads). The build side is the one with fewer BYTES ([[tableBytes]],
    * exact file sizes — what actually bounds the broadcast hash table's
    * memory; a 10×-fewer-rows table of 100×-wider rows is the WRONG side
    * by row count). Only when either side predates the byte sizes does
    * the decision fall back to exact row counts ([[tableRows]]), then to
    * Spark's own size-based planning (no hint). Returns the joined frame
    * plus which side was broadcast (Some(true)=right, Some(false)=left,
    * None=no stats decision). */
  def snapshotJoinStats(s: SparkSession, left: String, leftKey: String,
      right: String, rightKey: String): (DataFrame, Option[Boolean]) = {
    val l = snapshot(s, left)
    val r = snapshot(s, right)
    val cond = l(leftKey) === r(rightKey)
    val weights = (tableBytes(s, left), tableBytes(s, right)) match {
      case (Some(lb), Some(rb)) => Some((lb, rb))
      case _ => (tableRows(s, left), tableRows(s, right)) match {
        case (Some(ln), Some(rn)) => Some((ln, rn))
        case _ => None
      }
    }
    weights match {
      case Some((lw, rw)) if rw <= lw => (l.join(broadcast(r), cond), Some(true))
      case Some(_) => (broadcast(l).join(r, cond), Some(false))
      case None => (l.join(r, cond), None)
    }
  }

  /** Outcome of a file-pruned [[merge]]: the committed version plus the
    * file accounting the caller asserts on — how many of the previous
    * version's files were rewritten vs carried verbatim. */
  case class MergeResult(version: Long, touched: Int, untouched: Int) {
    def total: Int = touched + untouched
  }

  /** Outcome of a file-pruned [[deleteRange]]: `dropped` files were
    * removed from the manifest WITHOUT being read (their whole key range
    * fell inside the predicate — metadata-only deletion), `rewritten`
    * were filtered and re-staged, `kept` carried verbatim. */
  case class DeleteResult(version: Long, dropped: Int, rewritten: Int,
      kept: Int) {
    def total: Int = dropped + rewritten + kept
  }

  /** One-sided string bound: (value, inclusive). */
  type StrBound = Option[(String, Boolean)]

  /** File-pruned DELETE of the key range [lo, hi] — the single-integral-
    * column shape, delegating to the general [[deleteWhere]]. */
  def deleteRange(s: SparkSession, table: String, key: String,
                  lo: Long, hi: Long): DeleteResult =
    deleteWhere(s, table, Seq((key, lo, hi)), Nil)

  /** File-pruned DELETE of an arbitrary RANGE/EQUALITY CONJUNCTION over
    * integral and string columns: per dimension, the manifest's per-file
    * stats give a verdict — provably DISJOINT ('k'), provably FULLY
    * COVERED with zero nulls ('d'), or unknown ('u') — and the verdicts
    * compose across dimensions: any disjoint dimension keeps the file
    * VERBATIM (never listed, opened, or read), all-covered drops it as
    * pure metadata, anything else rewrites it with the FULL predicate as
    * residual filter. Bounds on columns the manifest does not index
    * yield 'u' everywhere — they never prune, but the indexed columns in
    * the same conjunction still do, so `WHERE k BETWEEN a AND b AND
    * status = 'X'` touches only the files k's stats can reach. String
    * bounds carry per-side inclusivity and are tested against the
    * TRUNCATED manifest bounds, which are conservative by construction
    * (recorded lo ≤ true min, recorded hi ≥ true max — see [[StrStat]]):
    * a drop decision under truncated stats is still exact. Copy-on-write
    * as always: pinned readers of older versions still see the deleted
    * rows until vacuum. */
  def deleteWhere(s: SparkSession, table: String,
      intBounds: Seq[(String, Long, Long)],
      strBounds: Seq[(String, StrBound, StrBound)],
      cdc: Boolean = false): DeleteResult = {
    require(intBounds.nonEmpty || strBounds.nonEmpty,
      "deleteWhere needs at least one column bound (no-WHERE truncation " +
        "is the caller's empty-overwrite path)")
    val cur = currentVersion(s, table)
    val m = manifest(s, table, cur) // ONE log read for all facets below
    // stat groups speak PHYSICAL names; predicate columns arrive logical
    val pm = physMap(m)
    // a provably-EMPTY integral bound (conflicting equalities) matches
    // no row anywhere: every file keeps verbatim
    val emptyBound = intBounds.exists { case (_, lo, hi) => lo > hi }
    def intSide(e: Entry, lc: String, lo: Long, hi: Long): Char = {
      val c = pm.getOrElse(lc, lc)
      e.statFor(c) match {
        // an empty recorded range (all-null file) holds no VALUES a
        // value predicate could match — keep it verbatim
        case Some((fLo, fHi)) if fLo > fHi => 'k'
        case Some((fLo, fHi)) if fHi < lo || fLo > hi => 'k'
        case Some((fLo, fHi)) if fLo >= lo && fHi <= hi &&
          e.nullsFor(c).forall(_ == 0L) => 'd'
        case _ => 'u'
      }
    }
    def strSide(e: Entry, lc: String, lo: StrBound, hi: StrBound): Char = {
      val c = pm.getOrElse(lc, lc)
      e.strStats.collectFirst { case st @ StrStat(`c`, _, _, _) => st } match {
        case Some(StrStat(_, fLo, fHi, nulls)) =>
          // disjoint: the file's whole (true) range falls strictly on one
          // side of the query range — conservative under truncation
          // because fLo ≤ trueMin and fHi ≥ trueMax
          val below = lo.exists { case (v, inc) =>
            val cmp = u8cmp(fHi, v); if (inc) cmp < 0 else cmp <= 0 }
          val above = hi.exists { case (v, inc) =>
            val cmp = u8cmp(fLo, v); if (inc) cmp > 0 else cmp >= 0 }
          if (u8cmp(fLo, fHi) > 0 || below || above) 'k'
          else {
            val inLo = lo.forall { case (v, inc) =>
              val cmp = u8cmp(fLo, v); if (inc) cmp >= 0 else cmp > 0 }
            val inHi = hi.forall { case (v, inc) =>
              val cmp = u8cmp(fHi, v); if (inc) cmp <= 0 else cmp < 0 }
            if (inLo && inHi && nulls == 0L) 'd' else 'u'
          }
        case None => 'u'
      }
    }
    def side(e: Entry): Char =
      if (emptyBound) 'k'
      else {
        val dims = intBounds.map { case (c, lo, hi) => intSide(e, c, lo, hi) } ++
          strBounds.map { case (c, lo, hi) => strSide(e, c, lo, hi) }
        if (dims.contains('k')) 'k'
        else if (dims.forall(_ == 'd')) 'd'
        else 'u'
      }
    // the FULL predicate, rebuilt from the parsed bounds (the rebuild is
    // lossless: the caller normalized the conjunction into exactly these
    // bounds) — the rewrite keeps rows where it is FALSE or NULL (SQL
    // three-valued logic — a null key is never deleted)
    val pred = coalesce((intBounds.map { case (c, lo, hi) =>
        (if (lo == Long.MinValue) lit(true) else col(c) >= lo) &&
          (if (hi == Long.MaxValue) lit(true) else col(c) <= hi)
      } ++ strBounds.map { case (c, lo, hi) =>
        lo.map { case (v, inc) => if (inc) col(c) >= v else col(c) > v }
          .getOrElse(lit(true)) &&
          hi.map { case (v, inc) => if (inc) col(c) <= v else col(c) < v }
            .getOrElse(lit(true))
      }).reduce(_ && _), lit(false))
    val primary = intBounds.headOption.map(_._1)
      .getOrElse(strBounds.head._1)
    deleteFinish(s, table, cur, m, primary, m.entries.map(e => e -> side(e)),
      _.filter(!pred), cdc, pred)
  }

  /** Marks a commit that PROVABLY changed no rows: either the
    * verdicts touched no file at all (provable with or without cdc), or
    * the cdc feed — exact by construction — came back empty. Without
    * the marker such a commit looks like a feed-less content change and
    * permanently breaks downstream incremental consumers ([[MatView]])
    * over a NO-OP: the weekly retention job whose cutoff reached
    * nothing would force a full recompute. */
  private def changeNoopMarker(filesTouched: Boolean, cdc: Boolean,
      refs: Seq[String]): Seq[(String, Long)] =
    if (!filesTouched || (cdc && refs.isEmpty))
      Seq("change_noop" -> 1L)
    else Nil

  /** [[stageCdcFeed]] with the zero-row prune: Spark writes one
    * zero-row part file even for an empty frame (partition 0's writer
    * opens eagerly) — drop it rather than commit a junk feed, so
    * "no refs" means exactly "no rows changed". */
  private def stageSignedFeed(s: SparkSession, table: String,
      feed: DataFrame, targetVersion: Long): Seq[String] = {
    // the row count rides the staging write as an observed metric — the
    // read-back `.isEmpty` probe this replaces re-opened the freshly
    // written feed with one more Spark action per CDC commit
    val obs = org.apache.spark.sql.Observation()
    val refs = stageCdcFeed(s, table,
      feed.observe(obs, count(lit(1)).as("n")), targetVersion)
    if (refs.nonEmpty && obs.get("n").asInstanceOf[Long] == 0L) {
      val f = fs(s, new Path(table))
      refs.foreach(r => f.delete(new Path(pathFor(table, r)), false))
      Nil
    } else refs
  }

  /** The signed feed of a copy-on-write DELETE (`cdc = true` on
    * [[deleteWhere]]/[[deleteIn]]): every deleted row with w = −1 —
    * what lets an incremental consumer ([[MatView.refresh]] especially)
    * fold a DELETE instead of refusing or rescanning the base. Naming
    * the rows costs reading the DROPPED files too, and boundary
    * (rewritten) files are read a second time for the feed on top of
    * the survivor rewrite — the price of an exact feed without holding
    * the rewrite set in memory, paid only on request. Staged for the
    * commit landing at `cur + 1`. */
  private def deleteCdcRefs(s: SparkSession, table: String, m: Manifest,
      cur: Long, dropped: Seq[Entry], rewrite: Seq[Entry],
      deletedPred: Column): Seq[String] = {
    // same guard as signedDiff/the merge feed: a data column named 'w'
    // would be silently clobbered by the sign column
    require(!m.schema.exists(_.fieldNames.contains("w")),
      s"$table: cdc delete feeds reserve the column name 'w' for the " +
        "sign — rename the data column")
    val droppedRows =
      if (dropped.isEmpty) None else Some(readEntries(s, table, m, dropped))
    val removedRows =
      if (rewrite.isEmpty) None
      else Some(readEntries(s, table, m, rewrite).filter(deletedPred))
    (droppedRows.toSeq ++ removedRows.toSeq).reduceOption(_ unionByName _)
      .map(d => stageSignedFeed(s, table, d.withColumn("w", lit(-1)),
        cur + 1))
      .getOrElse(Nil)
  }

  /** File-pruned DELETE of an explicit VALUE SET over one integral
    * column — the GDPR-id-list shape `DELETE FROM t WHERE k IN
    * (v1..vn)`. A range is the wrong tool here: [min(vs), max(vs)]
    * spans nearly the whole table for a scattered id list, while
    * PER-VALUE verdicts touch only the files some member can actually
    * reach. Per file and per value, every stat dimension answers:
    * range/z-order stats say v may live there only if lo ≤ v ≤ hi;
    * a `bucketN(key)` transform layout (where raw ranges prune
    * nothing) says so only if [[bucketOf]](v) lands in the file's
    * bucket box — the sql_txn_dpp IN-set logic, write-side. Verdicts
    * compose conservatively: no member reaches the file → kept
    * VERBATIM (never listed or opened); a single-point file [v, v]
    * with v in the set and zero nulls → dropped as pure metadata;
    * anything else rewrites with the exact residual (null keys always
    * survive — SQL IN three-valued logic). Copy-on-write as always:
    * pinned readers see the deleted rows until vacuum. */
  def deleteIn(s: SparkSession, table: String, key: String,
      values: Seq[Long], cdc: Boolean = false): DeleteResult = {
    require(values.nonEmpty,
      "deleteIn needs at least one value (an empty IN-list deletes " +
        "nothing — make the no-op explicit at the call site)")
    val cur = currentVersion(s, table)
    val m = manifest(s, table, cur)
    val pm = physMap(m)
    val pc = pm.getOrElse(key, key)
    val vset = values.distinct.sorted.toIndexedSeq
    val folded = vset.size > ManifestPrune.InSetCap
    val (envLo, envHi) = (vset.head, vset.last)
    // the members' bucket images, computed ONCE per spec: bucketOf maps
    // into [0, n), so each image set is ≤ n values however long the id
    // list — the per-file probe below is O(n), never O(#values)
    val bucketImages: Seq[(String, Set[Long])] = m.idxCols.collect {
      case sp @ BucketSpec(n, `pc`) if !folded =>
        sp -> vset.map(bucketOf(_, n.toInt)).toSet
    }
    def side(e: Entry): Char = {
      val range: Char = e.statFor(pc) match {
        case Some((fLo, fHi)) if fLo > fHi => 'k' // all-null file
        case Some((fLo, fHi)) =>
          val mayHold =
            if (folded) !(envHi < fLo || envLo > fHi)
            // vset is sorted: probe the window [fLo, fHi] by search
            else {
              val from = lowerBound(vset, fLo)
              from < vset.size && vset(from) <= fHi
            }
          if (!mayHold) 'k'
          // single-point file: mayHold on [v, v] means v IS a member,
          // so with zero nulls every row matches — pure-metadata drop
          else if (!folded && fLo == fHi &&
            e.nullsFor(pc).forall(_ == 0L)) 'd'
          else 'u'
        case None => 'u'
      }
      if (range == 'k') return 'k'
      // the bucket dimension can only STRENGTHEN a keep: a file whose
      // bucket box no member's bucket image reaches holds none of them
      val bucketKeeps = bucketImages.exists { case (sp, bs) =>
        e.statFor(sp).exists { case (bLo, bHi) =>
          bLo <= bHi && !bs.exists(b => b >= bLo && b <= bHi) }
      }
      if (bucketKeeps) 'k' else range
    }
    val verdicts = m.entries.map(e => e -> side(e))
    deleteFinish(s, table, cur, m, key, verdicts,
      surviveNotIn(s, _, key, folded, vset,
        org.apache.spark.sql.types.LongType),
      cdc, coalesce(col(key).isin(vset: _*), lit(false)))
  }

  /** Survivors of an IN-delete: rows whose key is NOT a member — a NULL
    * key makes `k IN (...)` NULL, which DELETE must NOT act on. Small
    * sets stay a codegen'd isin; oversized sets ship as a broadcast
    * anti-join instead of a 10k-literal expression tree (null keys
    * never match an equi-join, so they survive identically). ONE body
    * for both key types — the per-type drift this prevents is exactly
    * how the string path's null-guard bug crept in. */
  private def surviveNotIn(s: SparkSession, prev: DataFrame, key: String,
      folded: Boolean, values: Seq[Any],
      dt: org.apache.spark.sql.types.DataType): DataFrame =
    if (!folded) prev.filter(!coalesce(col(key).isin(values: _*),
      lit(false)))
    else {
      val vdf = s.createDataFrame(
        s.sparkContext.parallelize(
          values.map(org.apache.spark.sql.Row(_)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__graft_in_v", dt))))
      prev.join(broadcast(vdf),
        prev(key) === col("__graft_in_v"), "left_anti")
    }

  /** [[deleteIn]] for a STRING key — the real GDPR id list is usually
    * UUIDs/URLs/emails, and the table format already keeps truncated
    * string stats (strIdxCols). The same per-value verdict algebra in
    * UTF-8 binary order (u8cmp — Spark's own string comparison, the
    * order the manifest bounds are recorded in): the recorded box is
    * conservative (lo ≤ true min, hi ≥ true max after truncation), so
    * the sorted-window probe can only over-touch, never miss; the
    * single-point metadata drop stays SOUND under truncation because
    * lo == hi == v forces every row to equal v exactly. Sets past
    * [[ManifestPrune.InSetCap]] fold to the envelope for verdicts while the
    * residual and the feed stay exact. */
  def deleteInStr(s: SparkSession, table: String, key: String,
      values: Seq[String], cdc: Boolean = false): DeleteResult = {
    require(values.nonEmpty,
      "deleteInStr needs at least one value (an empty IN-list deletes " +
        "nothing — make the no-op explicit at the call site)")
    require(values.forall(_ != null),
      "deleteInStr values must be non-null (IN (..., NULL) never " +
        "matches under three-valued logic — drop the NULL at the call " +
        "site)")
    val cur = currentVersion(s, table)
    val m = manifest(s, table, cur)
    val pc = physMap(m).getOrElse(key, key)
    val u8 = Ordering.fromLessThan[String](u8cmp(_, _) < 0)
    val vset = values.distinct.sorted(u8).toIndexedSeq
    val folded = vset.size > ManifestPrune.InSetCap
    val (envLo, envHi) = (vset.head, vset.last)
    // a STRING key's null count lives in StrStat — the integral
    // nullsFor reads ColStat and would be vacuously absent here,
    // turning the metadata-drop guard into a NULL-row eater
    def strNulls(e: Entry): Option[Long] =
      e.strStats.collectFirst { case StrStat(`pc`, _, _, n) => n }
    // an ALL-NULL string column records ("", "") bounds (the group must
    // be emitted — see statGroupsByFile); no dedicated sentinel branch
    // is needed: only the member "" can probe into ["", ""], and the
    // null-aware drop guard below demotes that case to a rewrite whose
    // exact residual keeps every NULL row
    def side(e: Entry): Char = e.strStatFor(pc) match {
      case Some((fLo, fHi)) =>
        val mayHold =
          if (folded) !(u8cmp(envHi, fLo) < 0 || u8cmp(envLo, fHi) > 0)
          else {
            val from = lowerBoundStr(vset, fLo)
            from < vset.size && u8cmp(vset(from), fHi) <= 0
          }
        if (!mayHold) 'k'
        // the pure-metadata drop needs a KNOWN zero null count: with
        // nulls present, `v IN (...)` is NULL for those rows and DELETE
        // must keep them — rewrite with the exact residual instead
        else if (!folded && fLo == fHi && strNulls(e).exists(_ == 0L))
          'd'
        else 'u'
      case None => 'u'
    }
    val verdicts = m.entries.map(e => e -> side(e))
    deleteFinish(s, table, cur, m, key, verdicts,
      surviveNotIn(s, _, key, folded, vset,
        org.apache.spark.sql.types.StringType),
      cdc, coalesce(col(key).isin(vset: _*), lit(false)))
  }

  /** The shared copy-on-write DELETE tail of [[deleteWhere]],
    * [[deleteIn]] and [[deleteInStr]]: apply the per-file verdicts
    * (k kept verbatim / d pure-metadata drop / u rewrite with the exact
    * residual), stage, publish the exact feed on request, commit with
    * the three-way accounting. Rewritten files read through
    * [[readEntries]] with the COMMITTED schema: pending sequenced
    * tombstones apply during the rewrite (the fresh files' seq then
    * escapes them), and a column added by appendEvolve survives. */
  private def deleteFinish(s: SparkSession, table: String, cur: Long,
      m: Manifest, key: String, verdicts: Seq[(Entry, Char)],
      survive: DataFrame => DataFrame, cdc: Boolean,
      memberPred: Column): DeleteResult = {
    val dropped = verdicts.collect { case (e, 'd') => e }
    val kept = verdicts.collect { case (e, 'k') => e }
    val rewrite = verdicts.collect { case (e, 'u') => e }
    val fresh =
      if (rewrite.isEmpty) Seq.empty
      else {
        val prev = readEntries(s, table, m, rewrite)
        val c = survive(prev)
          .repartitionByRange(math.max(rewrite.size, 1), col(key))
          .sortWithinPartitions(col(key))
        if (m.idxCols.nonEmpty || m.strIdxCols.nonEmpty)
          stageIndexed(s, table, toPhysical(c, m), m.idxCols, m.strIdxCols)
            .filter(hasStats)
        else stage(s, table, toPhysical(c, m))
      }
    val lines = kept.map(render) ++ fresh
    val finalLines =
      if (lines.nonEmpty) lines
      else stage(s, table, snapshot(s, table, cur).limit(0))
    // the membership predicate stays exact for the feed even when the
    // verdicts folded to the envelope (isin is fine here: the feed is
    // written once, not planned per file)
    val cdcRefs = if (!cdc) Nil else deleteCdcRefs(s, table, m, cur,
      dropped, rewrite, memberPred)
    val v = commit(s, table, finalLines, cur, op = "delete",
      schemaJson = m.schema.map(_.json).orNull, deleteLines = m.deletes,
      idxCols = m.idxCols, strIdxCols = m.strIdxCols, blooms = m.blooms,
      metrics = Seq("dropped" -> dropped.size.toLong,
        "rewritten" -> rewrite.size.toLong, "kept" -> kept.size.toLong) ++
        changeNoopMarker(dropped.nonEmpty || rewrite.nonEmpty, cdc,
          cdcRefs),
      cdcFiles = cdcRefs,
      retired = m.retired, checks = m.checks)
    DeleteResult(v, dropped.size, rewrite.size, kept.size)
  }

  /** Index of the first element of sorted `xs` that is ≥ `v` (== xs.size
    * when none) — the per-file membership probe [[deleteIn]] runs per
    * entry, O(log n) instead of an O(n) exists per file. */
  private def lowerBound(xs: IndexedSeq[Long], v: Long): Int = {
    var lo = 0; var hi = xs.size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (xs(mid) < v) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** [[lowerBound]] in UTF-8 binary order, for [[deleteInStr]]. */
  private def lowerBoundStr(xs: IndexedSeq[String], v: String): Int = {
    var lo = 0; var hi = xs.size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (u8cmp(xs(mid), v) < 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** File-pruned copy-on-write MERGE (latest-wins upsert): batch rows
    * REPLACE current rows with the same key, new keys insert — but only
    * the files whose manifest [min,max] key range can contain a batch key
    * are read and rewritten. Every other entry keeps its manifest line
    * VERBATIM (same path, same stats): on a 100 TB table a keyed batch
    * touching one key region rewrites that region's files, not the table
    * — the write-amplification fix for the naive read-union-overwrite
    * merge, and the reason manifests carry per-file key stats at all.
    *
    * Touched-file detection is a broadcast interval join of the batch's
    * keys against the O(#files) manifest range list (map-only over the
    * batch; the distinct matched file ids pulled back are bounded by
    * #files — driver-scale metadata, which the manifest already is). This
    * strictly dominates the row-level find-touched-files join public
    * formats run (joining the batch against the whole TABLE with
    * input_file_name to learn which files hold matching keys): file
    * key-range metadata answers from the manifest what a data join would
    * re-derive from 100 TB. Entries with no stats on the merge key are
    * conservatively treated as touched, so an unindexed table degrades to
    * the correct full rewrite, never to wrong content.
    *
    * The rewritten region is re-range-clustered on the key and staged
    * with fresh stats on the table's index columns, so merge never
    * degrades the manifest-skipping ability that makes the NEXT merge
    * cheap. `batch` must be key-unique (pre-resolve in-batch duplicates —
    * the caller owns that policy, e.g. max(src) — and must match the
    * table's schema). */
  def merge(s: SparkSession, table: String, batch: DataFrame,
            key: String): MergeResult =
    mergeCore(s, table, PlannedRows(batch.select(col(key)), batch), Seq(key))

  /** [[applyChanges]] with caller-supplied EXTRA commit metrics — for
    * consumers whose own replay state must land atomically with the
    * merge (the materialized-view refresh records the base version it
    * reflects in the SAME commit that applies the delta: a crash
    * between the two would otherwise double- or under-apply a feed). */
  def applyChangesWithMetrics(s: SparkSession, table: String,
      changes: DataFrame, key: String,
      extraMetrics: Seq[(String, Long)]): MergeResult =
    applyChangesWithMetrics(s, table, changes, Seq(key), extraMetrics)

  /** [[applyChangesWithMetrics]] keyed on a COMPOSITE key tuple (the
    * multi-key materialized-view refresh shape). `cdc = true` publishes
    * the merge's own signed feed — what lets a refreshed MV feed
    * FURTHER MVs (the derived-pipeline chain). */
  def applyChangesWithMetrics(s: SparkSession, table: String,
      changes: DataFrame, keys: Seq[String],
      extraMetrics: Seq[(String, Long)],
      cdc: Boolean = false, expectedVer: Long = -1L,
      pinned: Boolean = false): MergeResult =
    mergeCore(s, table, PlannedRows(changes.select(keys.map(col): _*),
      changes.filter(col("op") =!= "D").drop("op"), pinned), keys,
      extraMetrics, cdc = cdc, expectedVer = expectedVer)

  /** Full-semantics MERGE: apply a CHANGE SET carrying an op column —
    * the canonical "apply CDC into a table" form every production MERGE
    * statement compiles down to. Per change row, keyed on `key`:
    *
    *   - op 'U', key matched      → WHEN MATCHED UPDATE (row replaced)
    *   - op 'D', key matched      → WHEN MATCHED DELETE
    *   - op 'U', key not matched  → WHEN NOT MATCHED INSERT
    *   - op 'D', key not matched  → no-op (nothing to delete)
    *
    * File-pruned exactly like [[merge]]: only files whose manifest key
    * range can contain a change key (update OR delete) are rewritten;
    * everything else carries verbatim. `changes` must be key-unique and
    * match the table schema plus the op column. */
  def applyChanges(s: SparkSession, table: String, changes: DataFrame,
                   key: String, opCol: String = "op"): MergeResult =
    applyChangesMulti(s, table, changes, Seq(key), opCol)

  /** [[applyChanges]] keyed on a COMPOSITE key: the change set replaces
    * whole rows by the key TUPLE (which must be unique in the target).
    * File pruning intersects per-dimension manifest boxes — a file
    * rewrites only when some change key falls inside its bounding box
    * in EVERY key dimension (dimensions without stats are unbounded,
    * conservatively). Key columns may be integral (manifest value
    * boxes) or string (TRUNCATED string stats — conservative by
    * construction, so the box is a superset of the file's true range
    * and pruning stays exact); anything else has no sound manifest
    * stats and the caller must reject it. */
  def applyChangesMulti(s: SparkSession, table: String, changes: DataFrame,
                        keys: Seq[String], opCol: String = "op",
                        cdc: Boolean = false)
      : MergeResult =
    mergeCore(s, table, PlannedRows(changes.select(keys.map(col): _*),
      changes.filter(col(opCol) =!= "D").drop(opCol)), keys, cdc = cdc)

  /** MERGE-ON-READ [[applyChanges]]: apply the same 'U'/'D' change set
    * with ZERO data files rewritten. ONE commit carries (a) an equality
    * tombstone file listing the change set's keys — written without
    * reading the table at all, the Iceberg-v2 equality-delete shape —
    * and (b) the 'U' rows appended as fresh entries at the commit's OWN
    * sequence. The sequenced-tombstone rule ([[deleteKeysMor]]: a
    * tombstone deletes only from entries whose data seq is OLDER) makes
    * this correct in one atomic step: every pre-merge entry carries
    * verbatim and loses its matched rows to the anti-join, while the
    * re-inserted rows — same seq as the tombstone, not older — stay
    * visible. Tombstoning an unmatched key is a semantic no-op, so the
    * writer never pays a find-matched read; per-batch write cost is
    * O(change set), the heavy-churn CDC shape copy-on-write can't
    * serve (readers pay the anti-join until [[compact]] applies the
    * tombstones and both generations converge).
    *
    * The driver-size guard ([[DriverRows.collect]]) collects `changes`
    * once when it holds at most [[DriverRows.Cap]] rows: the distinct
    * key set, the tombstone file, the adds and the signed feed then all
    * come from that one copy — one evaluation of the caller's frame, no distinct
    * or diff shuffle. Above the guard each is planned over `changes`.
    * Either way the staging, the feed write and the commit are shared. */
  def applyChangesMor(s: SparkSession, table: String, changes: DataFrame,
                      key: String, opCol: String = "op",
                      cdc: Boolean = false): Long = {
    val cur = currentVersion(s, table)
    val m = manifest(s, table, cur)
    val adds = changes.filter(col(opCol) =!= "D").drop(opCol)
    val have = m.schema.getOrElse(snapshot(s, table, cur).schema)
      .map(f => (f.name, f.dataType)).toSeq
    require(adds.schema.map(f => (f.name, f.dataType)).toSeq == have,
      s"merge change set schema does not match table schema $have")
    require(have.exists(_._1 == key),
      s"merge key '$key' is not a column of $table")
    require(!physMap(m).getOrElse(key, key).endsWith("~L"),
      s"merge key '$key' ends in the reserved '~L' suffix " +
        "(bounded-tombstone marker)")
    val rows = DriverRows.collect(changes)
    val (tomb, addLines, feed) = rows match {
      case Some(rs) => morLocal(s, table, m, cur, rs, changes.schema, key,
        opCol, adds.schema)
      case None => morPlanned(s, table, m, cur, changes, key, adds)
    }
    if (tomb.isEmpty && addLines.isEmpty) return cur
    // optional SAME-COMMIT change feed (`cdc = true`): −1 rows with the
    // OLD values of the touched keys, +1 rows with the new — deletes,
    // inserts, updates as −1/+1 pairs; ghost deletes and no-op updates
    // vanish
    val refs = if (cdc) stageCdcFeed(s, table, feed(), cur + 1) else Nil
    // ONE commit: carried entries verbatim + fresh adds + the new
    // tombstone (seq = -1 → stamped with this commit's seq, same as
    // the fresh add entries — which therefore escape it)
    try commit(s, table, m.entries.map(render) ++ addLines, cur,
      op = "merge_mor",
      schemaJson = withMapping(m, adds.schema).json,
      deleteLines = m.deletes ++
        tomb.map((_, physMap(m).getOrElse(key, key), -1L)),
      idxCols = m.idxCols, strIdxCols = m.strIdxCols, blooms = m.blooms,
      metrics = Seq("touched" -> 0L,
        "untouched" -> m.entries.size.toLong,
        "appended" -> addLines.size.toLong),
      cdcFiles = refs,
      retired = m.retired, checks = m.checks)
    catch { case e: Throwable =>
      dropStaged(s, table, addLines ++ tomb)
      refs.foreach(r =>
        fs(s, new Path(table)).delete(new Path(s"$table/$r"), false))
      throw e
    }
  }

  /** Stage a merge-on-read commit's add rows as fresh entries (with
    * stats on an indexed table); the row count rides the write as an
    * observed metric, and an empty frame's zero-row file is dropped. */
  private def stageMorAdds(s: SparkSession, table: String, m: Manifest,
      adds: DataFrame): Seq[String] = {
    val obs = org.apache.spark.sql.Observation()
    val observed = toPhysical(adds, m).observe(obs, count(lit(1)).as("n"))
    val indexed = m.idxCols.nonEmpty || m.strIdxCols.nonEmpty
    val staged =
      if (indexed) stageIndexed(s, table, observed, m.idxCols, m.strIdxCols)
      else stage(s, table, observed)
    if (obs.get("n").asInstanceOf[Long] == 0L) {
      dropStaged(s, table, staged); Nil
    } else if (indexed) staged.filter(hasStats)
    else staged
  }

  /** [[applyChangesMor]] from the collected change rows `rows` (schema
    * `schema`): the key set is their distinct non-NULL keys, the adds
    * their non-'D' rows — each staged only when non-empty — and the
    * feed's pre-image is ONE pruned snapshot read of the rows at those
    * keys (an IN-set the manifest prunes file by file), diffed against
    * the adds on the driver. Returns (tombstone, add lines, feed). */
  private def morLocal(s: SparkSession, table: String, m: Manifest,
      cur: Long, rows: Seq[Row], schema: org.apache.spark.sql.types.StructType,
      key: String, opCol: String,
      addSchema: org.apache.spark.sql.types.StructType)
      : (Seq[String], Seq[String], () => DataFrame) = {
    val (ki, oi) = (schema.fieldIndex(key), schema.fieldIndex(opCol))
    // `op =!= 'D'`: a NULL op is neither an add nor (below) skipped as a key
    val addRows = rows.filter(r => !r.isNullAt(oi) && r.get(oi) != "D")
      .map(r => Row.fromSeq(r.toSeq.patch(oi, Nil, 1)))
    enforceChecks(s, m.checks, DriverRows.frame(s, addRows, addSchema),
      s"$table: merge change set")
    // NULL keys match no equality: a NULL-keyed tombstone row would
    // delete nothing — keep the tombstone file clean of them (NULL-key
    // 'U' rows still ride in the adds, the applyChanges insert
    // semantics); an all-ghost or empty change set stages no tombstone
    // (an empty file would tax every future read's anti-join)
    val keys = rows.map(_.get(ki)).filter(_ != null).distinct
    val keySchema = org.apache.spark.sql.types.StructType(Seq(schema(key)))
    val tomb =
      if (keys.isEmpty) Nil
      else stage(s, table, DriverRows.frame(s, keys.map(Row(_)), keySchema)
        .coalesce(1))
    val addLines =
      if (addRows.isEmpty) Nil else stageMorAdds(s, table, m,
        DriverRows.frame(s, addRows, addSchema))
    def feed(): DataFrame = {
      require(!addSchema.fieldNames.contains("w"),
        "change feed cannot be published for a table with a column " +
          "named 'w' (reserved for the feed's sign column)")
      val pre =
        if (keys.isEmpty) Array.empty[Row]
        else snapshot(s, table, cur).filter(col(key).isInCollection(keys))
          .collect()
      val k = addSchema.fieldIndex(key)
      val rest = addSchema.fields.indices.filterNot(_ == k)
      def signed(r: Row, w: Int) =
        Row.fromSeq(r.get(k) +: w +: rest.map(r.get))
      DriverRows.frame(s, signedDiffRows(pre.toSeq, addRows, k)
        .map { case (r, w) => signed(r, w) },
        org.apache.spark.sql.types.StructType(addSchema(k) +:
          org.apache.spark.sql.types.StructField("w",
            org.apache.spark.sql.types.IntegerType, nullable = false) +:
          rest.map(addSchema(_))))
    }
    (tomb, addLines, () => feed())
  }

  /** [[applyChangesMor]] above the change-set guard: the key set is a
    * distinct over `changes`, staged with its row count and key bounds
    * observed; the feed is [[signedDiff]] of the snapshot rows at the
    * staged tombstone's keys (read in the observed key range, the key
    * file broadcast under the size guard every tombstone join uses)
    * against a read-back of the staged adds. Returns (tombstone, add
    * lines, feed). */
  private def morPlanned(s: SparkSession, table: String, m: Manifest,
      cur: Long, changes: DataFrame, key: String, adds: DataFrame)
      : (Seq[String], Seq[String], () => DataFrame) = {
    enforceChecks(s, m.checks, adds, s"$table: merge change set")
    val keySet = changes.select(col(key)).filter(col(key).isNotNull)
      .distinct().coalesce(1)
    val keyObs = org.apache.spark.sql.Observation()
    val tomb0 = stage(s, table,
      keySet.observe(keyObs, count(lit(1)).as("n"),
        min(col(key)).as("lo"), max(col(key)).as("hi")))
    val tomb =
      if (keyObs.get("n").asInstanceOf[Long] > 0) tomb0
      else { dropStaged(s, table, tomb0); Nil }
    val addLines = stageMorAdds(s, table, m, adds)
    def empty = s.createDataFrame(s.sparkContext
      .parallelize(Seq.empty[org.apache.spark.sql.Row], 1), adds.schema)
    def feed(): DataFrame = {
      // `b`: the just-staged adds read back (physical names, positional
      // rename); `a`: the snapshot rows at the staged tombstone's keys —
      // the exact key set the commit tombstones, never a re-evaluation
      // of the caller's possibly-non-deterministic plan
      val newDf =
        if (addLines.isEmpty) empty
        else s.read.schema(physicalSchema(withMapping(m, adds.schema)))
          .parquet(addLines.map(l =>
            pathFor(table, l.split('\t').head)): _*)
          .toDF(adds.schema.fieldNames.toSeq: _*)
      val old =
        if (tomb.isEmpty) empty
        else {
          val kdf = s.read.schema(keySet.schema)
            .parquet(pathFor(table, tomb.head))
          snapshot(s, table, cur)
            .filter(col(key) >= keyObs.get("lo") &&
              col(key) <= keyObs.get("hi"))
            .join(hinted(s, table, kdf.select(col(kdf.columns.head).as(key)),
              tomb), Seq(key), "left_semi")
        }
      signedDiff(old, newDf, key)
    }
    (tomb, addLines, () => feed())
  }

  /** A copy-on-write merge's change set computed by a Spark plan: `keys`
    * = every key tuple it touches (decides which files rewrite), `adds`
    * = the rows that replace or insert (already op-filtered). `pinned` =
    * the caller already pinned the one frame both derive from. */
  private case class PlannedRows(keys: DataFrame, adds: DataFrame,
      pinned: Boolean = false)

  /** A driver-sized copy-on-write change set: `keys` = its key tuples
    * (the key columns of `addSchema`, in key order), and `adds` = the
    * rows that replace or insert (rows of `addSchema`), computed from
    * the PRE-IMAGE — the table's current rows at those keys — so a fold
    * (the MV refresh) derives its new rows from the same one read of
    * the touched files that yields the rewrite's survivors. */
  private[graft] case class LocalRows(keys: Seq[Row],
      addSchema: org.apache.spark.sql.types.StructType,
      adds: Seq[Row] => Seq[Row])

  /** The entries of `m` a change set may touch, and the rest (carried
    * verbatim): touched is every entry whose BOX
    * over the key dimensions can hold one of its key tuples, plus every
    * entry with stats on NO key dimension (the legacy statless rule —
    * it rewrites even for an empty change set, which is how the
    * zero-row sentinel gets absorbed by the first merge). A missing stat
    * leaves that dimension unbounded. String boxes are the TRUNCATED
    * manifest bounds — recorded lo ≤ true min, recorded hi ≥ true max —
    * so the test can only over-touch, never miss a file a key lands in.
    * Key dimensions are typed by the change set (already cast to the
    * table's column types): string dims test the string bounds in
    * UTF-8 binary order (Spark's own, and the bounds'), everything else
    * casts to long against the value boxes. A NULL key component
    * matches no equality, so it touches no file. The tuples are local
    * rows when the change-set guard collected them — a driver
    * computation whose casts fold over a local relation with no job —
    * or else a frame joined against the boxes. */
  private def touchedBy(s: SparkSession, m: Manifest, keyCols: Seq[String],
      keySchema: org.apache.spark.sql.types.StructType,
      keys: Either[Seq[Row], DataFrame]): (Seq[Entry], Seq[Entry]) = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
      StructField, StructType}
    val pm = physMap(m)
    val isStr = keyCols.map(c => keySchema(c).dataType == StringType)
    def boxOf(e: Entry, j: Int)
        : Option[Either[(Long, Long), (String, String)]] = {
      val c = pm.getOrElse(keyCols(j), keyCols(j))
      if (isStr(j)) e.strStatFor(c).map(Right(_))
      else e.statFor(c).map(Left(_))
    }
    val boxes = m.entries.map(e => keyCols.indices.map(boxOf(e, _)))
    val statless = boxes.zipWithIndex.collect {
      case (b, i) if b.forall(_.isEmpty) => i
    }
    val ranged = boxes.zipWithIndex.filter(_._1.exists(_.isDefined))
    val probe = (k: DataFrame) => k.select(keyCols.zipWithIndex.map {
      case (c, j) => col(c).cast(if (isStr(j)) "string" else "long")
        .as(s"_k$j") }: _*)
    val touched: Set[Int] = if (ranged.isEmpty) statless.toSet else keys match {
      case Left(rows) =>
        val bytes = (v: String) => v.getBytes(UTF_8)
        val probes = probe(DriverRows.frame(s, rows, keySchema)).collect()
          .filterNot(r => keyCols.indices.exists(r.isNullAt))
          .map(r => keyCols.indices.map(j =>
            if (isStr(j)) bytes(r.getString(j)) else r.getLong(j)))
        val byteBoxes = ranged.map { case (box, i) =>
          (box.map(_.map(_.map { case (lo, hi) => (bytes(lo), bytes(hi)) })),
            i)
        }
        val hit = byteBoxes.collect { case (box, i) if probes.exists { p =>
          keyCols.indices.forall { j =>
            (box(j), p(j)) match {
              case (None, _) => true
              case (Some(Left((lo, hi))), v: Long) => v >= lo && v <= hi
              case (Some(Right((lo, hi))), v: Array[Byte]) =>
                java.util.Arrays.compareUnsigned(v, lo) >= 0 &&
                  java.util.Arrays.compareUnsigned(v, hi) <= 0
              case _ => true
            }
          }
        } => i }
        (hit ++ statless).toSet
      case Right(frame) =>
        import s.implicits._
        // unbounded dims: integral → (MinValue, MaxValue); string → NULL
        // bounds (tested with explicit IS NULL in the join condition —
        // strings have no total-order sentinels)
        val rangeRows = ranged.map { case (box, i) =>
          Row.fromSeq(i +: keyCols.indices.flatMap { j =>
            if (isStr(j)) box(j).map(_.toOption.get) match {
              case Some((lo, hi)) => Seq(lo, hi)
              case None => Seq(null, null)
            } else {
              val (lo, hi) = box(j).map(_.swap.toOption.get)
                .getOrElse((Long.MinValue, Long.MaxValue))
              Seq(lo, hi)
            }
          })
        }
        val rangeSchema = StructType(
          StructField("_fid", IntegerType, nullable = false) +:
            keyCols.indices.flatMap { j =>
              val dt = if (isStr(j)) StringType else LongType
              Seq(StructField(s"_lo$j", dt, nullable = isStr(j)),
                StructField(s"_hi$j", dt, nullable = isStr(j)))
            })
        // nulls fail the integral comparisons natively and the explicit
        // isNotNull below for strings
        val cond = keyCols.indices.map { j =>
          if (isStr(j))
            col(s"_k$j").isNotNull &&
              (col(s"_lo$j").isNull || col(s"_k$j") >= col(s"_lo$j")) &&
              (col(s"_hi$j").isNull || col(s"_k$j") <= col(s"_hi$j"))
          else
            col(s"_k$j") >= col(s"_lo$j") && col(s"_k$j") <= col(s"_hi$j")
        }.reduce(_ && _)
        probe(frame).join(
          broadcast(DriverRows.frame(s, rangeRows, rangeSchema)), cond)
          .select("_fid").distinct().as[Int].collect().toSet ++ statless
    }
    m.entries.zipWithIndex.partition { case (_, i) => touched(i) } match {
      case (t, k) => (t.map(_._1), k.map(_._1))
    }
  }

  /** Stage one clustered region of a copy-on-write rewrite: with fresh
    * stats on the table's index columns when it has any. Spark's writer
    * emits one ZERO-ROW file for an empty side (partition 0 always
    * writes, to preserve schema); a zero-row entry has no stats line,
    * i.e. would be conservatively touched by every future merge — it is
    * dropped instead (the unreferenced file is staging garbage; vacuum
    * collects it). */
  private def stageClustered(s: SparkSession, table: String, m: Manifest,
      df: DataFrame): Seq[String] =
    if (m.idxCols.nonEmpty || m.strIdxCols.nonEmpty)
      stageIndexed(s, table, toPhysical(df, m), m.idxCols, m.strIdxCols)
        .filter(hasStats)
    else stage(s, table, toPhysical(df, m))

  /** The touched region's bounds on the primary key dimension `key`:
    * the integral value box, or the truncated string box (a SUPERSET of
    * the true range; using it only widens the in-range cluster — every
    * file's own stats are still measured fresh at stage time). A merge
    * stages the rewritten region and the out-of-range inserts
    * SEPARATELY: packing an insert far outside the touched key region (a
    * new keyspace) into the rewrite cluster would mint a file whose
    * range spans the gap — a wide bounding box that future merges and
    * range reads can never prune. None when some touched file has no
    * bound: one cluster. */
  private def touchedBounds(m: Manifest, touched: Seq[Entry], key: String,
      schema: org.apache.spark.sql.types.StructType): Option[(Any, Any)] = {
    val c = physMap(m).getOrElse(key, key)
    if (schema(key).dataType == org.apache.spark.sql.types.StringType) {
      val bs = touched.flatMap(_.strStatFor(c))
      if (bs.isEmpty || bs.size < touched.size) None
      else {
        val u8 = Ordering.fromLessThan[String](u8cmp(_, _) < 0)
        Some((bs.map(_._1).min(u8), bs.map(_._2).max(u8)))
      }
    } else {
      val bs = touched.flatMap(_.statFor(c))
      if (bs.isEmpty || bs.size < touched.size) None
      else Some((bs.map(_._1).min, bs.map(_._2).max))
    }
  }

  /** Spark's ascending, NULLS FIRST order over two driver-held values of
    * one key column (or a value against a [[touchedBounds]] bound):
    * UTF-8 binary for strings, numeric for numbers — a decimal against a
    * long bound included — and natural order for the other comparable
    * types. */
  private def keyCompare(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: String, y: String) => u8cmp(x, y)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
    case (x: java.math.BigDecimal, y: Number) =>
      x.compareTo(java.math.BigDecimal.valueOf(y.longValue))
    case (x: Number, y: java.math.BigDecimal) =>
      java.math.BigDecimal.valueOf(x.longValue).compareTo(y)
    case (x: java.lang.Double, y: java.lang.Double) =>
      org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(x, y)
    case (x: java.lang.Float, y: java.lang.Float) =>
      org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareFloats(x, y)
    case (x: Number, y: Number) =>
      java.lang.Long.compare(x.longValue, y.longValue)
    case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    case _ => 0
  }

  /** [[mergeCore]]'s clustered rewrite over driver-held rows `out`: the
    * same two clusters ([[touchedBounds]]), each sorted on `keyCols` on
    * the driver and cut into at most `parts` files of adjacent keys —
    * the layout a range-partitioned write gives — staged by ONE write. */
  private def stageLocalClusters(s: SparkSession, table: String,
      m: Manifest, schema: org.apache.spark.sql.types.StructType,
      keyCols: Seq[String], touched: Seq[Entry], out: Seq[Row])
      : Seq[String] = {
    val idx = keyCols.map(schema.fieldIndex)
    val order = Ordering.fromLessThan[Row] { (a, b) =>
      idx.iterator.map(i => keyCompare(a.get(i), b.get(i)))
        .find(_ != 0).exists(_ < 0)
    }
    val k = idx.head
    val sides = touchedBounds(m, touched, keyCols.head, schema) match {
      case Some((lo, hi)) =>
        val (in, outside) = out.partition(r => r.isNullAt(k) ||
          (keyCompare(r.get(k), lo) >= 0 && keyCompare(r.get(k), hi) <= 0))
        Seq(in, outside)
      case None => Seq(out)
    }
    val parts = math.max(touched.size, 1)
    val chunks = sides.filter(_.nonEmpty).flatMap { side =>
      side.sorted(order).grouped((side.size + parts - 1) / parts)
    }
    if (chunks.isEmpty) Nil
    else stageClustered(s, table, m, s.createDataFrame(
      s.sparkContext.parallelize(chunks, chunks.size).flatMap(identity),
      schema))
  }

  /** File-pruned copy-on-write merge of a change set a Spark plan
    * computes. The change-set guard measures the key set once: at most
    * [[DriverRows.Cap]] tuples and the touched-file box test is a driver
    * computation and the key side of the anti/semi joins is a broadcast
    * local relation; above it the box test joins the key frame, and the
    * key joins carry no broadcast hint — an unmeasured change set is
    * the planner's to place. The rewritten region is re-range-clustered
    * on the key; a driver-sized change set whose touched files are
    * driver-sized too takes [[mergeLocal]] instead. */
  private def mergeCore(s: SparkSession, table: String, rows: PlannedRows,
                        keyCols: Seq[String],
                        extraMetrics: Seq[(String, Long)] = Nil,
                        cdc: Boolean = false,
                        expectedVer: Long = -1L)
      : MergeResult = {
    require(keyCols.nonEmpty, "mergeCore needs at least one key column")
    // a feed must speak EXACTLY the rows the rewrite committed: pin the
    // change frames once so a nondeterministic change set (sample,
    // shuffle-order-dependent expression) cannot diverge between the
    // staged data and the published feed (the overwriteCdc invariant).
    // A pinned PlannedRows = the CALLER already localCheckpoint'ed the
    // common change frame both sides derive from; projecting a pinned
    // frame is deterministic, so the feed invariant holds without a
    // second materialization.
    val (keys, adds) =
      if (!cdc || rows.pinned) (rows.keys, rows.adds)
      else (rows.keys.localCheckpoint(true), rows.adds.localCheckpoint(true))
    val key = keyCols.head // the primary clustering dimension
    // a caller that already pinned the table version (the MV refresh,
    // whose change set was COMPUTED against that version's rows) passes
    // it as expectedVer: a racing writer then fails this merge's CAS
    // commit instead of the fold landing on rows that moved underneath
    val cur =
      if (expectedVer >= 0) expectedVer else currentVersion(s, table)
    val m = manifest(s, table, cur) // ONE log read for all facets below
    // constraints check the CHANGE rows, never the table — surviving
    // rows already passed at their own write time
    enforceChecks(s, m.checks, adds, s"$table: merge change set")
    val local = DriverRows.collect(keys).map(_.distinct.toSeq)
    val (touched, kept) = touchedBy(s, m, keyCols, keys.schema,
      local.toLeft(keys))
    val keySide = local.fold(keys.distinct())(ks =>
      broadcast(DriverRows.frame(s, ks, keys.schema)))
    // anti-join on the key is the MERGE itself: surviving old rows + the
    // adds. Touched files read through readEntries: the COMMITTED schema
    // (after an appendEvolve, footer inference could pick a
    // pre-evolution file's schema and silently drop the new column) AND
    // pending sequenced tombstones applied during the rewrite — the fresh
    // files' seq then escapes those tombstones. NULL keys never match a
    // key equality (SQL semantics), so null-key rows always survive the
    // anti-join / always insert.
    val merged =
      if (touched.isEmpty) adds
      else readEntries(s, table, m, touched)
        .join(keySide, keyCols, "left_anti").unionByName(adds)
    val parts = math.max(touched.size, 1)
    def clusterStage(df: DataFrame): Seq[String] =
      stageClustered(s, table, m, df.repartitionByRange(parts,
        keyCols.map(col): _*).sortWithinPartitions(keyCols.map(col): _*))
    // the touched region and the out-of-range inserts stage as two
    // clusters ([[touchedBounds]]); empty sides write no files —
    // RangePartitioner only materializes non-empty partitions
    val fresh = touchedBounds(m, touched, key, keys.schema)
        .map { case (lo, hi) => (lit(lo), lit(hi)) } match {
      case Some((tlo, thi)) =>
        // the split writes scan `merged` twice — persist so the touched
        // files + anti-join execute ONCE, not per staging write (at
        // scale the touched-region read is the dominant merge cost).
        // NULL keys match neither range filter (three-valued logic), so
        // they ride with the in-range cluster explicitly.
        merged.persist()
        try clusterStage(merged.filter(col(key).isNull ||
            (col(key) >= tlo && col(key) <= thi))) ++
          clusterStage(merged.filter(col(key) < tlo || col(key) > thi))
        finally merged.unpersist(blocking = false)
      case None => clusterStage(merged)
    }
    // the merge's signed feed on request: −preimage (rows whose key the
    // change set addresses, read from the touched files — replaced OR
    // deleted) ∪ +postimage (the change set's non-D rows). Costs one
    // more read of the touched files; the price of an exact feed
    val feed = if (!cdc) None else Some {
      val post = adds.withColumn("w", lit(1))
      if (touched.isEmpty) post
      else readEntries(s, table, m, touched)
        .join(keySide, keyCols, "left_semi")
        .withColumn("w", lit(-1)).unionByName(post)
    }
    mergeCommit(s, table, m, cur, touched, kept, fresh, adds.schema, feed,
      extraMetrics, cdc)
  }

  /** [[mergeCore]] over a DRIVER-SIZED change set, when its touched files
    * are driver-sized too: their manifest byte sizes sum to at most
    * [[BroadcastBytes]] (an unknown size counts as too large). Then the
    * box test is a driver computation, the touched files are read ONCE
    * — that one read gives both the pre-image `rows.adds` folds and the
    * survivors — the rewrite is one staged write of the locally held
    * rows ([[stageLocalClusters]]), and the signed feed is written from
    * local rows. None, with nothing staged, when the touched files are
    * larger: the caller takes its planned path. */
  private[graft] def mergeLocal(s: SparkSession, table: String,
      rows: LocalRows, keyCols: Seq[String],
      extraMetrics: Seq[(String, Long)], cdc: Boolean, expectedVer: Long)
      : Option[MergeResult] = {
    val cur =
      if (expectedVer >= 0) expectedVer else currentVersion(s, table)
    val m = manifest(s, table, cur)
    val sch = rows.addSchema
    val keySchema =
      org.apache.spark.sql.types.StructType(keyCols.map(sch(_)))
    val (touched, kept) = touchedBy(s, m, keyCols, keySchema,
      Left(rows.keys))
    if (!driverReadable(touched)) return None
    // a key tuple by position in `schema`; None when a component is NULL
    def tuple(schema: org.apache.spark.sql.types.StructType)(r: Row)
        : Option[Seq[Any]] = {
      val t = keyCols.map(c => r.get(schema.fieldIndex(c)))
      if (t.contains(null)) None else Some(t)
    }
    val keySet = rows.keys.flatMap(tuple(keySchema)).toSet
    // the touched rows in the change rows' layout and types
    val prev =
      if (touched.isEmpty) Array.empty[Row]
      else readEntries(s, table, m, touched)
        .select(sch.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
        .collect()
    // NULL keys match no equality: such rows always survive
    val (pre, survivors) =
      prev.toSeq.partition(r => tuple(sch)(r).exists(keySet))
    val adds = rows.adds(pre)
    enforceChecks(s, m.checks, DriverRows.frame(s, adds, sch),
      s"$table: merge change set")
    val fresh = stageLocalClusters(s, table, m, sch, keyCols, touched,
      survivors ++ adds)
    val signed = pre.map(r => Row.fromSeq(r.toSeq :+ -1)) ++
      adds.map(r => Row.fromSeq(r.toSeq :+ 1))
    val feed = Some(signed).filter(_.nonEmpty).map(DriverRows.frame(s, _,
      sch.add("w", org.apache.spark.sql.types.IntegerType, nullable = false)))
    Some(mergeCommit(s, table, m, cur, touched, kept, fresh, sch,
      feed.filter(_ => cdc), extraMetrics, cdc))
  }

  /** The copy-on-write merge's shared tail, whichever path computed the
    * rows: the empty-version guard, the signed feed (`feed`, None when
    * it holds no rows) and ONE CAS commit of the carried entries plus
    * the `fresh` lines. */
  private def mergeCommit(s: SparkSession, table: String, m: Manifest,
      cur: Long, touched: Seq[Entry], kept: Seq[Entry], fresh: Seq[String],
      addSchema: org.apache.spark.sql.types.StructType,
      feed: Option[DataFrame], extraMetrics: Seq[(String, Long)],
      cdc: Boolean): MergeResult = {
    val lines = kept.map(render) ++ fresh
    // a change set that deletes every row (all-'D' applyChanges over a
    // fully-touched table) must not commit a ZERO-file version — stage
    // the empty sentinel carrying the schema, same guard as deleteRange
    val finalLines =
      if (lines.nonEmpty) lines else stageEmpty(s, table, addSchema)
    // same guard as signedDiff: a data column named 'w' would be
    // silently clobbered by the sign column in the published feed
    if (cdc) require(!addSchema.fieldNames.contains("w"),
      s"$table: cdc merge feeds reserve the column name 'w' for " +
        "the sign — rename the data column")
    val cdcRefs = feed.fold(Seq.empty[String])(
      stageSignedFeed(s, table, _, cur + 1))
    val v = commit(s, table, finalLines, cur, op = "merge",
      schemaJson = withMapping(m, addSchema).json, deleteLines = m.deletes,
      idxCols = m.idxCols, strIdxCols = m.strIdxCols, blooms = m.blooms,
      metrics = Seq("touched" -> touched.size.toLong,
        "untouched" -> kept.size.toLong) ++ extraMetrics ++
        changeNoopMarker(touched.nonEmpty || fresh.nonEmpty, cdc,
          cdcRefs),
      cdcFiles = cdcRefs,
      retired = m.retired,
      checks = m.checks)
    MergeResult(v, touched.size, kept.size)
  }

  /** RESTORE TABLE ... TO VERSION AS OF `v`: commit a NEW version whose
    * manifest is version v's content verbatim — entries (with their
    * original data seqs), tombstones, schema, and index columns. Nothing
    * is copied and nothing is erased: the restore is one manifest write
    * that rolls the table's CONTENT back while the log keeps rolling
    * forward, so the bad versions stay auditable (and vacuumable) and
    * pinned readers of them stay valid — the public time-travel-repair
    * shape (Delta RESTORE / Iceberg rollback). The restored version's
    * files are re-referenced, which also shields them from a vacuum
    * whose retention window has dropped `v` itself. */
  def restore(s: SparkSession, table: String, v: Long): Long = {
    val cur = currentVersion(s, table)
    val m = manifest(s, table, v)
    commit(s, table, m.entries.map(render), cur, op = "restore",
      schemaJson = m.schema.map(_.json).orNull, deleteLines = m.deletes,
      idxCols = m.idxCols, strIdxCols = m.strIdxCols, blooms = m.blooms,
      retired = m.retired, checks = m.checks)
  }

  /** Zero-copy SHALLOW CLONE: create `dst` at version 0 referencing the
    * SOURCE table's current live files by absolute path — no data moves;
    * the clone costs one manifest write at any table size (the Delta
    * SHALLOW CLONE / Iceberg snapshot-ref shape: dev/test forks of a
    * production table). From then on the tables diverge independently:
    * commits against the clone stage under the clone's own data dir,
    * and vacuuming the clone only ever deletes files there — absolute
    * source references are outside its data listing by construction.
    * The honest public caveat applies equally here: vacuuming the
    * SOURCE can orphan a clone's references (Delta documents the same),
    * so clones pin the source's retention. */
  def shallowClone(s: SparkSession, src: String, dst: String): Long = {
    require(new Path(src).isAbsolute, s"clone source must be absolute: $src")
    val cur = currentVersion(s, src)
    val m = manifest(s, src, cur)
    // a clone-of-a-clone's entries may ALREADY be absolute (pointing at
    // the original source) — prefixing those again would corrupt them
    def absPath(p: String) = if (p.startsWith("/")) p else s"$src/$p"
    val abs = m.entries.map(e => e.copy(path = absPath(e.path)))
    val absDels = m.deletes.map { case (p, c, sq) => (absPath(p), c, sq) }
    // initial defaults cross the graft point on the SEQ axis unchanged
    // (carried entries keep source seqs, so the read-side fill keys
    // correctly) — but the effective-since VERSION stamp speaks the
    // SOURCE's timeline and must be re-anchored to the clone's: 0 when
    // no cloned entry still predates the default (safe to tail from
    // the very start), else 1 (v0 itself references pre-default files
    // a stream must not emit raw; every later clone commit stores real
    // values). Without this, a source-side 'added at version 8' would
    // refuse every stream on a clone that never reaches version 8.
    val cloneSchema = m.schema.map { sch =>
      org.apache.spark.sql.types.StructType(sch.fields.map { f =>
        if (!f.metadata.contains(FieldDefault)) f
        else {
          val since = f.metadata.getLong(FieldDefaultSince)
          val sinceV = if (abs.exists(_.seq < since)) 1L else 0L
          f.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putLong(FieldDefaultSinceVer, sinceV).build())
        }
      })
    }
    commit(s, dst, abs.map(render), expected = -1L, op = "clone",
      schemaJson = cloneSchema.map(_.json).orNull, deleteLines = absDels,
      idxCols = m.idxCols, strIdxCols = m.strIdxCols,
      blooms = m.blooms.map(b => b.copy(dir = absPath(b.dir))),
      retired = m.retired, checks = m.checks)
  }

  /** Zero-copy PUBLISH of a branch's ADDITIONS onto `dst` — the second
    * half of write-audit-publish (the Iceberg WAP cherry-pick): every
    * `src` entry not already live on `dst` is committed onto `dst` by
    * ABSOLUTE reference (one manifest write; no data moves — the same
    * zero-copy mechanics as [[shallowClone]], pointed the other way).
    * Additive by design: entries the branch deleted or rewrote are NOT
    * propagated — WAP stages an append, audits it, and publishes it;
    * divergent rewrites are a merge problem, not a publish — and a branch
    * carrying merge-on-read tombstones the destination doesn't know is
    * REFUSED loudly (grafting its entries verbatim would resurrect the
    * tombstoned rows; compacting the branch applies the tombstones and
    * makes it publishable). Grafted entries are stamped with the PUBLISH
    * commit's sequence number, not their branch seqs: the graft is when
    * the rows appear on `dst`'s timeline, so tombstones `dst` committed
    * while the branch was open (t.seq ≤ publish seq, > branch seqs) can
    * never mask freshly published rows. Vacuuming `dst` can never touch
    * the branch's files (absolute refs are outside its data listing by
    * construction). */
  def publish(s: SparkSession, src: String, dst: String): Long = {
    require(new Path(src).isAbsolute, s"publish source must be absolute: $src")
    def abs(table: String)(p: String) =
      if (p.startsWith("/")) p else s"$table/$p"
    val ms = manifest(s, src, currentVersion(s, src))
    val curDst = currentVersion(s, dst)
    val md = manifest(s, dst, curDst)
    val dstDels = md.deletes
      .map { case (p, c, sq) => (abs(dst)(p), c, sq) }.toSet
    val branchOnly = ms.deletes
      .map { case (p, c, sq) => (abs(src)(p), c, sq) }
      .filterNot(dstDels.contains)
    require(branchOnly.isEmpty,
      s"publish: branch carries ${branchOnly.size} merge-on-read " +
        "tombstone(s) the destination doesn't know; publish grafts " +
        "additions only — compact the branch (compaction applies its " +
        "tombstones) and re-publish")
    require(!restaged(ms.schema, md.schema),
      s"publish: $src and $dst read their files under different " +
        "physical column names (a compaction restaged one of them) — " +
        "rebase the branch first")
    val dstLive = md.entries.map(e => abs(dst)(e.path)).toSet
    val adds = ms.entries
      .map(e => e.copy(path = abs(src)(e.path)))
      .filter(e => !dstLive.contains(e.path))
    // renderFresh: grafted entries take the publish commit's seq
    commit(s, dst, md.entries.map(render) ++ adds.map(renderFresh), curDst,
      op = "publish", schemaJson = md.schema.map(_.json).orNull,
      deleteLines = md.deletes, idxCols = md.idxCols,
      strIdxCols = md.strIdxCols, blooms = md.blooms, retired = md.retired,
      checks = md.checks)
  }

  /** Overwrite-commit: next version lists ONLY the newly staged files
    * (copy-on-write — the old version's files stay on disk for pinned
    * readers until vacuum). */
  def overwrite(s: SparkSession, table: String, df: DataFrame): Long = {
    val cur = currentVersion(s, table)
    val m = manifest(s, table, cur)
    // constraints SURVIVE an overwrite (replacing the data must not
    // silently un-enforce an invariant — if the new shape can't satisfy
    // or even reference it, that surfaces loudly here and the check
    // must be dropped explicitly first)
    enforceChecks(s, m.checks, df, s"$table: overwrite")
    val sch = overwriteSchema(m, df, cur)
    commit(s, table, stage(s, table, toPhysicalFor(df, sch)), cur,
      op = "overwrite", schemaJson = sch.json, retired = m.retired,
      checks = m.checks)
  }

  /** The schema an overwrite commits on a column-mapped table: field
    * ids and frozen physical names CARRY for same-named columns (an
    * overwrite replaces the DATA, not the governance metadata — the
    * retired-name ledger and mapping survive like checks do), and a
    * genuinely new column whose name collides with a retired or live
    * physical name mints a generated physical name exactly as
    * [[addColumns]] does. */
  private def overwriteSchema(m: Manifest, df: DataFrame, cur: Long)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      withMapping(m, df.schema).fields.map(f =>
        if (f.metadata.contains(FieldPhys)) f
        else guardNewField(f, m, cur + 1)))

  /** Rename a logical frame to the PHYSICAL names of the exact schema
    * a commit is about to record (identity on unmapped tables). */
  private def toPhysicalFor(df: DataFrame,
      sch: org.apache.spark.sql.types.StructType): DataFrame = {
    val pm = sch.fields.iterator.map(f => f.name -> physName(f))
      .filter { case (l, p) => l != p }.toMap
    if (pm.isEmpty) df
    else df.select(df.columns.map(c =>
      col(c).as(pm.getOrElse(c, c))).toSeq: _*)
  }

  /** Overwrite-commit that also PERSISTS the signed change feed — and
    * records the change file(s) in the SAME manifest write (`#cdc=`
    * header): the new content is staged, the [[signedDiff]] against the
    * current snapshot is computed from those staged files (so the feed
    * can never diverge from the committed data, even for a
    * nondeterministic `df`) and staged under `table/_cdc/` with
    * collision-free uuid names, and ONE commit publishes data + feed
    * refs atomically. Readers resolve each version's change files from
    * its manifest — O(new commits) per streaming trigger at any table
    * age, never a `_cdc/` directory listing that grows with total feed
    * history — and an orphaned stage from a failed commit is invisible
    * (no manifest references it; vacuum collects it). This is what
    * turns CDC from a batch diff into a STREAMING source: any number of
    * downstream consumers tail the feed incrementally — no re-diffing,
    * no re-reading the table. */
  /** Stage a signed change feed under `_cdc/` for the commit that will
    * land at `targetVersion` — ONE staging contract for every feed
    * writer ([[overwriteCdc]], [[applyChangesMor]]'s cdc mode): one
    * file per commit (a huge change set would shard — each file still
    * arrives whole via its rename), names carrying the TARGET version
    * (so name-sorted directory tails see commit order) plus a uuid tag
    * (a crashed earlier attempt at the same version can never
    * collide). The manifest `#cdc=` ref, not the name, is what readers
    * resolve — and vacuum's `_cdc` sweep parses exactly this naming. */
  private def stageCdcFeed(s: SparkSession, table: String,
      feed: DataFrame, targetVersion: Long): Seq[String] = {
    val tmp = new Path(s"$table/_cdc/.tmp-${java.util.UUID.randomUUID()}")
    val f = fs(s, tmp)
    // BOUNDED feed files: a giant commit's feed splits at
    // graft.cdc.maxRecordsPerFile rows per file (default 4M — small
    // feeds keep landing as the single tidy file they always were),
    // which is what lets the rows-capped CDC stream admission
    // (maxRowsPerTrigger) split one commit across micro-batches at
    // file boundaries instead of swallowing it whole
    val perFile = s.conf.getOption("graft.cdc.maxRecordsPerFile")
      .map(_.toLong).getOrElse(1L << 22)
    feed.coalesce(1).write.option("maxRecordsPerFile", perFile)
      .parquet(tmp.toString)
    val tag = java.util.UUID.randomUUID()
    val refs = f.listStatus(tmp).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).zipWithIndex
      .map { case (p, i) =>
        val rel = f"_cdc/v$targetVersion%08d-$tag-$i.parquet"
        require(f.rename(p, new Path(s"$table/$rel")),
          s"cdc stage failed for $rel")
        rel
      }
    f.delete(tmp, true)
    refs
  }

  def overwriteCdc(s: SparkSession, table: String, df: DataFrame,
                   key: String): Long = {
    val cur = currentVersion(s, table)
    val m = manifest(s, table, cur)
    val cks = m.checks
    enforceChecks(s, cks, df, s"$table: overwrite")
    val sch = overwriteSchema(m, df, cur)
    val staged = stage(s, table, toPhysicalFor(df, sch))
    // the feed diffs the CURRENT snapshot against the staged bytes —
    // one read-back instead of re-evaluating df's plan a second time
    // (read by PHYSICAL name, diff under LOGICAL names — positional
    // rename, same order and types)
    val newDf = s.read.schema(physicalSchema(sch))
      .parquet(staged.map(r => pathFor(table, r)): _*)
      .toDF(df.schema.fieldNames.toSeq: _*)
    val feed = signedDiff(snapshot(s, table, cur), newDf, key)
    val refs = stageCdcFeed(s, table, feed, cur + 1)
    try commit(s, table, staged, cur, op = "overwrite",
      schemaJson = sch.json, cdcFiles = refs, retired = m.retired,
      checks = cks)
    catch { case e: Throwable =>
      // nothing committed: drop both stages, leave the table untouched
      dropStaged(s, table, staged)
      refs.foreach(r =>
        fs(s, new Path(table)).delete(new Path(s"$table/$r"), false))
      throw e
    }
  }

  /** Resolve a snapshot: read version `v`'s manifest (latest if -1) and
    * scan EXACTLY those files. The file list is fixed here, eagerly — the
    * returned plan keeps reading this version's files no matter what is
    * committed (or staged, or orphaned) afterwards. */
  /** The merge-on-read tombstone files of version `v`: (table-relative
    * path, key column, commit seq). Rows whose key appears in a tombstone
    * file are DELETED as of this version FROM entries whose data seq is
    * older than the tombstone's — readers anti-join them at scan time. */
  def deleteFiles(s: SparkSession, table: String, v: Long)
      : Seq[(String, String, Long)] = manifest(s, table, v).deletes

  /** Merge-on-read DELETE by key set: stages ONE tombstone file (the
    * distinct keys to drop) and commits it as manifest metadata — every
    * data entry carries verbatim, zero data rewritten. The copy-on-write
    * complement: [[deleteRange]] wins when the predicate aligns with the
    * file layout; for keys SCATTERED across every file (the GDPR
    * per-record erasure shape) copy-on-write would rewrite the whole
    * table, while merge-on-read costs one small write now and defers the
    * rewrite to [[compact]], which applies tombstones and commits a
    * clean version. Readers pay the anti-join until then — the classic
    * read/write amplification trade, chosen per delete.
    *
    * Tombstones are SEQUENCED equality deletes (the Iceberg-v2 rule):
    * the tombstone records its commit version, and readers apply it only
    * to entries whose data seq is OLDER. That is what lets every writer
    * keep committing on top of pending tombstones — an appended or
    * merged row with a tombstoned key is NEWER than the delete and stays
    * visible; rewritten regions drop the deleted rows at rewrite time
    * and their fresh files (seq = the rewrite's version) escape the
    * tombstone. compact() still materializes everything into a clean
    * tombstone-free version. */
  def deleteKeysMor(s: SparkSession, table: String, keys: DataFrame,
                    key: String,
                    metrics: Seq[(String, Long)] = Nil): Long = {
    val cur = currentVersion(s, table)
    val m = manifest(s, table, cur)
    // a tombstone on a column the table doesn't have would poison every
    // future read (the anti-join can't resolve) — fail HERE instead
    val cols = m.schema.map(_.fieldNames.toSeq)
      .getOrElse(snapshot(s, table, cur).columns.toSeq)
    require(cols.contains(key),
      s"tombstone key '$key' is not a column of $table (has: $cols)")
    // `~L` marks BOUNDED tombstone lines in the manifest
    // ([[rewriteTombstones]]) and `~pos` marks POSITIONAL ones
    // ([[dedupMor]]) — a key under either reserved name would make
    // every later read mis-parse the tombstone file
    require(!physMap(m).getOrElse(key, key).endsWith("~L") &&
      physMap(m).getOrElse(key, key) != "~pos",
      s"tombstone key '$key' collides with a reserved tombstone kind")
    val keySet = keys.select(col(key)).distinct().coalesce(1)
    // an empty delete is a NO-OP: an empty tombstone file would tax
    // every future read's anti-join for nothing
    if (keySet.isEmpty) return cur
    val staged = stage(s, table, keySet)
    // the manifest line records the key's PHYSICAL name — stable across
    // later renames/drops, the invariant the anti-join reads by
    val dels = m.deletes ++
      staged.map((_, physMap(m).getOrElse(key, key), -1L)) // -1 → commit seq
    // caller-supplied metrics ride the SAME commit: a store whose
    // corpus-level statistics live in #metrics= headers (ta_index_*)
    // can retract rows and restate its stats atomically — a separate
    // stats commit would leave a window where reads see the tombstone
    // but stale statistics
    commit(s, table, m.entries.map(render), cur, op = "delete_mor",
      schemaJson = m.schema.map(_.json).orNull,
      deleteLines = dels, metrics = metrics,
      idxCols = m.idxCols, strIdxCols = m.strIdxCols, blooms = m.blooms,
      retired = m.retired, checks = m.checks)
  }

  /** POSITIONAL MERGE-ON-READ DEDUP — exact deduplication as a TABLE
    * FORMAT operation, zero data rewritten: keep the FIRST copy of
    * every `keyCols` group (first in (file, position) order — a
    * deterministic, replayable tie-break) and tombstone the rest BY
    * COORDINATE. Equality tombstones fundamentally cannot express
    * this: all copies share the key, so a key-file would kill the
    * keeper too. The positional tombstone is the public formats'
    * "deletion vector" shape — a parquet file of (f = canonical
    * absolute file path, p = row ordinal) pairs committed as one
    * `#delete=<file> TAB ~pos` manifest line; [[readEntriesPos]]
    * anti-joins every read on the row's own coordinates
    * (`_metadata.row_index` + the scan's `__gcanon`), so the kill
    * needs no key column at all and survives RENAME/DROP untouched.
    *
    * Sequencing is the standard MoR rule and positional targeting
    * makes it self-enforcing: a row (re)inserted AFTER the dedup lands
    * in a fresh file the coordinates can never name — duplicates
    * re-introduced later stay visible until the next dedupMor, exactly
    * the semantics an incremental pipeline wants. NULL keys group
    * together (SQL GROUP BY semantics): null-keyed copies dedup among
    * themselves. Scale shape: one shuffle on `keyCols` (the dd_exact
    * shape) + one map-side window; the tombstone is |duplicates|-sized,
    * never |table|-sized. [[compact]] folds the vector away. */
  def dedupMor(s: SparkSession, table: String,
               keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "dedupMor needs at least one key column")
    val cur = currentVersion(s, table)
    val m = manifest(s, table, cur)
    val cols = m.schema.map(_.fieldNames.toSeq)
      .getOrElse(snapshot(s, table, cur).columns.toSeq)
    keyCols.foreach(k => require(cols.contains(k),
      s"dedup key '$k' is not a column of $table (has: $cols)"))
    // coordinates come from the tombstone-applied read: a row an older
    // delete already killed is invisible and can never be a keeper OR
    // a victim — the vector stays minimal
    val withPos = readEntriesPos(s, table, m, m.entries, keepPos = true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("__gcanon"), col("__gpos"))
    val victims = withPos
      .withColumn("__grn", row_number().over(w))
      .filter(col("__grn") > 1)
      .select(col("__gcanon").as("f"), col("__gpos").as("p"))
    // stage FIRST, then count the (tiny) staged parquet: the dominant
    // cost — the keyed shuffle + window over the whole table read —
    // executes exactly once; a victims.isEmpty pre-pass would recompute
    // the identical uncached plan from scratch
    val staged = stage(s, table, victims.coalesce(1))
    // no duplicates → no commit (an empty vector would tax every read);
    // an empty partition may also have written no file at all
    val vecRows = if (staged.isEmpty) 0L
      else readVectors(s, table, staged).count()
    if (vecRows == 0L) { dropStaged(s, table, staged); return cur }
    commit(s, table, m.entries.map(render), cur, op = "dedup_mor",
      schemaJson = m.schema.map(_.json).orNull,
      deleteLines = m.deletes ++ staged.map((_, "~pos", -1L)),
      idxCols = m.idxCols, strIdxCols = m.strIdxCols, blooms = m.blooms,
      retired = m.retired, checks = m.checks)
  }

  /** ARBITRARY-PREDICATE merge-on-read DELETE via a positional deletion
    * vector — per-row erasure with ZERO data rewritten and NO key
    * column required: every visible row matching `pred` (over the
    * table's LOGICAL schema) is committed by (file, position)
    * coordinate under the reserved `~pos` tombstone kind. This is the
    * shape neither equality tombstones (need a key column whose other
    * rows must survive) nor copy-on-write [[deleteWhere]]/deleteRange
    * (rewrite every touched file; need stats to prune) can give a
    * predicate over unindexed columns. One tombstone-applied scan finds
    * the victims — fundamental: an arbitrary predicate must be
    * evaluated once — and the committed vector is |deleted rows|-sized:
    * the scattered-small-delete (GDPR-by-attribute) shape. A delete of
    * a large fraction should go copy-on-write instead, where the
    * rewrite IS the compaction. Pinned pre-delete versions still see
    * every row; a matching row (re)inserted later lands in a fresh file
    * the coordinates can never name (standard MoR sequencing,
    * self-enforcing, same as [[dedupMor]]); [[compact]] folds the
    * vector away; no-match deletes commit nothing. */
  def deleteWherePos(s: SparkSession, table: String, pred: Column): Long = {
    val cur = currentVersion(s, table)
    val m = manifest(s, table, cur)
    val victims = readEntriesPos(s, table, m, m.entries, keepPos = true)
      .filter(pred)
      .select(col("__gcanon").as("f"), col("__gpos").as("p"))
    val staged = stage(s, table, victims.coalesce(1))
    val vecRows = if (staged.isEmpty) 0L
      else readVectors(s, table, staged).count()
    if (vecRows == 0L) { dropStaged(s, table, staged); return cur }
    commit(s, table, m.entries.map(render), cur, op = "delete_dv",
      schemaJson = m.schema.map(_.json).orNull,
      deleteLines = m.deletes ++ staged.map((_, "~pos", -1L)),
      idxCols = m.idxCols, strIdxCols = m.strIdxCols, blooms = m.blooms,
      retired = m.retired, checks = m.checks)
  }

  /** ARBITRARY-PREDICATE merge-on-read UPDATE via a positional deletion
    * vector — the public-format DV-update shape, ONE atomic commit that
    * (a) kills every matching row by (file, position) coordinate and
    * (b) appends the updated rows as fresh files. Untouched files carry
    * VERBATIM — zero rewrite of anything the predicate didn't hit — and
    * the vector is |updated rows|-sized. The MoR seq rule makes the
    * pair self-consistent BY CONSTRUCTION: the fresh files take this
    * commit's seq, equal to the vector's, and kills apply strictly to
    * OLDER entries — the vector can never eat the rows it just wrote.
    * Assignments evaluate over the table's LOGICAL schema and recast to
    * the committed column types (an arithmetic widening can't drift the
    * schema); CHECK constraints are enforced on the updated rows before
    * anything stages. Pinned pre-update versions see the old rows;
    * [[compact]] folds the vector away; a no-match update commits
    * nothing. Cost: one tombstone-applied scan (fundamental for an
    * arbitrary predicate) + O(updated rows) staged writes. */
  def updateWherePos(s: SparkSession, table: String, pred: Column,
      sets: Seq[(String, Column)]): Long = {
    require(sets.nonEmpty, "updateWherePos needs at least one assignment")
    val cur = currentVersion(s, table)
    val m = manifest(s, table, cur)
    val sch = m.schema.getOrElse(snapshot(s, table, cur).schema)
    sets.foreach { case (c, _) => require(sch.fieldNames.contains(c),
      s"update target '$c' is not a column of $table " +
        s"(has: ${sch.fieldNames.mkString(", ")})") }
    val setMap = sets.toMap
    require(setMap.size == sets.size,
      s"duplicate update target in ${sets.map(_._1)}")
    // consumed twice (vector + updated rows) — checkpoint so the
    // tombstone-applied scan runs ONCE
    val matching = readEntriesPos(s, table, m, m.entries, keepPos = true)
      .filter(pred).localCheckpoint(true)
    // no-match updates commit nothing; the checkpoint is materialized,
    // so this probe costs one local count, no staging round-trip
    if (matching.isEmpty) return cur
    // ONE select evaluates every assignment against the PRE-update row
    // (SQL UPDATE's simultaneous-assignment semantics: a column swap
    // `a = b, b = a` swaps — a sequential withColumn fold would feed
    // later assignments the earlier targets' NEW values)
    val updated = matching.select(sch.fields.map(f =>
      setMap.get(f.name).getOrElse(col(f.name))
        .cast(f.dataType).as(f.name)).toSeq: _*)
    enforceChecks(s, m.checks, updated, s"$table: update_dv")
    val vecStaged = stage(s, table,
      matching.select(col("__gcanon").as("f"), col("__gpos").as("p"))
        .coalesce(1))
    val fresh =
      if (m.idxCols.nonEmpty || m.strIdxCols.nonEmpty)
        stageIndexed(s, table, toPhysical(updated, m),
          m.idxCols, m.strIdxCols)
      else stage(s, table, toPhysical(updated, m))
    commit(s, table, m.entries.map(render) ++ fresh, cur, op = "update_dv",
      schemaJson = m.schema.map(_.json).orNull,
      deleteLines = m.deletes ++ vecStaged.map((_, "~pos", -1L)),
      idxCols = m.idxCols, strIdxCols = m.strIdxCols, blooms = m.blooms,
      retired = m.retired, checks = m.checks)
  }

  /** TOMBSTONE-FILE MAINTENANCE: collapse every pending equality
    * tombstone into ONE file per key column WITHOUT touching any data
    * file — the between-compactions maintenance a merge-per-batch
    * stream needs, where [[applyChangesMor]] accretes one tombstone
    * file per commit and every read pays one more anti-join input per
    * accumulated file.
    *
    * The key identity: a key k's cumulative kill effect over any
    * number of tombstones is exactly "delete k from entries whose seq
    * is OLDER than L(k)", where L(k) = the max commit seq of the
    * tombstones containing k (the newest delete dominates — every
    * older tombstone's kill set for k is a subset of its). So the
    * whole pending state rewrites, losslessly and from the tombstone
    * files alone (never the table), into one BOUNDED tombstone file of
    * (key, L) pairs per key column, recorded with a `~L`-suffixed key
    * name; the read-side anti-join compares each row's ENTRY seq
    * against its matched bound (one broadcast join total, flat however
    * many merges accumulated). The manifest line's seq is max L, so a
    * read whose entries are all newer than every bound skips the join
    * entirely.
    * Entries carry VERBATIM; content is invariant by construction. */
  def rewriteTombstones(s: SparkSession, table: String): Long =
    rewriteTombstonesResolving(s, table).version

  /** [[rewriteTombstones]] through [[commitResolving]]: the collapse
    * reads and removes NO data file — its derivation input is the
    * tombstone SET, so an interleaved append (or any entry-only commit)
    * rebases for free, while any change to the delete set itself (a new
    * MoR tombstone, a clearing compact, another collapse) re-derives
    * against the new base ([[Change.deletes]]' conflict rule). */
  private[graft] def rewriteTombstonesResolving(s: SparkSession,
      table: String, onWork: Long => Unit = _ => ()): CommitOutcome = {
    var lastStaged: Seq[String] = Nil
    try commitResolving(s, table) { base =>
      dropStaged(s, table, lastStaged)
      onWork(base)
      val m = manifest(s, table, base)
      // POSITIONAL lines collapse by UNION, not by the per-key max-L
      // identity (that is equality-tombstone algebra — coordinates have
      // no key to bound): the union of (f, p) sets at the lines' max
      // seq kills exactly the same rows, because every named file's
      // entry seq is below its own vector's seq ≤ the max, and exact
      // coordinates can never over-kill. A dedup-per-batch stream
      // accretes one vector per commit — this is its maintenance.
      val (posLines, eqLines) = m.deletes.partition(_._2 == "~pos")
      if (eqLines.size <= 1 && posLines.size <= 1)
        throw NothingToDo // nothing to collapse
      val byCol = eqLines.groupBy(_._2.stripSuffix("~L"))
      val rewritten = byCol.toSeq.sortBy(_._1).map { case (kc, fls) =>
        val pairs = tombstonePairs(s, table, kc, fls).coalesce(1)
        val staged = stage(s, table, pairs)
        require(staged.size == 1,
          s"$table: bounded tombstone for '$kc' staged ${staged.size} files")
        val maxL = fls.map { case (_, _, sq) => sq }.max
        (staged.head, s"$kc~L", maxL)
      }
      val posOut =
        if (posLines.size <= 1) posLines
        else {
          // distinct() dedupes exact (f, p) collisions across vectors;
          // the (f, p) sort makes the single output file run-length
          // friendly AND lets the read-side anti-join's per-file probe
          // touch one contiguous row range per data file
          val union = readVectors(s, table, posLines.map(_._1))
            .distinct().coalesce(1)
            .sortWithinPartitions(col("f"), col("p"))
          val staged = stage(s, table, union)
          require(staged.size == 1,
            s"$table: vector union staged ${staged.size} files")
          Seq((staged.head, "~pos", posLines.map(_._3).max))
        }
      lastStaged = rewritten.map(_._1) ++
        (if (posLines.size <= 1) Nil else posOut.map(_._1))
      Change(Nil, Set.empty, Set.empty, op = "rewrite_tombstones",
        metrics = Seq(
          "collapsed" -> (eqLines.size + posLines.size).toLong,
          "tombstones" -> (rewritten.size + posOut.size).toLong),
        deletes = Some(rewritten ++ posOut))
    } catch {
      case NothingToDo =>
        CommitOutcome(currentVersion(s, table), 0, 0)
    }
  }

  /** (key, `__tl` bound) pairs of a set of tombstone lines for ONE key
    * column, reduced to the per-key MAX bound (the newest delete
    * dominates): plain single-column files bound at their line seq,
    * bounded `~L` files at their per-row L. The single source of the
    * bounded-kill algebra — both [[rewriteTombstones]] and every
    * tombstone anti-join of [[readEntriesPos]] speak through it, so the
    * two can never disagree. */
  private def tombstonePairs(s: SparkSession, table: String, kc: String,
      fls: Seq[(String, String, Long)]): DataFrame =
    fls.map { case (p, rec, sq) =>
      val kdf = s.read.schema(keyFileSchema(s, table, p))
        .parquet(pathFor(table, p))
      if (rec.endsWith("~L"))
        kdf.select(col(kdf.columns.head).as(kc),
          col(kdf.columns(1)).cast("long").as("__tl"))
      else
        kdf.select(col(kdf.columns.head).as(kc),
          lit(sq).cast("long").as("__tl"))
    }.reduce(_ unionByName _)
      .groupBy(col(kc)).agg(max(col("__tl")).as("__tl"))

  /** A tombstone key file's footer schema. Its key column carries the
    * key's logical name at delete time, which the manifest does not
    * record, so the schema comes from one driver-side footer read —
    * never a schema-inference job. */
  private def keyFileSchema(s: SparkSession, table: String, rel: String)
      : org.apache.spark.sql.types.StructType =
    Bridge.parquetSchema(s, new Path(pathFor(table, rel)))

  /** Resolve a manifest path: table-relative normally; a SHALLOW CLONE's
    * entries reference the source table's files by absolute path (zero
    * data copied), which pass through untouched. */
  private[graft] def pathFor(table: String, rel: String): String =
    if (rel.startsWith("/")) rel else s"$table/$rel"

  /** The most on-disk bytes a set of files may sum to and still be
    * broadcast — or read to the driver by a change-set merge. */
  private val BroadcastBytes = 8L << 20

  /** Whether `files` are small enough to broadcast: their summed on-disk
    * size is at most [[BroadcastBytes]]. A file whose size cannot be
    * read (a failed stat) is of UNKNOWN size, and an unknown size never
    * qualifies — the forced broadcast is the optimistic choice, so only
    * a measured size may make it. */
  private[graft] def broadcastable(f: FileSystem, files: Seq[Path])
      : Boolean = {
    var total = 0L
    files.forall { p =>
      try { total += f.getFileStatus(p).getLen; total <= BroadcastBytes }
      catch { case scala.util.control.NonFatal(_) => false }
    }
  }

  // ---- DRIVER-SIZED CHANGE SETS --------------------------------------------

  /** Whether `entries` may be read to the driver: their manifest byte
    * sizes sum to at most [[BroadcastBytes]]; an entry of unknown size
    * never qualifies. */
  private def driverReadable(entries: Seq[Entry]): Boolean =
    entries.forall(_.bytes >= 0) && entries.map(_.bytes).sum <= BroadcastBytes

  /** `df` — a read of the engine-written `files` of `table` — with a
    * broadcast hint when [[broadcastable]] proves those files small. A
    * large set, or one whose size cannot be read, is left to the
    * planner's choice rather than forcing an executor-memory cliff. */
  private def hinted(s: SparkSession, table: String, df: DataFrame,
      files: Seq[String]): DataFrame =
    if (broadcastable(fs(s, new Path(table)),
        files.map(p => new Path(pathFor(table, p))))) broadcast(df)
    else df

  /** The (f, p) rows of positional (`~pos`) vector files, read with
    * their fixed schema — a schema-less read would run one inference job
    * per call. */
  private def readVectors(s: SparkSession, table: String,
      files: Seq[String]): DataFrame =
    s.read.schema("f STRING, p BIGINT")
      .parquet(files.map(pathFor(table, _)): _*)

  /** ONE canonical spelling for a row coordinate's file path — the
    * `__gcanon` constant [[scanEntries]] attaches to each entry's rows,
    * hence both what positional (`~pos`) tombstones RECORD and what
    * reads COMPARE, so a respelled table location (double slash, `..`,
    * trailing slash, `file:` prefix) can never silently split a
    * committed vector from its rows. Hadoop Path normalization does the
    * collapsing; scheme'd paths normalize within their scheme.
    * (Relocating a table directory invalidates absolute references —
    * vectors included — exactly like every other absolute ref in the
    * format: clone entries, bloom sidecar dirs.) */
  private def canonCoord(p: String): String =
    new Path(p.replaceFirst("^file:(//)?(?=/)", "")).toString

  // ---- COLUMN MAPPING: RENAME/DROP COLUMN as pure metadata ----
  //
  // The public column-mapping design (Delta 'name' mode / the moral
  // equivalent of Iceberg field-ids): every column's PHYSICAL name —
  // what data files carry — is FROZEN at column birth; the committed
  // schema's field metadata records a stable field id (`gid`) and, once
  // a column has been renamed, its physical name (`gphys`). A RENAME
  // changes only the logical name (one manifest write, zero files
  // touched; old files resolve under the new name because reads request
  // PHYSICAL names and project to logical); a DROP removes the field and
  // RETIRES its physical name in the `#retired=` header, so a later ADD
  // of the same name mints a fresh physical — by-name parquet resolution
  // can never resurrect dropped values. Pinned pre-rename versions keep
  // their own committed schema — the old names — by construction. A
  // compaction rewrites every live file under the LIVE names and drops
  // the mapping ([[restaged]]): a write staged under the old names must
  // then restage or fail, and a stream reads each older file under the
  // mapping in force before the restage ([[restages]]).

  private val FieldId = "gid"
  private val FieldPhys = "gphys"
  private val FieldRestaged = "grestaged"
  // INITIAL DEFAULT (the Iceberg-v3 shape): a column added with a
  // default reads the default — not NULL — from every file that
  // PREDATES it. The default's SQL literal and the data seq it took
  // effect at ride the field's schema metadata; readEntries fills it
  // per row from the row's entry seq, so every consumer (snapshot, box
  // reads, merge rewrites, compaction) sees one consistent value and a
  // rewrite MATERIALIZES it (fresh files carry real values at seqs ≥ since,
  // which is why the fill can key on the entry seq alone)
  private val FieldDefault = "gdefault"
  private val FieldDefaultSince = "gdefsince"
  private val FieldDefaultSinceVer = "gdefsincev"

  /** The defaulted fields of a schema: (field, default SQL literal,
    * effective-since data SEQ, effective-since VERSION). Seq and
    * version coincide on a table's own timeline but diverge on shallow
    * clones (carried entries keep the source's seqs) — the read-side
    * fill keys on the SEQ, version-addressed surfaces (the streaming
    * start guard) on the VERSION. Fields written before the version
    * stamp existed fall back to the seq. */
  private[graft] def defaultedFields(
      sch: org.apache.spark.sql.types.StructType)
      : Seq[(org.apache.spark.sql.types.StructField, String, Long, Long)] =
    sch.fields.toSeq.collect {
      case f if f.metadata.contains(FieldDefault) =>
        val since = f.metadata.getLong(FieldDefaultSince)
        val sinceV =
          if (f.metadata.contains(FieldDefaultSinceVer))
            f.metadata.getLong(FieldDefaultSinceVer)
          else since
        (f, f.metadata.getString(FieldDefault), since, sinceV)
    }

  /** The schema with the effective-since VERSION stamps removed — the
    * NORMAL FORM cross-table schema COMPARISONS must use: the stamp is
    * timeline-LOCAL bookkeeping (re-anchored by every clone), never a
    * semantic schema difference. Comparing raw schemas would make a
    * branch's re-anchored copy read as "changed" from birth. */
  private def stripSinceVer(sch: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(sch.fields.map { f =>
      if (!f.metadata.contains(FieldDefaultSinceVer)) f
      else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).remove(FieldDefaultSinceVer).build())
    })

  /** Re-anchor a TRANSPLANTED schema's since-version stamps to the
    * destination's timeline — what fastForward / rebase / mergeBranch
    * must do when a schema crosses table dirs (a branch's stamps speak
    * the branch's version space; carried verbatim onto the parent they
    * would let a stream replay pre-default files raw): a defaulted
    * field the destination's current schema already carries (matched
    * by stable field id, name fallback) keeps the DESTINATION's stamp;
    * a field new to the destination takes the transplant commit's
    * version — every pre-transplant destination file predates it. SEQ
    * stamps cross unchanged: seqs are the shared lineage axis. */
  private def reanchorSinceVer(
      sch: org.apache.spark.sql.types.StructType,
      dst: Option[org.apache.spark.sql.types.StructType],
      newVer: Long): org.apache.spark.sql.types.StructType = {
    def idOf(f: org.apache.spark.sql.types.StructField): Option[Long] =
      if (f.metadata.contains(FieldId)) Some(f.metadata.getLong(FieldId))
      else None
    org.apache.spark.sql.types.StructType(sch.fields.map { f =>
      if (!f.metadata.contains(FieldDefault)) f
      else {
        val dstStamp = dst.flatMap(_.fields.find(g =>
          g.metadata.contains(FieldDefault) &&
            ((idOf(f), idOf(g)) match {
              case (Some(a), Some(b)) => a == b
              case _ => g.name == f.name
            }))
          .filter(_.metadata.contains(FieldDefaultSinceVer))
          .map(_.metadata.getLong(FieldDefaultSinceVer)))
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong(FieldDefaultSinceVer, dstStamp.getOrElse(newVer))
          .build())
      }
    })
  }

  /** Whether any LIVE entry of `m` still PREDATES a defaulted column —
    * i.e. the read-side fill is actually doing work. After a compact
    * (every file rewritten at the compact's own seq) this answers
    * false, and the fast paths a pending default must disable — direct
    * file scans, manifest-answered aggregates — come back; the
    * write-side CURRENT_DEFAULT metadata stays either way. */
  private[graft] def pendingDefaults(m: Manifest): Boolean =
    m.schema.exists { sch =>
      val defs = defaultedFields(sch)
      // min entry seq computed ONCE — this runs on analyzer hot paths
      defs.nonEmpty && m.entries.nonEmpty && {
        val minSeq = m.entries.iterator.map(_.seq).min
        defs.exists(_._3 > minSeq)
      }
    }

  /** Validate one default literal against its column type — shared by
    * [[addColumnsDefault]] and the SQL catalog's pre-apply validation
    * pass (a multi-add statement must fail BEFORE any change lands).
    * The cast carries the session timezone: a TIMESTAMP default must
    * validate, not crash on a timezone-less Cast. */
  private[graft] def validateDefault(s: SparkSession, name: String,
      dt: org.apache.spark.sql.types.DataType, defSql: String): Unit = {
    val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(defSql)
    require(parsed.foldable,
      s"default for '$name' must be a literal expression: $defSql")
    val v = org.apache.spark.sql.catalyst.expressions.Cast(parsed, dt,
      Some(s.sessionState.conf.sessionLocalTimeZone)).eval(null)
    require(v != null,
      s"default for '$name' must not be (or cast to) NULL — add the " +
        "column without a default instead")
  }

  private[graft] def hasDefaults(
      sch: Option[org.apache.spark.sql.types.StructType]): Boolean =
    sch.exists(_.fields.exists(_.metadata.contains(FieldDefault)))

  /** Decorate defaulted fields with Spark's OWN default-column metadata
    * keys (CURRENT_DEFAULT / EXISTS_DEFAULT): exposing them on the
    * catalog table's schema lets Spark's analyzer fill the column in
    * `INSERT INTO t (subset, of, columns)` statements — the WRITE-side
    * half of the default contract, served entirely by the engine's own
    * ResolveDefaultColumns machinery. Reads never consult these keys
    * (the read-side fill keys on [[FieldDefault]]'s seq). */
  private[graft] def decorateDefaults(
      sch: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(sch.fields.map { f =>
      if (!f.metadata.contains(FieldDefault)) f
      else {
        val d = f.metadata.getString(FieldDefault)
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString("CURRENT_DEFAULT", d)
          .putString("EXISTS_DEFAULT", d).build())
      }
    })

  /** THE commit-sequence rule — one past the largest carried seq (or
    * the parent version, whichever is larger). ONE definition: the
    * commit path derives its carried seqs from rendered lines
    * ([[manifestBody]]), callers that must bake a seq-anchored fact
    * into the commit's own metadata derive them from the parsed
    * [[Manifest]] ([[nextSeq]]) — both feed this. */
  private def nextSeqFrom(carried: Seq[Long], cur: Long): Long =
    (carried :+ cur).max + 1

  /** The data sequence number the NEXT commit on top of `m` (at version
    * `cur`) will stamp. */
  private def nextSeq(m: Manifest, cur: Long): Long =
    nextSeqFrom(m.entries.map(_.seq) ++ m.deletes.collect {
      case (_, _, sq) if sq >= 0 => sq
    }, cur)

  /** The physical column name of one schema field (= logical until the
    * column's first rename). */
  private[graft] def physName(f: org.apache.spark.sql.types.StructField)
      : String =
    if (f.metadata.contains(FieldPhys)) f.metadata.getString(FieldPhys)
    else f.name

  /** The committed schema with its physical-name mapping dropped (field
    * ids stay) — what a rewrite that restaged every live file under the
    * LIVE names commits ([[compactResolving]]). */
  private def unmapped(sch: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(sch.fields.map(f =>
      if (!f.metadata.contains(FieldPhys)) f
      else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).remove(FieldPhys).build())))

  /** `sch` as committed at `version` over the schema `parent`: a field
    * whose physical name moved from `parent`'s (matched by id) records
    * `version` as its latest restage (`grestaged`, read by
    * [[restages]]); every other field keeps `parent`'s record, so a
    * record carried in from another lineage's version space (a branch,
    * a fast-forward) is replaced by this lineage's. */
  private def restageStamped(
      parent: Option[org.apache.spark.sql.types.StructType],
      sch: org.apache.spark.sql.types.StructType, version: Long)
      : org.apache.spark.sql.types.StructType = {
    val before = parent.toSeq.flatMap(_.fields)
      .filter(_.metadata.contains(FieldId))
      .map(f => f.metadata.getLong(FieldId) -> f).toMap
    org.apache.spark.sql.types.StructType(sch.fields.map { f =>
      val md = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).remove(FieldRestaged)
      Some(f).filter(_.metadata.contains(FieldId))
        .flatMap(g => before.get(g.metadata.getLong(FieldId))) match {
        case Some(p) if physName(p) != physName(f) =>
          md.putLong(FieldRestaged, version)
        case Some(p) if p.metadata.contains(FieldRestaged) =>
          md.putLong(FieldRestaged, p.metadata.getLong(FieldRestaged))
        case _ =>
      }
      f.copy(metadata = md.build())
    })
  }

  /** The compactions after version `after` that restaged one of `cols`
    * (logical names of the current schema `cur`) under new physical
    * names, each with the schema of the version just before it, newest
    * first: files added before such a version carry that schema's
    * physical names. Each restaged field records its latest restage
    * (`grestaged`, [[restageStamped]]), and the schema before it the
    * one preceding, so the walk reads two manifests per restage it
    * returns and none on a table never restaged since `after`. The schema before a restage maps
    * every field by id — the table was mapped, and a RENAME gives every
    * field one — which is what links files older than the first RENAME
    * (their manifests carry no ids) to the current columns. */
  private[graft] def restages(s: SparkSession, table: String,
      cur: Option[org.apache.spark.sql.types.StructType], cols: Seq[String],
      after: Long): Seq[(Long, Option[org.apache.spark.sql.types.StructType])] = {
    val ids = cur.toSeq.flatMap(_.fields).filter(f => cols.contains(f.name) &&
      f.metadata.contains(FieldId)).map(_.metadata.getLong(FieldId)).toSet
    def latest(sch: Option[org.apache.spark.sql.types.StructType]) =
      sch.toSeq.flatMap(_.fields).filter(f => f.metadata.contains(FieldId) &&
        ids(f.metadata.getLong(FieldId)) && f.metadata.contains(FieldRestaged))
        .map(_.metadata.getLong(FieldRestaged)).maxOption.filter(_ > after)
    // a record this lineage cannot confirm (its version vacuumed, or
    // not a restage here) ends the walk
    def at(r: Long) = scala.util.Try(manifest(s, table, r - 1).schema)
      .toOption.filter(b => scala.util.Try(
        restaged(b, manifest(s, table, r).schema)).getOrElse(false))
      .map(r -> _)
    Iterator.iterate(latest(cur).flatMap(at))(
      _.flatMap { case (_, sch) => latest(sch).flatMap(at) })
      .takeWhile(_.isDefined).flatten.toSeq
  }

  /** Field id → physical name of a committed schema; a field without an
    * id was never renamed, so it reads under its own name. */
  private def physById(sch: Option[org.apache.spark.sql.types.StructType])
      : Map[Long, String] =
    sch.fold(Map.empty[Long, String])(_.fields.iterator
      .filter(_.metadata.contains(FieldId))
      .map(f => f.metadata.getLong(FieldId) -> physName(f)).toMap)

  /** Whether `to` reads some field of `from` under another physical
    * name — a compaction that dropped the column mapping sits between
    * them, so files staged under `from` carry names `to` no longer
    * gives (they would read as NULL). Symmetric. */
  private def restaged(
      from: Option[org.apache.spark.sql.types.StructType],
      to: Option[org.apache.spark.sql.types.StructType]): Boolean = {
    val t = physById(to)
    physById(from).exists { case (id, p) => t.get(id).exists(_ != p) }
  }

  /** `sch` (logical names of the current schema `cur`) under the
    * physical names of the schema `at`: each field resolves through its
    * stable id in `at`, falling back to `cur`'s mapping — the names
    * files older than a restage carry ([[restages]]). */
  private[graft] def toPhysicalSchemaAt(
      cur: Option[org.apache.spark.sql.types.StructType],
      at: Option[org.apache.spark.sql.types.StructType],
      sch: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val atPhys = physById(at)
    val byName = cur.fold(Map.empty[String, String])(_.fields.iterator
      .map(f => f.name -> (if (f.metadata.contains(FieldId))
        atPhys.getOrElse(f.metadata.getLong(FieldId), physName(f))
        else physName(f))).toMap)
    org.apache.spark.sql.types.StructType(
      sch.fields.map(f => f.copy(name = byName.getOrElse(f.name, f.name))))
  }

  /** Whether the committed schema carries any non-identity mapping. */
  private[graft] def hasMappedSchema(
      sch: Option[org.apache.spark.sql.types.StructType]): Boolean =
    sch.exists(_.fields.exists(_.metadata.contains(FieldPhys)))

  /** logical → physical name map of a manifest's committed schema
    * (identity, i.e. empty-delta, for unmapped tables). */
  private def physMap(m: Manifest): Map[String, String] =
    m.schema.fold(Map.empty[String, String])(
      _.fields.iterator.map(f => f.name -> physName(f))
        .filter { case (l, p) => l != p }.toMap)

  /** The committed schema with PHYSICAL field names — what parquet
    * readers must request of the data files. */
  private[graft] def physicalSchema(
      sch: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      sch.fields.map(f => f.copy(name = physName(f))))

  /** Rename an arbitrary (column-pruned) LOGICAL schema to physical
    * names using the committed schema's mapping — the streaming read
    * and sink paths scan/write files by name but hand rows around
    * POSITIONALLY, so swapping names (same order, same types) is all
    * column mapping needs there. */
  private[graft] def toPhysicalSchema(
      tableSchema: Option[org.apache.spark.sql.types.StructType],
      sch: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val pm = tableSchema.fold(Map.empty[String, String])(
      _.fields.iterator.map(f => f.name -> physName(f)).toMap)
    org.apache.spark.sql.types.StructType(
      sch.fields.map(f => f.copy(name = pm.getOrElse(f.name, f.name))))
  }

  /** Rename a LOGICAL-named frame to physical names for staging —
    * identity (the frame itself) on unmapped tables; columns beyond the
    * committed schema (an evolving append's additions) keep their
    * names. */
  private def toPhysical(df: DataFrame, m: Manifest): DataFrame = {
    val pm = physMap(m)
    if (pm.isEmpty) df
    else df.select(df.columns.map(c =>
      col(c).as(pm.getOrElse(c, c))).toSeq: _*)
  }

  /** Carry the table's field metadata (ids + physical names) onto a
    * same-named schema a commit is about to record — change frames and
    * snapshot-derived schemas arrive metadata-stripped, and committing
    * them raw would silently erase the mapping. */
  private def withMapping(m: Manifest,
      sch: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    m.schema.fold(sch) { tsch =>
      org.apache.spark.sql.types.StructType(sch.fields.map(f =>
        tsch.fields.find(_.name == f.name)
          .fold(f)(tf => f.copy(metadata = tf.metadata))))
    }

  /** The manifest's index headers mapped back to LOGICAL names (headers
    * and stat groups always speak physical — they describe the files). */
  private[graft] def logicalIndexCols(m: Manifest)
      : (Seq[String], Seq[String]) = {
    val back = m.schema.fold(Map.empty[String, String])(
      _.fields.iterator.map(f => physName(f) -> f.name).toMap)
    def tr(c: String): String = c match {
      // a transform spec translates its INNER column name
      case DaysSpec(inner) => s"days(${back.getOrElse(inner, inner)})"
      case BucketSpec(n, inner) =>
        s"bucket$n(${back.getOrElse(inner, inner)})"
      case _ => back.getOrElse(c, c)
    }
    (m.idxCols.map(tr), m.strIdxCols.map(tr))
  }

  /** Assign stable field ids to any field that lacks one: ids start
    * above every id already in use — current fields AND retired ones —
    * and are never reused. */
  private def ensureIds(sch: org.apache.spark.sql.types.StructType,
      retired: Seq[(Long, String)])
      : org.apache.spark.sql.types.StructType = {
    var next = (sch.fields.toSeq.collect {
      case f if f.metadata.contains(FieldId) => f.metadata.getLong(FieldId)
    } ++ retired.map(_._1) :+ 0L).max
    org.apache.spark.sql.types.StructType(sch.fields.map { f =>
      if (f.metadata.contains(FieldId)) f
      else {
        next += 1
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong(FieldId, next).build())
      }
    })
  }

  /** The top-level column names a CHECK constraint's expression
    * references (parsed, not text-matched). */
  private def checkReferences(sqlText: String): Set[String] =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(sqlText).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head
      }.toSet

  /** Loud guard: a rename/drop of a column a CHECK constraint
    * references would break the constraint's expression at the next
    * write — the constraint must be dropped (and re-added against the
    * new name) explicitly, exactly Delta's rule. */
  private def guardConstrained(table: String, m: Manifest,
      col: String, what: String): Unit =
    m.checks.foreach { case (n, t) =>
      require(!checkReferences(t).exists(_.equalsIgnoreCase(col)),
        s"$table: cannot $what column '$col' — CHECK constraint '$n' " +
          s"($t) references it; drop the constraint first")
    }

  private def mappedSchemaOf(s: SparkSession, table: String, m: Manifest)
      : org.apache.spark.sql.types.StructType =
    m.schema.getOrElse(throw new IllegalArgumentException(
      s"$table has no committed schema (pre-#schema= manifest) — column " +
        "mapping needs schema-in-the-log"))

  /** `ALTER TABLE RENAME COLUMN` — ONE manifest write, entries carried
    * verbatim: the field keeps its id and (from its first rename on)
    * its frozen physical name; only the logical name changes. Pending
    * merge-on-read tombstones CARRY: their manifest lines record the
    * key's physical name, which a rename never moves, so reads keep
    * hiding dead keys under the new logical name and later MoR merges
    * keep committing — no forced compaction on a heavy-churn table. */
  def renameColumn(s: SparkSession, table: String, from: String,
      to: String): Long = {
    val cur = currentVersion(s, table)
    val m = manifest(s, table, cur)
    val sch = mappedSchemaOf(s, table, m)
    require(sch.fieldNames.contains(from), s"no column '$from' in $table")
    require(!sch.fieldNames.contains(to),
      s"column '$to' already exists in $table")
    require(to.nonEmpty && !to.endsWith("~s") && !to.endsWith("~h") &&
      !to.endsWith("~L") && to != "~b" && !to.exists("\t\n,".contains(_)),
      s"column name '$to' would corrupt the manifest format")
    guardConstrained(table, m, from, "rename")
    val withIds = ensureIds(sch, m.retired)
    val renamed = org.apache.spark.sql.types.StructType(
      withIds.fields.map { f =>
        if (f.name != from) f
        else {
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
          if (!f.metadata.contains(FieldPhys)) mb.putString(FieldPhys, from)
          f.copy(name = to, metadata = mb.build())
        }
      })
    commit(s, table, m.entries.map(render), cur, op = "rename",
      schemaJson = renamed.json, deleteLines = m.deletes,
      idxCols = m.idxCols, strIdxCols = m.strIdxCols, blooms = m.blooms,
      retired = m.retired, checks = m.checks)
  }

  /** `ALTER TABLE DROP COLUMN` — ONE manifest write, entries carried
    * verbatim: the field leaves the logical schema and its physical
    * name RETIRES in the `#retired=` header (see [[addColumns]] for why
    * that matters). The column's bytes stay in old files until rewrites
    * age them out — exactly the public formats' drop semantics. Its
    * physical name also leaves the index headers and bloom refs, so
    * later staging never stats a column new frames don't carry. */
  def dropColumn(s: SparkSession, table: String, name: String): Long = {
    val cur = currentVersion(s, table)
    val m = manifest(s, table, cur)
    val sch = mappedSchemaOf(s, table, m)
    require(sch.fieldNames.contains(name), s"no column '$name' in $table")
    require(sch.fields.length > 1,
      s"cannot drop the last column of $table")
    guardConstrained(table, m, name, "drop")
    val withIds = ensureIds(sch, m.retired)
    val victim = withIds.fields.find(_.name == name).get
    val phys = physName(victim)
    // dropping a PENDING-defaulted column with a tombstone keyed on it
    // would resurrect every row that tombstone killed: the fill that
    // made the tombstone match lives in the schema and leaves with the
    // column, while the tombstone carries via the dead-keys path and
    // anti-joins the stored NULLs. Same remedy as every fill hazard:
    // compact() first (materializes the fill AND applies the tombstone)
    if (victim.metadata.contains(FieldDefault) &&
        m.entries.exists(_.seq < victim.metadata.getLong(FieldDefaultSince)))
      require(!m.deletes.exists(d => d._2.stripSuffix("~L") == phys),
        s"$table: cannot drop '$name' — a pending merge-on-read " +
          "tombstone is keyed on it and the column's initial default " +
          "is still being filled at read time; compact() first")
    val remaining = org.apache.spark.sql.types.StructType(
      withIds.fields.filterNot(_.name == name))
    // checks CARRY: guardConstrained only refuses dropping a column a
    // constraint references — dropping any OTHER column must not
    // silently un-enforce the table's invariants
    commit(s, table, m.entries.map(render), cur, op = "drop",
      schemaJson = remaining.json, deleteLines = m.deletes,
      idxCols = m.idxCols.filterNot(_ == phys),
      strIdxCols = m.strIdxCols.filterNot(_ == phys),
      blooms = m.blooms.filterNot(_.col == phys),
      retired = m.retired :+ (victim.metadata.getLong(FieldId), phys),
      checks = m.checks)
  }

  /** `ALTER TABLE ALTER COLUMN … TYPE` — WIDENING type evolution as
    * pure metadata: ONE manifest write records the wider type, every
    * data file carries verbatim, and old files read through the
    * parquet reader's widening promotions (int8/16/32 → wider
    * integrals, float → double — the Spark 4 capability that makes
    * this shape pure metadata at all; new appends land wide). Only
    * provably-lossless widenings pass; narrowing or cross-family
    * retypes fail loudly — that is overwrite territory. Manifest value
    * stats are stored as LONGS at stage time regardless of the stored
    * width, so pruning on a widened column stays sound unchanged (the
    * indexed-column case is spec-asserted). */
  def widenColumn(s: SparkSession, table: String, name: String,
      to: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.types._
    val wider: Map[DataType, Set[DataType]] = Map(
      ByteType -> Set(ShortType, IntegerType, LongType),
      ShortType -> Set(IntegerType, LongType),
      IntegerType -> Set(LongType),
      FloatType -> Set(DoubleType))
    // beyond the integral/float ladder, two more provably-lossless
    // promotions the Spark 4 parquet readers support: DECIMAL gains
    // integral digits at the SAME scale (every stored unscaled value
    // embeds exactly; a scale change would rescale stored values =
    // not metadata; a precision loss truncates = refused), and DATE →
    // TIMESTAMP_NTZ (midnight of the stored day, no zone reinterpret)
    def lossless(from: DataType, t: DataType): Boolean = (from, t) match {
      case (f, w) if wider.get(f).exists(_.contains(w)) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d2.scale == d1.scale && d2.precision > d1.precision
      case (DateType, TimestampNTZType) => true
      case _ => false
    }
    val cur = currentVersion(s, table)
    val m = manifest(s, table, cur)
    val sch = mappedSchemaOf(s, table, m)
    val f = sch.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no column '$name' in $table"))
    require(lossless(f.dataType, to),
      s"$table: cannot retype '$name' ${f.dataType.sql} -> ${to.sql} — " +
        "only lossless widenings (tinyint/smallint/int -> wider " +
        "integrals, float -> double, decimal(p,s) -> decimal(p+k,s), " +
        "date -> timestamp_ntz) are pure metadata; anything else " +
        "needs an overwrite")
    val widened = StructType(sch.fields.map(g =>
      if (g.name == name) g.copy(dataType = to) else g))
    commit(s, table, m.entries.map(render), cur, op = "widen",
      schemaJson = widened.json, deleteLines = m.deletes,
      idxCols = m.idxCols, strIdxCols = m.strIdxCols, blooms = m.blooms,
      retired = m.retired, checks = m.checks)
  }

  // ---- CHECK CONSTRAINTS: write-time row invariants in the log ----

  /** Fail LOUDLY if `df` violates any committed CHECK constraint —
    * one combined pass over the frame being written (change-set-sized:
    * an append checks the appended batch, a merge checks its change
    * rows — never the table), then a per-check readout of the single
    * offending row for the error message. SQL CHECK three-valued
    * semantics: NULL passes, only FALSE violates. Constraints
    * reference LOGICAL column names; enforcement runs before the
    * physical-name staging rename. */
  private def enforceChecks(s: SparkSession,
      checks: Seq[(String, String)], df: DataFrame, what: String): Unit = {
    if (checks.isEmpty) return
    val flagged = df.select(checks.map { case (n, sql) =>
      (!coalesce(expr(sql), lit(true))).as(n) }: _*)
    val bad = flagged.filter(flagged.columns.map(c =>
      coalesce(col(s"`$c`"), lit(false))).reduce(_ || _))
      .limit(1).collect().headOption
    bad.foreach { r =>
      val names = checks.map(_._1).zipWithIndex.collect {
        case (n, i) if !r.isNullAt(i) && r.getBoolean(i) => n }
      throw new IllegalArgumentException(
        s"$what violates CHECK constraint(s) ${names.mkString(", ")} (" +
          names.map(n => s"$n: ${checks.find(_._1 == n).get._2}")
            .mkString("; ") + ") — nothing committed")
    }
  }

  /** [[enforceChecks]] for the catalog's staged-CTAS path (the one
    * writer that validates BEFORE a table exists). */
  private[graft] def enforceChecksPublic(s: SparkSession,
      checks: Seq[(String, String)], df: DataFrame, what: String): Unit =
    enforceChecks(s, checks, df, what)

  /** ADD a CHECK constraint (the Delta `ALTER TABLE ADD CONSTRAINT`
    * shape, here spelled `ALTER TABLE … SET TBLPROPERTIES
    * ('check.<name>' = '<boolean sql>')`): validates the EXISTING
    * table first — one scan, loud on any violating row — then commits
    * the constraint as one `#check=` manifest header. From then on
    * every batch write path (append, overwrite, CTAS/RTAS, merge
    * change sets) enforces it at change-set cost before committing. */
  def addCheck(s: SparkSession, table: String, name: String,
      sqlText: String): Long = {
    val cur = currentVersion(s, table)
    val m = manifest(s, table, cur)
    require(!m.checks.exists(_._1 == name),
      s"$table: check constraint '$name' already exists (UNSET it first)")
    // the ADD CONSTRAINT contract: current rows must already satisfy it
    enforceChecks(s, Seq((name, sqlText)), snapshot(s, table, cur),
      s"$table: existing rows")
    commit(s, table, m.entries.map(render), cur, op = "constraint",
      schemaJson = m.schema.map(_.json).orNull, deleteLines = m.deletes,
      idxCols = m.idxCols, strIdxCols = m.strIdxCols, blooms = m.blooms,
      retired = m.retired, checks = m.checks :+ (name, sqlText))
  }

  /** DROP a CHECK constraint — one manifest write; loud if absent. */
  def dropCheck(s: SparkSession, table: String, name: String): Long = {
    val cur = currentVersion(s, table)
    val m = manifest(s, table, cur)
    require(m.checks.exists(_._1 == name),
      s"$table: no check constraint '$name' " +
        s"(has: ${m.checks.map(_._1).mkString(", ")})")
    commit(s, table, m.entries.map(render), cur, op = "constraint",
      schemaJson = m.schema.map(_.json).orNull, deleteLines = m.deletes,
      idxCols = m.idxCols, strIdxCols = m.strIdxCols, blooms = m.blooms,
      retired = m.retired, checks = m.checks.filterNot(_._1 == name))
  }

  /** New columns whose name collides with a RETIRED physical name (a
    * dropped column re-added) or with a LIVE field's physical name (a
    * renamed column's birth name) mint a generated physical name — old
    * files must read the re-added column as NULL, never as the ghost of
    * the data that used to live under that name. */
  private def guardNewField(f: org.apache.spark.sql.types.StructField,
      m: Manifest, nextVersion: Long)
      : org.apache.spark.sql.types.StructField = {
    val live = m.schema.toSeq.flatMap(_.fields)
    val collides = m.retired.exists(_._2 == f.name) ||
      live.exists(g => g.name != f.name && physName(g) == f.name)
    if (!collides) f
    else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata)
      .putString(FieldPhys, s"${f.name}_g$nextVersion").build())
  }

  /** Scan a set of manifest entries with merge-on-read tombstones
    * applied PER SEQUENCE: a tombstone deletes only from entries whose
    * data seq is older than its commit seq (rows written after the
    * delete are newer and stay). One scan ([[scanEntries]]) carries each
    * row's entry seq and canonical file path as columns; initial
    * defaults fill per row from that seq, and each tombstone kind is one
    * anti-join over those columns. Tombstone sets are small (one file of
    * keys per delete): AQE broadcasts the build side, so each anti-join
    * is a map-only filter, not a shuffle. */
  private def readEntries(s: SparkSession, table: String, m: Manifest,
                          entries: Seq[Entry]): DataFrame =
    readEntriesPos(s, table, m, entries, keepPos = false)

  /** The current (or pinned) snapshot WITH per-row coordinates — the
    * table's logical columns plus `__gcanon` (canonical file path) and
    * `__gpos` (row ordinal within that file): exactly the coordinate
    * space `~pos` deletion vectors record, which is what makes a DV
    * debuggable from SQL (`SELECT _metadata.file_path ...` through the
    * catalog resolves here — [[graft.sources.GraftMorReadRule]]).
    * Tombstones, column mapping and initial defaults all apply: the
    * coordinates are the surviving rows'. */
  private[graft] def snapshotWithCoords(s: SparkSession, table: String,
      version: Long = -1L): DataFrame = {
    val v = if (version < 0) currentVersion(s, table) else version
    val m = manifest(s, table, v)
    readEntriesPos(s, table, m, m.entries, keepPos = true)
  }

  /** One parquet scan of `entries` whose rows carry their entry's
    * constants: `__gseq` (the entry seq) and `__gcanon` (the
    * [[canonCoord]] of its file) — partition values of a manifest-backed
    * file index, so no scan file name is ever resolved back to an entry.
    * Reads `schema` (PHYSICAL names); a manifest without a schema infers
    * one from the files. `indexed` = the table has index columns, so a
    * filtered read skips its stat-less zero-row sentinels. */
  private def scanEntries(s: SparkSession, table: String,
      entries: Seq[Entry], blooms: Seq[BloomRef],
      schema: Option[org.apache.spark.sql.types.StructType],
      indexed: Boolean): DataFrame = {
    // each (bloom, literal) is probed at most once per scan relation,
    // however often its plans are optimized
    val probed = new java.util.concurrent.ConcurrentHashMap[
      (String, Long), String => Boolean]()
    ManifestScan(s, entries.map { e =>
      val p = pathFor(table, e.path)
      ManifestFile(p, canonCoord(p), e)
    }, blooms, (b, v) => probed.computeIfAbsent((b.dir, v),
      _ => bloomProbe(s, table, b, v)), schema, indexed)
  }

  /** [[readEntries]] with the per-row provenance EXPOSED: `keepPos =
    * true` returns the frame with two extra columns — `__gcanon` (the
    * row's canonical file path) and `__gpos` (its ordinal within that
    * file, parquet `_metadata.row_index`) — the coordinates POSITIONAL
    * tombstones speak ([[dedupMor]]).
    *
    * The read is ONE scan ([[scanEntries]]) and then:
    *  - each initial default fills `when(__gseq < since)` — keyed on the
    *    entry seq, never a NULL test, which would repaint genuine
    *    post-add NULLs;
    *  - positional vectors anti-join on `(__gcanon, __gpos)`;
    *  - each tombstoned key column anti-joins once on
    *    `key = __tk AND __gseq < __tl` over [[tombstonePairs]]. */
  private def readEntriesPos(s: SparkSession, table: String, m: Manifest,
                             entries: Seq[Entry],
                             keepPos: Boolean): DataFrame = {
    require(entries.nonEmpty, s"$table: readEntries over zero entries")
    // only tombstones that can apply to SOME entry of this read: every
    // tombstoned path/key file references rows strictly older than the
    // tombstone's seq, so a read of all-newer entries skips the join
    // outright (the fresh-adds fast path)
    val dels = m.deletes.filter(d => entries.exists(_.seq < d._3))
    // Tombstone keys are PHYSICAL names (stable across RENAME/DROP —
    // the manifest parse boundary guarantees it), so the anti-join
    // runs on the RAW physical frame BEFORE the logical projection:
    // a rename never detaches pending tombstones from their column.
    // A key whose column was DROPPED still applies to older files —
    // its retired physical column rides along in the read schema
    // (type recovered from the tombstone file's own footer) and the
    // projection below discards it.
    // a `~L`-suffixed key marks a BOUNDED tombstone file of
    // (key, L) pairs — [[rewriteTombstones]]' collapsed form.
    // the reserved `~pos` key marks a POSITIONAL tombstone file of
    // (f, p) coordinates — no schema column is involved at all
    def joinCol(rec: String): String = rec.stripSuffix("~L")
    val (posDels, keyDels) = dels.partition(_._2 == "~pos")
    val deadKeys = keyDels.map(d => joinCol(d._2)).distinct
      .filterNot(pk =>
        m.schema.forall(_.fields.exists(f => physName(f) == pk)))
    val readSchema = m.schema.map { sch =>
      val extra = deadKeys.map { pk =>
        val tf = keyDels.find(d => joinCol(d._2) == pk).get._1
        val kdt = keyFileSchema(s, table, tf).fields(0).dataType
        org.apache.spark.sql.types.StructField(pk, kdt)
      }
      org.apache.spark.sql.types.StructType(
        physicalSchema(sch).fields ++ extra)
    }
    val raw0 = scanEntries(s, table, entries, m.blooms, readSchema,
      m.idxCols.nonEmpty || m.strIdxCols.nonEmpty)
    // the row's file ordinal must come straight off the file-source
    // relation (a join would detach the metadata column)
    val rawPos =
      if (keepPos || posDels.nonEmpty)
        raw0.withColumn("__gpos", col("_metadata.row_index"))
      else raw0
    // INITIAL DEFAULTS fill BEFORE the tombstone anti-joins: a
    // tombstone keyed on a defaulted column must match the value the
    // row READS (the default), not the stored NULL — the same value
    // every other consumer sees
    val raw = m.schema.map(defaultedFields).getOrElse(Nil)
      .filter(d => entries.exists(_.seq < d._3))
      .foldLeft(rawPos) { case (acc, (f, defSql, since, _)) =>
        acc.withColumn(physName(f), when(col("__gseq") < since,
          expr(defSql).cast(f.dataType)).otherwise(col(physName(f))))
      }
    // BROADCAST the tombstone side when its on-disk weight is small
    // (the overwhelmingly common change-set-sized case, [[hinted]]): the
    // data scan then streams through broadcast hash anti-joins with zero
    // exchanges — on a MoR table every read pays these joins, so the
    // shuffle-free shape is the one that scales (guide §3.1)
    val posCleaned =
      if (posDels.isEmpty) raw
      else {
        // POSITIONAL tombstones: (f = canonical path, p = row ordinal)
        // pairs. Path-targeting makes the seq rule self-enforcing: a
        // vector only ever records coordinates of files strictly older
        // than it, and a path is never re-referenced at a different seq.
        val dv = readVectors(s, table, posDels.map(_._1))
          .select(col("f").as("__gdf"), col("p").as("__gdp"))
          .distinct()
        raw.join(hinted(s, table, dv, posDels.map(_._1)),
          raw("__gcanon") === dv("__gdf") && raw("__gpos") === dv("__gdp"),
          "left_anti")
      }
    // ONE anti-join per tombstoned key column: all its tombstone files
    // (plain AND collapsed `~L`) union into (key, bound) pairs —
    // [[tombstonePairs]] — and the row dies iff its key matches and its
    // entry seq is below the bound. Tombstone key FILES may carry the
    // logical-at-delete-time name — read positionally, join physical.
    val cleaned = keyDels.groupBy(d => joinCol(d._2)).toSeq.sortBy(_._1)
      .foldLeft(posCleaned) { case (acc, (kc, fls)) =>
        val keys = tombstonePairs(s, table, "__tk", fls)
        acc.join(hinted(s, table, keys, fls.map(_._1)),
          acc(kc) === keys("__tk") && acc("__gseq") < keys("__tl"),
          "left_anti")
      }
    // mapped tables project physical → the committed LOGICAL schema
    // here — the single choke point every library read, rewrite, and
    // compaction funnels through (also drops dead tombstone columns
    // and the per-entry and positional bookkeeping columns)
    val out = cleaned.drop(Seq("__gseq") ++ deadKeys ++
      (if (keepPos) Nil else Seq("__gcanon", "__gpos")): _*)
    val logical = physMap(m).map(_.swap)
    out.toDF(out.columns.toSeq.map(c => logical.getOrElse(c, c)): _*)
  }

  def snapshot(s: SparkSession, table: String, v: Long = -1L): DataFrame = {
    val ver = if (v < 0) currentVersion(s, table) else v
    val m = manifest(s, table, ver)
    // a zero-file version (an overwrite that staged nothing) must fail
    // loudly, not as a schema-inference error. readEntries applies
    // sequenced tombstones and reads with the COMMITTED schema — files
    // older than an added column read it as NULL (by-name parquet
    // resolution); footers never decide
    require(m.entries.nonEmpty, s"$table version $ver lists no files")
    readEntries(s, table, m, m.entries)
  }

  /** [[snapshot]] filtered by `pred`, with the (kept, total) file counts
    * of the read, both taken from its plan: `total` from the analyzed
    * plan's manifest scan (every live entry), `kept` from the optimized
    * one, which holds only the entries [[ManifestPrune.keep]] keeps for
    * `pred` ([[org.apache.spark.sql.graftbridge.ManifestPruneRule]]; 0
    * when no entry survives) — the files the read opens. */
  def snapshotWhere(s: SparkSession, table: String, pred: Column,
      v: Long = -1L): (DataFrame, Int, Int) = {
    val df = snapshot(s, table, v).filter(pred)
    val qe = df.queryExecution
    (df, ManifestScan.files(qe.optimizedPlan).size,
      ManifestScan.files(qe.analyzed).size)
  }

  /** Resolve `AS OF <timestamp>` to a version: the NEWEST version whose
    * commit timestamp is ≤ `tsMillis`. Commit timestamps are monotonized
    * at commit time (see [[commit]]), so the scan walks newest-first and
    * stops at the first qualifying manifest — O(versions-after-target)
    * log reads, not O(all). A target before the table's first commit is
    * an error (the table did not exist yet), matching every public
    * format's AS OF contract. Pre-timestamp manifests (no `#ts=` header)
    * read as ts −1: they qualify for any target, keeping old tables
    * resolvable. */
  def versionAt(s: SparkSession, table: String, tsMillis: Long): Long = {
    val vs = versions(s, table)
    require(vs.nonEmpty, s"$table has no committed version")
    vs.reverse.find(v => manifest(s, table, v).ts <= tsMillis)
      .getOrElse(throw new IllegalArgumentException(
        s"$table: no version committed at or before ts=$tsMillis " +
          s"(first commit was later)"))
  }

  /** Snapshot at `AS OF <timestamp>` — [[versionAt]] + [[snapshot]]. */
  def snapshotAt(s: SparkSession, table: String, tsMillis: Long): DataFrame =
    snapshot(s, table, versionAt(s, table, tsMillis))

  /** Resolve a streaming start anchored by COMMIT TIME to the initial
    * offset (= last consumed version): every retained commit stamped
    * AT OR AFTER `tsMillis` streams — the complement of [[versionAt]]'s
    * as-of read. ONE log listing decides everything (no re-list window:
    * a commit landing after it is newer than the listed tail and
    * streams regardless), walked NEWEST-first with HEADER-ONLY `#ts=`
    * reads stopping at the first commit older than the target —
    * O(commits after the target), the [[versionAt]] direction, so a
    * year-old minutely-committed table anchoring at "yesterday" pays
    * for yesterday, not for the year. Nothing qualifying = pure TAIL
    * (monotonized stamps make every future commit qualify). REFUSED
    * loudly, with the timestamp named, when the anchor's parent
    * manifest is not retained (oldest-retained anchor on a vacuumed
    * table, or a tag-shielded interior hole right before it): the
    * replay would be silently incomplete — and silent is the one thing
    * a time anchor must never be. Pre-timestamp manifests (no `#ts=`,
    * read as −1) never qualify for ANY target: a commit that cannot
    * prove its time is treated as before every target. */
  def offsetSince(s: SparkSession, table: String, tsMillis: Long): Long = {
    val vs = versions(s, table)
    require(vs.nonEmpty, s"$table has no committed version")
    def qualifies(v: Long): Boolean = {
      val t = manifestHeader(s, table, v)(tsOf)
      t >= 0 && t >= tsMillis
    }
    var i = vs.size - 1
    while (i >= 0 && qualifies(vs(i))) i -= 1
    if (i == vs.size - 1) return vs.last // nothing qualifies: pure tail
    val anchor = vs(i + 1)
    require(anchor == 0L || (i >= 0 && vs(i) == anchor - 1),
      s"$table: a stream anchored at timestamp $tsMillis must replay " +
        s"from version ${anchor - 1}'s manifest, which retention has " +
        "vacuumed — the feed since that time is not fully retained; " +
        "pick a later timestamp or anchor with startingVersion")
    anchor - 1
  }

  /** Schema-evolving append: `df` may carry NEW columns beyond the
    * table's current schema (add-column evolution — common columns must
    * match exactly; dropping or retyping is overwrite territory). The
    * commit keeps every prior entry VERBATIM — zero data files rewritten;
    * the evolution is one manifest line recording the widened schema,
    * which is the whole point: on a 100 TB table, adding a column must
    * cost O(metadata), not a rewrite. Prior files read NULL for the new
    * columns from then on. */
  def appendEvolve(s: SparkSession, table: String, df: DataFrame): Long = {
    val cur = currentVersion(s, table)
    val m = manifest(s, table, cur) // ONE log read for all facets below
    val have = m.schema.getOrElse(snapshot(s, table, cur).schema)
      .map(f => (f.name, f.dataType)).toSeq
    val got = df.schema.map(f => (f.name, f.dataType)).toSeq
    require(got.take(have.size) == have,
      s"evolved schema $got must extend table schema $have (common columns first, unchanged)")
    enforceChecks(s, m.checks, df, s"$table: append")
    // the widened schema: existing fields keep their mapping metadata,
    // additions whose name collides with a retired or live PHYSICAL
    // name mint a fresh physical (see guardNewField)
    val evolved = org.apache.spark.sql.types.StructType(
      withMapping(m, org.apache.spark.sql.types.StructType(
        df.schema.fields.take(have.size))).fields ++
        df.schema.fields.drop(have.size).map(guardNewField(_, m, cur + 1)))
    val mStage = m.copy(schema = Some(evolved))
    val fresh =
      if (m.idxCols.nonEmpty || m.strIdxCols.nonEmpty)
        stageIndexed(s, table, toPhysical(df, mStage),
          m.idxCols, m.strIdxCols)
      else stage(s, table, toPhysical(df, mStage))
    commit(s, table, m.entries.map(render) ++ fresh, cur, op = "evolve",
      schemaJson = evolved.json, deleteLines = m.deletes,
      idxCols = m.idxCols, strIdxCols = m.strIdxCols, blooms = m.blooms,
      retired = m.retired, checks = m.checks)
  }

  /** ADD-COLUMN schema evolution as PURE METADATA: commit a new version
    * whose manifest carries the widened schema and every prior entry
    * VERBATIM — zero files touched, zero data moved. On a 100 TB table
    * adding a column costs one manifest write; prior files read NULL for
    * the new columns from then on (readers plan from the committed
    * schema — parquet resolves requested-but-absent columns by name).
    * This is [[appendEvolve]] minus the appended batch — the shape
    * `ALTER TABLE ADD COLUMN` compiles to. New columns must be nullable
    * (the existing rows have no value to give a NOT NULL column) and
    * must not collide with existing names. */
  def addColumns(s: SparkSession, table: String,
      cols: Seq[org.apache.spark.sql.types.StructField]): Long =
    addColumnsWith(s, table, cols.map((_, None)))

  /** The general add-column commit: each field optionally carries an
    * INITIAL-DEFAULT literal ([[addColumnsDefault]]'s semantics). ONE
    * evolve commit for the whole batch, declaration order preserved —
    * a mixed plain/defaulted ADD COLUMNS statement must neither
    * half-apply nor reorder. */
  def addColumnsWith(s: SparkSession, table: String,
      cols: Seq[(org.apache.spark.sql.types.StructField, Option[String])],
      extraChecks: Seq[(String, String)] = Nil): Long = {
    val cur = currentVersion(s, table)
    val m = manifest(s, table, cur)
    val have = m.schema.getOrElse(snapshot(s, table, cur).schema)
    val since = nextSeq(m, cur)
    // validate EVERYTHING before building the schema — nothing may
    // land if any column (or any default literal) is malformed.
    // Name comparisons are CASE-INSENSITIVE: Spark resolves that way
    // by default, and a 'Tier'/'tier' pair would commit a schema every
    // later query finds ambiguous
    require(cols.map(_._1.name.toLowerCase).distinct.size == cols.size,
      s"ADD COLUMNS repeats a name: ${cols.map(_._1.name).mkString(", ")}")
    cols.foreach { case (f, d) =>
      require(f.nullable || d.isDefined,
        s"added column '${f.name}' must be nullable: existing rows read " +
          "it as NULL")
      require(!have.fieldNames.exists(_.equalsIgnoreCase(f.name)),
        s"column '${f.name}' already exists in $table")
      d.foreach(validateDefault(s, f.name, f.dataType, _))
    }
    val fields = cols.map {
      case (f, None) => f
      case (f, Some(defSql)) =>
        f.copy(nullable = true,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(FieldDefault, defSql)
            .putLong(FieldDefaultSince, since)
            .putLong(FieldDefaultSinceVer, cur + 1).build())
    }
    // caller-supplied CHECKs ride the SAME evolve commit (the
    // NOT NULL DEFAULT shape: the add and its write-side enforcement
    // must land together, or a crash between two commits leaves the
    // declared constraint silently unenforced)
    extraChecks.foreach { case (n, _) =>
      require(!m.checks.exists(_._1 == n),
        s"check '$n' already exists on $table") }
    commit(s, table, m.entries.map(render), cur, op = "evolve",
      schemaJson = org.apache.spark.sql.types.StructType(
        have.fields ++ fields.map(guardNewField(_, m, cur + 1))).json,
      deleteLines = m.deletes, idxCols = m.idxCols,
      strIdxCols = m.strIdxCols, blooms = m.blooms, retired = m.retired,
      checks = m.checks ++ extraChecks)
  }

  /** `ALTER TABLE ADD COLUMN … DEFAULT <literal>` — add-column evolution
    * where EXISTING rows read the default instead of NULL (the
    * Iceberg-v3 "initial default"): still ONE metadata-only manifest
    * write, zero files touched at any table size. The default literal
    * and its effective-since data seq ride the field's schema metadata;
    * every read path fills the column with the literal for entries
    * whose seq predates it ([[readEntries]] — the single read choke
    * point, so merges, deletes, compaction and box reads all see it),
    * and any rewrite MATERIALIZES it (the rewritten file's seq is ≥
    * since, so its stored values — the filled defaults — speak for
    * themselves from then on). Rows written AFTER the add store real
    * values, including real NULLs, which is why the fill keys on the
    * entry seq and never on NULL-ness: a post-add NULL stays NULL.
    * The default must be a foldable literal expression (parsed and
    * evaluated here — a non-constant default would make old rows
    * unreproducible). Write-side defaults (INSERT omitting the column)
    * are deliberately out of scope: appends state every column. */
  def addColumnsDefault(s: SparkSession, table: String,
      cols: Seq[(org.apache.spark.sql.types.StructField, String)]): Long =
    addColumnsWith(s, table, cols.map { case (f, d) => (f, Some(d)) })

  /** Compaction THROUGH the log: stage the current snapshot rewritten at a
    * byte-derived target file count (128 MiB target, same recipe as
    * q44_compaction), overwrite-commit. Content-invariant by construction;
    * concurrent readers of older versions are untouched. An INDEXED table
    * (every manifest entry carries stats on one column) is re-clustered
    * and re-indexed on that column — compaction must never downgrade a
    * table's manifest-skipping ability. */
  /** Byte-derived compaction file count: 128 MiB target files (the usual
    * parquet sweet spot) — ONE definition, shared by [[compact]] and the
    * op_txn_commit assertion that predicts its outcome. */
  def compactionTarget(bytes: Long): Int = {
    val targetBytes = 128L * 1024 * 1024
    math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
  }

  private def liveBytes(s: SparkSession, table: String, v: Long): Long =
    liveFiles(s, table, v).map { rel =>
      val p = new Path(pathFor(table, rel))
      fs(s, p).getFileStatus(p).getLen
    }.sum

  def compact(s: SparkSession, table: String): Long =
    compactResolving(s, table).version

  /** [[compact]] through [[commitResolving]]: the rewrite's read/remove
    * set is the base's ENTIRE entry list, so an interleaved append —
    * disjoint by construction — REBASES (the appended files ride the
    * refreshed manifest uncompacted, zero recompute), while any writer
    * that removed a base file or added tombstones forces the one honest
    * recompute. On a live 100 TB table this is the difference between
    * "OPTIMIZE coexists with ingest" and "OPTIMIZE never wins the CAS".
    * `onWork` is the spec's interleave hook. */
  private[graft] def compactResolving(s: SparkSession, table: String,
      onWork: Long => Unit = _ => ()): CommitOutcome = {
    var lastStaged: Seq[String] = Nil
    commitResolving(s, table) { base =>
      // a RECOMPUTE abandons the previous attempt's staged files —
      // drop them now instead of leaving vacuum garbage
      dropStaged(s, table, lastStaged)
      onWork(base)
      val m = manifest(s, table, base)
      val target = compactionTarget(liveBytes(s, table, base))
      val snap = snapshot(s, table, base)
      // the snapshot carries LOGICAL names and every file is rewritten,
      // so the new files are staged under them: a column-mapped table
      // drops its mapping (and its index headers turn logical), which
      // makes it bloomable and reindexable again and returns its SQL
      // reads to the DSv2 scan; on an unmapped table both are identity
      val (logIdx, logStrIdx) = logicalIndexCols(m)
      val mapped = hasMappedSchema(m.schema)
      // re-cluster on the integral index columns (string stats
      // re-measure from the new layout regardless — compaction must
      // never downgrade EITHER kind of manifest-skipping ability)
      val lines =
        if (logIdx.nonEmpty)
          stageIndexed(s, table,
            snap.repartitionByRange(target, logIdx.map(idxExpr): _*)
              .sortWithinPartitions(logIdx.map(idxExpr): _*),
            logIdx, logStrIdx)
        else if (logStrIdx.nonEmpty)
          stageIndexed(s, table, snap.repartitionByRange(target,
              logStrIdx.map(col): _*)
            .sortWithinPartitions(logStrIdx.map(col): _*), Nil, logStrIdx)
        else stage(s, table, snap.repartition(target))
      lastStaged = lines
      val paths = m.entries.map(_.path).toSet
      // the rewrite READ the base through its tombstones and applied
      // them — the new version clears them (deletes = Some(Nil)); bloom
      // sidecars covered only the rewritten files, so they drop too
      // (carrying a fully-stale ref would advertise a bloom that prunes
      // nothing while pinning dead sidecar dirs against vacuum forever)
      Change(lines, paths, paths, op = "compact", deletes = Some(Nil),
        schemaFallback = Some(withMapping(m, snap.schema).json),
        blooms = Some(Nil),
        schema = m.schema.filter(_ => mapped)
          .map(sch => restageStamped(m.schema, unmapped(sch), base + 1).json),
        idxCols = Some(logIdx).filter(_ => mapped),
        strIdxCols = Some(logStrIdx).filter(_ => mapped))
    }
  }

  /** OPTIMIZE-ZORDER through the log: rewrite the current snapshot
    * Z-ORDERED on `cols` (≥2 integral dimensions; the bit-interleaved
    * z-value of q45/op_zorder_manifest) at the byte-derived compaction
    * file count, committed as ONE version whose manifest carries tight
    * per-file bounding boxes in EVERY z dimension — the layout that
    * makes multi-column manifest skipping bite. Adopts `cols` as the
    * table's integral index header (clustering-spec evolution + the
    * rewrite that realizes it, in one op); pending tombstones are
    * APPLIED by the rewrite (it reads through snapshot), so the new
    * version is clean. Cols are LOGICAL names; staging and stats land
    * under the physical twins on mapped tables. */
  def zorder(s: SparkSession, table: String, cols: Seq[String],
      files: Int = 0): Long =
    zorderResolving(s, table, cols, files).version

  /** [[zorder]] through [[commitResolving]] — same conflict algebra as
    * [[compactResolving]] (read/remove set = every base entry, so
    * interleaved appends rebase for free; the appended files simply miss
    * this z-layout round and carry whatever stats they were staged
    * with — conservative for the new index header, never wrong). */
  private[graft] def zorderResolving(s: SparkSession, table: String,
      cols: Seq[String], files: Int = 0,
      onWork: Long => Unit = _ => ()): CommitOutcome = {
    require(cols.size >= 2,
      "z-order needs >= 2 dimensions (one dimension is plain " +
        "recluster + compact)")
    var lastStaged: Seq[String] = Nil
    commitResolving(s, table) { base =>
      dropStaged(s, table, lastStaged)
      onWork(base)
      val m = manifest(s, table, base)
      val snap = snapshot(s, table, base)
      // byte-derived file count by default (the 128 MiB compaction
      // target); an explicit `files` overrides — layout tuning, and the
      // only way a small test table gets a multi-file z-layout
      val target =
        if (files > 0) files else compactionTarget(liveBytes(s, table, base))
      val b = snap.agg(
        cols.flatMap(c => Seq(min(col(c)).cast("long"),
          max(col(c)).cast("long"))).head,
        cols.flatMap(c => Seq(min(col(c)).cast("long"),
          max(col(c)).cast("long"))).tail: _*).collect()(0)
      val dims = cols.zipWithIndex.map { case (c, i) =>
        require(!b.isNullAt(2 * i) && !b.isNullAt(2 * i + 1),
          s"z-order dimension '$c' is all-NULL — nothing to interleave")
        (col(c), b.getLong(2 * i), b.getLong(2 * i + 1))
      }
      val clustered = snap.withColumn("__z", ZOrder.zValue(dims))
        .repartitionByRange(target, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
      val pm = physMap(m)
      val physCols = cols.map(c => pm.getOrElse(c, c))
      val lines = stageIndexed(s, table, toPhysical(clustered, m),
        physCols, m.strIdxCols)
      lastStaged = lines
      val paths = m.entries.map(_.path).toSet
      Change(lines, paths, paths, op = "zorder", deletes = Some(Nil),
        idxCols = Some(physCols),
        schemaFallback = Some(withMapping(m, snap.schema).json),
        blooms = Some(Nil)) // every covered file was rewritten
    }
  }

  /** PARTIAL compaction — `OPTIMIZE … WHERE` for the hot region: merge
    * only the files whose manifest key box on `c` intersects
    * [lo, hi], carrying every other entry line VERBATIM. On a 100 TB
    * table where a merge-per-batch stream fragments one key region,
    * full [[compact]] rewrites the cold 99% for nothing; this rewrites
    * O(hot region) and leaves the rest untouched — the Delta/Iceberg
    * `OPTIMIZE WHERE` shape. Selection is stat-driven and
    * CONSERVATIVE in the cheap direction: a file without stats on `c`
    * is never compacted (compaction is an optimization; correctness
    * never depends on it). Pending merge-on-read tombstones compose:
    * the rewrite reads its files THROUGH the anti-join (dead keys drop
    * out) and the fresh files' seq escapes the tombstones, while kept
    * files keep paying the anti-join until their own rewrite — the
    * standard sequenced-delete contract. */
  def compactRange(s: SparkSession, table: String, c: String,
      lo: Long, hi: Long): Long =
    compactRangeResolving(s, table, c, lo, hi).version

  /** The no-op outcome of a maintenance call that found nothing to do
    * (≤1 file in range, ≤1 tombstone): the current version, zero
    * conflict traffic. */
  private object NothingToDo extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  /** [[compactRange]] through [[commitResolving]]: the read/remove set
    * is exactly the in-range `touch` files, so EVERYTHING else —
    * appends, and even rewrites of out-of-range files — rebases with
    * zero recompute; only a writer that removed a touched file or added
    * tombstones (rewritten rows would escape them) re-runs the rewrite
    * against the new base. */
  private[graft] def compactRangeResolving(s: SparkSession, table: String,
      c: String, lo: Long, hi: Long,
      onWork: Long => Unit = _ => ()): CommitOutcome = {
    var lastStaged: Seq[String] = Nil
    try commitResolving(s, table) { base =>
      dropStaged(s, table, lastStaged)
      onWork(base)
      val m = manifest(s, table, base)
      val pc = physMap(m).getOrElse(c, c)
      // the empty-range sentinel (an all-NULL file records lo > hi)
      // never intersects a value box — ManifestPrune's guard too
      val (touch, keep) = m.entries.partition(e =>
        e.stats.find(_.col == pc).exists(st =>
          st.lo <= st.hi && st.lo <= hi && st.hi >= lo))
      if (touch.size <= 1) throw NothingToDo // nothing to merge
      val df = readEntries(s, table, m, touch)
      val target =
        compactionTarget(touch.map(e => math.max(e.bytes, 0L)).sum)
      val clustered = df.repartitionByRange(target, col(c))
        .sortWithinPartitions(col(c))
      val lines =
        if (m.idxCols.nonEmpty || m.strIdxCols.nonEmpty)
          stageIndexed(s, table, toPhysical(clustered, m), m.idxCols,
            m.strIdxCols).filter(hasStats)
        else stage(s, table, toPhysical(clustered, m))
      // a fully-tombstoned region + empty keep set must still commit a
      // readable (schema-carrying) version
      val lines2 =
        if (lines.nonEmpty || keep.nonEmpty) lines
        else stageEmpty(s, table, toPhysical(df, m).schema)
      lastStaged = lines2
      val paths = touch.map(_.path).toSet
      Change(lines2, paths, paths, op = "compact_range",
        metrics = Seq("touched" -> touch.size.toLong,
          "untouched" -> keep.size.toLong,
          "rewritten" -> lines2.size.toLong))
    } catch {
      case NothingToDo =>
        CommitOutcome(currentVersion(s, table), 0, 0)
    }
  }

  /** AGE-based retention (the Iceberg `expire_snapshots` shape):
    * vacuum every version whose commit timestamp is older than
    * `cutoffMillis`, always keeping the newest version — and, via the
    * underlying [[vacuum]] rules, every tagged / branch-pinned one.
    * Count-based vacuum stays the one primitive: the cutoff resolves
    * to the smallest retain window covering every newer-than-cutoff
    * version (commit timestamps are monotonized, so the newest-N
    * window and the newer-than-cutoff set coincide). */
  def expireSnapshots(s: SparkSession, table: String, cutoffMillis: Long,
      pinned: Set[Long] = Set.empty): Unit = {
    // newest-first with early stop (versionAt's walk): timestamps are
    // monotonized per commit order, so the first version with a REAL
    // ts at-or-before the cutoff proves everything below it older too
    // — including pre-#ts legacy manifests (ts −1), which were
    // committed earlier by construction. A −1 encountered BEFORE any
    // provably-old version counts as "newer" — the conservative
    // direction: a table whose history can't prove its age expires
    // NOTHING. Work is O(retained suffix), not O(all versions).
    val newer = versions(s, table).reverse.iterator
      .map(v => manifestHeader(s, table, v)(tsOf))
      .takeWhile(ts => ts > cutoffMillis || ts < 0)
      .size
    vacuum(s, table, math.max(1, newer), pinned)
  }

  /** Retention: keep the newest `retain` versions; delete every data file
    * referenced ONLY by older versions, then the old manifests themselves.
    * Orphaned staging dirs (crashed writers) die here too. The barrier any
    * pinned reader must respect: versions below the cutoff are GONE. */
  def vacuum(s: SparkSession, table: String, retain: Int = 1,
      pinned: Set[Long] = Set.empty): Unit = {
    vacuumImpl(s, table, retain, pinned, dry = false); ()
  }

  /** DRY-RUN vacuum — everything `vacuum(retain)` WOULD remove, with
    * nothing touched: (dead manifest versions, dead data-dir files
    * table-relative, dead change-feed files). Computed with the SAME
    * keep sets as the real sweep (tags, caller pins, branch refs, MoR
    * tombstones, bloom dirs, cdc refs), so preview-then-vacuum deletes
    * exactly the previewed set barring concurrent commits — the
    * blast-radius check an operator runs before advancing retention on
    * a 100 TB table. (Crash-debris `.tmp-` stages are swept by the real
    * vacuum but not listed here: they are never committed data.) */
  def vacuumPreview(s: SparkSession, table: String, retain: Int = 1,
      pinned: Set[Long] = Set.empty): (Seq[Long], Seq[String], Seq[String]) =
    vacuumImpl(s, table, retain, pinned, dry = true)

  private def vacuumImpl(s: SparkSession, table: String, retain: Int,
      pinned: Set[Long], dry: Boolean)
      : (Seq[Long], Seq[String], Seq[String]) = {
    val vs = versions(s, table)
    // TAGGED versions are pinned OUT of retention entirely: their
    // manifests and files survive however far the window advances —
    // that durability is what a tag is for. `pinned` joins them for
    // caller-supplied pins (a branch lineage's branch-point version,
    // which rebase must always be able to diff against).
    val tagged = tags(s, table).map(_._2).toSet ++ pinned
    val (deadCand, newest) = vs.splitAt(math.max(0, vs.size - retain))
    val dead = deadCand.filterNot(tagged)
    val live = deadCand.filter(tagged) ++ newest
    // a retained version's files include its merge-on-read TOMBSTONES:
    // they live under data/ like any staged file, and deleting one would
    // silently resurrect deleted rows. (One parsed manifest per retained
    // version covers both facets.)
    val retained = live.map(manifest(s, table, _))
    // BRANCHES shield like tags do: a live branch's manifests reference
    // parent files by absolute path, and the parent's retention window
    // advancing must never pull data out from under an open branch.
    // Strip the table prefix back to the relative form the keep-set
    // speaks; refs into the branch's OWN dir are outside the parent's
    // data listing anyway.
    val branchRefs = branches(s, table).map(_._1).flatMap { b =>
      val bd = branchDir(s, table, b)
      versions(s, bd).map(manifest(s, bd, _))
    }
    def rel(p: String): Option[String] =
      if (p.startsWith(s"$table/data/")) Some(p.drop(table.length + 1))
      else None
    // Absolute SELF-references (a pre-fix fastforward manifest, or a
    // restore that propagated one) fold back to the relative form the
    // on-disk sweep speaks — without this, the parent's own retained
    // files would never match the listing and be swept as orphans.
    def relOrSelf(p: String): String = rel(p).getOrElse(p)
    val keep = (retained
      .flatMap(m => (m.liveFiles ++ m.deletes.map(_._1)).map(relOrSelf)) ++
      branchRefs.flatMap(m =>
        (m.liveFiles ++ m.deletes.map(_._1)).flatMap(rel))).toSet
    // bloom sidecars are whole directories of parquet — keep every file
    // under a retained version's referenced bloom dir
    val keepDirs = (retained.flatMap(_.blooms.map(b => relOrSelf(b.dir))) ++
      branchRefs.flatMap(_.blooms.map(b => rel(b.dir)).flatten)).toSet
    val dataDir = new Path(table, "data")
    val f = fs(s, dataDir)
    // dead manifests go FIRST: if the vacuum crashes mid-way, a vacuumed
    // version must already fail cleanly at manifest resolution — never
    // resolve and then hit missing files mid-scan. (The reverse order
    // would leave that window open; files orphaned by a crash here are
    // collected by the next vacuum, whose keep-set excludes them.)
    if (!dry) {
      dead.foreach(v => f.delete(manifestPath(table, v), false))
      // a crashed writer's staged log files — every LogFile publish of
      // this table stages here (vacuum implies no writer is mid-commit,
      // same contract as every public format)
      f.listStatus(logDir(table)).toSeq.map(_.getPath)
        .filter(_.getName.startsWith(".tmp-"))
        .foreach(p => f.delete(p, false))
    }
    // every staged file on disk, table-relative. A shallow CLONE that
    // never staged locally has no data dir yet — and its absolute
    // source-table references are never in this listing, so vacuuming a
    // clone can never delete the source's files
    if (!f.exists(dataDir)) return (dead, Nil, Nil)
    val onDisk = f.listStatus(dataDir).toSeq.filter(_.isDirectory).flatMap { d =>
      f.listStatus(d.getPath).toSeq.map(st =>
        s"data/${d.getPath.getName}/${st.getPath.getName}")
    }
    val deadFiles = onDisk.filterNot(rel => keep(rel) ||
      keepDirs.exists(d => rel.startsWith(d + "/")))
    if (!dry) {
      deadFiles.foreach(rel => f.delete(new Path(s"$table/$rel"), false))
      // drop now-empty uuid dirs
      f.listStatus(dataDir).toSeq.filter(_.isDirectory)
        .filter(d => f.listStatus(d.getPath).isEmpty)
        .foreach(d => f.delete(d.getPath, false))
    }
    // change-feed files are manifest-referenced (`#cdc=`) like data
    // files: a vacuumed version's feed goes with its manifest (retention
    // bounds the feed exactly as it bounds time travel), and the orphan
    // from a crashed overwriteCdc commit is collected here too. The
    // sweep deletes only what is PROVABLY dead: unreferenced files whose
    // version prefix names a vacuumed (or never-committed) version, and
    // crashed tmp stages. An unreferenced file of a RETAINED version —
    // a feed published before `#cdc=` headers existed — is KEPT: the
    // conservative direction, never destroy committed data on upgrade.
    val cdcDir = new Path(table, "_cdc")
    val deadCdc =
      if (!f.exists(cdcDir)) Nil
      else {
        val keepCdc = retained.flatMap(_.cdcRefs).toSet
        val liveVs = live.toSet
        def deadVersionFile(name: String): Boolean =
          name.startsWith("v") && name.endsWith(".parquet") && {
            val v = name.drop(1).takeWhile(_.isDigit)
            v.nonEmpty && !liveVs.contains(v.toLong)
          }
        f.listStatus(cdcDir).toSeq.map(_.getPath)
          .filter(p => p.getName.startsWith(".tmp-") ||
            deadVersionFile(p.getName))
          .filterNot(p => keepCdc(s"_cdc/${p.getName}"))
      }
    if (!dry) deadCdc.foreach(p => f.delete(p, true))
    (dead, deadFiles,
      deadCdc.filterNot(_.getName.startsWith(".tmp-"))
        .map(p => s"_cdc/${p.getName}"))
  }

  private def freshDir(name: String): String = {
    val dir = graft.Fs.scratch("graft_txn", name)
    graft.Fs.deleteRecursively(dir)
    dir
  }

  private def ordersSlice(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice").cast(D12).as("price"))

  private def statusAgg(df: DataFrame, src: String): DataFrame =
    df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("total"))
      .withColumn("src", lit(src))

  /** op_txn_commit: the snapshot-isolation contract, end to end. A
    * fragmented table is committed at v0 and a reader resolves (pins) that
    * snapshot. THEN two commits land: a compaction (v1, content-invariant)
    * and an append of a deterministic delta (v2, content-changing). The
    * output aggregates BOTH the pinned reader and the latest snapshot —
    * computed after all commits:
    *
    *   - the pinned reader must hash to the BASE content (had it seen v2's
    *     files — or v1's half-written rewrite in the directory-scan world —
    *     the delta/dup rows would red the row),
    *   - the latest snapshot must hash to base+delta,
    *   - `txn_ok` asserts the mechanics: compaction reduced the live-file
    *     count, v0's files are still on disk (pinned readers stay valid
    *     until vacuum), and the log holds exactly versions 0,1,2.
    */
  def txnCommit(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("txn_orders")
    val base = ordersSlice(s, d)
    val v0 = create(s, t, base.repartition(16))
    val reader = snapshot(s, t, v0) // pinned BEFORE the commits below
    val v0Files = liveFiles(s, t, v0)
    val v1 = compact(s, t)
    val delta = base.filter(pmod(col("o_orderkey"), lit(97)) === 0)
    append(s, t, delta)
    val fsys = fs(s, new Path(t))
    // compaction lands exactly the byte-derived target count (THE SAME
    // compactionTarget helper compact uses, so the assertion holds at ANY
    // scale factor — once the slice outgrows 16 x 128 MiB a strict
    // file-count drop would be the wrong expectation)
    val target = compactionTarget(liveBytes(s, t, v0))
    val ok = liveFiles(s, t, v1).size == target &&
      v0Files.forall(rel => fsys.exists(new Path(s"$t/$rel"))) &&
      versions(s, t) == Seq(0L, 1L, 2L)
    statusAgg(reader, "v0_reader")
      .unionByName(statusAgg(snapshot(s, t), "latest"))
      .withColumn("txn_ok", lit(ok))
  }

  /** op_vacuum: the other half of the maintenance story — compaction keeps
    * a table scannable, vacuum keeps it from growing forever. v0
    * (fragmented) is compacted to v1, then vacuum(retain=1) runs. Checked:
    * the latest snapshot still hashes to the base content, v0's
    * superseded files are physically gone, v1's files all survive, and a
    * read of the vacuumed v0 fails CLEANLY (missing manifest — an error,
    * not silently wrong data). */
  def vacuumTable(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("vacuum_orders")
    val base = ordersSlice(s, d)
    val v0 = create(s, t, base.repartition(16))
    val v0Files = liveFiles(s, t, v0)
    val v1 = compact(s, t)
    // the DRY-RUN must predict the sweep exactly and touch nothing:
    // the preview's dead set is precisely what the real vacuum removes
    val (pm, pf, _) = vacuumPreview(s, t, retain = 1)
    val fsys = fs(s, new Path(t))
    val previewInert = versions(s, t) == Seq(v0, v1) &&
      pf.forall(rel => fsys.exists(new Path(s"$t/$rel")))
    vacuum(s, t, retain = 1)
    val v1Files = liveFiles(s, t, v1)
    val oldGone = v0Files.filterNot(v1Files.contains)
      .forall(rel => !fsys.exists(new Path(s"$t/$rel")))
    val latestIntact = v1Files.forall(rel => fsys.exists(new Path(s"$t/$rel")))
    val oldReadFails =
      try { snapshot(s, t, v0); false }
      catch { case _: IllegalArgumentException => true }
    // the preview also lists swept _SUCCESS markers (unreferenced by
    // any manifest, collected like any orphan) — the exactness check
    // compares the DATA files
    val previewExact = pm == Seq(v0) &&
      pf.filter(_.endsWith(".parquet")).toSet ==
        v0Files.filterNot(v1Files.contains).toSet &&
      pf.forall(rel => !fsys.exists(new Path(s"$t/$rel")))
    statusAgg(snapshot(s, t), "latest")
      .withColumn("vacuum_ok", lit(oldGone && latestIntact &&
        oldReadFails && previewInert && previewExact))
  }

  /** op_table_history: the audit trail as a checked query — every commit
    * kind exercised once on a fixed synthetic table (data-independent so
    * file counts are deterministic at ANY scale factor), then the history
    * read back from the manifests alone: (version, operation, live-file
    * count). No wall-clock timestamps — they would not be replayable; a
    * production log would add them as informational metadata. Oracle =
    * the literal expected trail. */
  def tableHistory(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("history_table")
    import s.implicits._
    val df = s.range(1000).select(col("id").as("k"),
      (col("id") % 7).cast("long").as("v"))
    commit(s, t, stage(s, t, df.repartition(8)), -1L, op = "create")
    compact(s, t)                                    // 1000 tiny rows -> 1 file
    append(s, t, df.filter(col("k") < 100).repartition(2))
    overwrite(s, t, df.repartition(2))
    history(s, t).toDF("version", "op", "n_files")
  }

  /** op_txn_checkpoint: log checkpointing as a checked query. A fixed
    * synthetic table takes six commits (every op kind); the log is
    * checkpointed after the fourth, then two more land. The history read
    * must then cost ONE checkpoint read plus the two tail manifests —
    * never the six reads a full replay costs (O(versions) driver work
    * forever on a long-lived table is what checkpointing exists to
    * close). Hashed output = the literal audit trail (identical to the
    * checkpoint-free replay); `ckpt_ok` asserts the measured read count.
    */
  def txnCheckpoint(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("ckpt_table")
    val s2 = s
    import s2.implicits._
    val df = s.range(1000).select(col("id").as("k"),
      (col("id") % 7).cast("long").as("v"))
    commit(s, t, stage(s, t, df.repartition(8)), -1L, op = "create")
    compact(s, t)                                    // v1: 1 file
    append(s, t, df.filter(col("k") < 100).repartition(2)) // v2: 3 files
    overwrite(s, t, df.repartition(2))               // v3: 2 files
    checkpoint(s, t)                                 // summarizes 0..3
    append(s, t, df.filter(col("k") < 50).repartition(1))  // v4: 3 files
    overwrite(s, t, df.repartition(4))               // v5: 4 files
    val before = logReads.get()
    val trail = history(s, t)
    val reads = logReads.get() - before
    trail.toDF("version", "op", "n_files")
      .withColumn("ckpt_ok", lit(reads == 3L))
  }

  /** op_txn_race: optimistic concurrency as a CHECKED query, not just a
    * spec — four writers race disjoint appends against the same table,
    * each retrying through the commit CAS when it loses a version. The
    * hashed output is the final per-group row count (base 200/group +
    * 4 writers × 20/group = 280, a literal at any SF — the data is
    * synthetic); `race_ok` asserts the log landed exactly versions 0..4
    * with every commit recorded as an append. A lost update (one writer
    * clobbering another) would red the counts; a broken CAS would red
    * the version trail. */
  def txnRace(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("race_table")
    val base = s.range(1000).select(col("id").as("k"),
      pmod(col("id"), lit(5)).cast("long").as("grp"))
    create(s, t, base)
    val writers = (1 to 4).map { i =>
      new Thread(() => {
        val staged = stage(s, t, s.range(100)
          .select((col("id") + i * 100000L).as("k"),
            pmod(col("id"), lit(5)).cast("long").as("grp")))
        var done = false
        while (!done) {
          val cur = currentVersion(s, t)
          try {
            commit(s, t, liveEntries(s, t, cur).map(render) ++ staged,
              cur, op = "append")
            done = true
          } catch {
            case _: ConcurrentModificationException => () // re-read, retry
          }
        }
      })
    }
    writers.foreach(_.start())
    writers.foreach(_.join())
    val ok = versions(s, t) == (0L to 4L) &&
      history(s, t).drop(1).forall(_._2 == "append")
    snapshot(s, t).groupBy(col("grp"))
      .agg(count(lit(1)).as("n"))
      .withColumn("race_ok", lit(ok))
  }

  /** op_txn_race2: FILE-LEVEL conflict resolution as a checked query —
    * [[commitResolving]]'s accounting under real thread races, the
    * concurrency model a 1000-writer table needs (op_txn_race proves
    * the raw CAS; this proves losers don't REDO WORK unless files truly
    * overlap). Phase 1: four writers race from the same base version —
    * two appends (disjoint keyspaces) and two rewrites of
    * NON-overlapping file sets (drop k%3 over [0,1000), drop k%5 over
    * [2000,3000)); a barrier aligns all four on one base so every CAS
    * loss is real. None touches another's files ⇒ every loss resolves
    * as a REBASE: zero recomputes, no data re-read or re-written.
    * Phase 2: two writers rewrite the SAME file (drop k%7 vs k%11 over
    * [3000,3500)), aligned the same way; the loser must detect the
    * true overlap and RECOMPUTE against the winner's output, composing
    * both filters — exactly one recompute. Hashed output = the final
    * table (all rules composed — synthetic data, a pure literal at any
    * SF); `race2_ok` asserts the retry accounting and the audit trail. */
  def txnRace2(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("race2_table")
    val base = s.range(4000).select(col("id").as("k"),
      pmod(col("id"), lit(1000)).cast("long").as("v"))
    commit(s, t, stageIndexed(s, t,
      clusterExact(s, base, "k", 0L, 3999L, 8)
        .sortWithinPartitions(col("k")), "k"),
      expected = -1L, op = "create", schemaJson = base.schema.json)

    def run(writers: Seq[Long => Change]): Seq[CommitOutcome] = {
      // the barrier aligns every writer's FIRST work() on the same base
      // version, so each CAS loss in the round is a real race, not
      // accidental serialization; recompute calls skip it
      val barrier = new java.util.concurrent.CyclicBarrier(writers.size)
      val out = new Array[CommitOutcome](writers.size)
      val threads = writers.zipWithIndex.map { case (w, i) =>
        new Thread(() => {
          var first = true
          out(i) = commitResolving(s, t) { b =>
            if (first) { barrier.await(); first = false }
            w(b)
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      out.toSeq
    }
    def appender(offset: Long): Long => Change = _ =>
      Change(stageIndexed(s, t, s.range(100)
          .select((col("id") + offset).as("k"),
            pmod(col("id"), lit(1000)).cast("long").as("v"))
          .repartition(1).sortWithinPartitions(col("k")), "k")
          .filter(_.contains('\t')),
        Set.empty, Set.empty, op = "append")
    def rewriter(lo: Long, hi: Long, mod: Int): Long => Change = b => {
      val m = manifest(s, t, b)
      val touched = m.entries.filter(_.statFor("k").exists {
        case (fLo, fHi) => fLo <= fHi && fHi >= lo && fLo <= hi })
      val kept = readEntries(s, t, m, touched)
        .filter(!(pmod(col("k"), lit(mod)) === 0 &&
          col("k") >= lo && col("k") <= hi))
      Change(stageIndexed(s, t,
          kept.repartition(1).sortWithinPartitions(col("k")), "k")
          .filter(_.contains('\t')),
        removed = touched.map(_.path).toSet,
        readSet = touched.map(_.path).toSet, op = "rewrite")
    }
    val p1 = run(Seq(appender(10000L), appender(20000L),
      rewriter(0L, 999L, 3), rewriter(2000L, 2999L, 5)))
    val p2 = run(Seq(rewriter(3000L, 3499L, 7), rewriter(3000L, 3499L, 11)))
    val trailOps = history(s, t).map(_._2)
    val ok = p1.map(_.recomputes).sum == 0 &&
      p1.map(_.rebases).sum >= 3 && // 4 writers, one base: ≥3 CAS losses
      p2.map(_.recomputes).sum == 1 &&
      versions(s, t) == (0L to 6L) &&
      trailOps.head == "create" &&
      trailOps.count(_ == "append") == 2 && trailOps.count(_ == "rewrite") == 4
    snapshot(s, t).select(col("k"), col("v"))
      .withColumn("race2_ok", lit(ok))
  }

  /** Signed change rows between two committed versions: weight +1 for
    * arriving rows (insert / update_post), −1 for departing ones (delete
    * / update_pre). Any LINEAR aggregate summed over v0 ∪ the signed
    * feeds telescopes to the latest version — incremental view
    * maintenance, the consumption pattern the change feed exists for.
    * One co-partitioned full-outer key join; payloads compared null-safe
    * as a struct. */
  def cdcSigned(s: SparkSession, table: String, vA: Long, vB: Long,
                key: String): DataFrame =
    signedDiff(snapshot(s, table, vA), snapshot(s, table, vB), key)

  /** [[signedDiff]] over driver-held rows of one layout, keyed on field
    * `k`: each output row is a row of `a` signed −1 or of `b` signed +1,
    * by the same full-outer algebra — a key only in `a` deletes, only in
    * `b` inserts, in both an update pair unless the payloads are equal
    * (null-safe, as Row equality compares them); a NULL key matches
    * nothing. */
  private def signedDiffRows(a: Seq[Row], b: Seq[Row], k: Int)
      : Seq[(Row, Int)] = {
    def payload(r: Row) = r.toSeq.patch(k, Nil, 1)
    val (aNull, aKeyed) = a.partition(_.isNullAt(k))
    val (bNull, bKeyed) = b.partition(_.isNullAt(k))
    val aBy = aKeyed.groupBy(_.get(k))
    val bBy = bKeyed.groupBy(_.get(k))
    val both = (aBy.keySet ++ bBy.keySet).toSeq.flatMap { key =>
      (aBy.getOrElse(key, Nil), bBy.getOrElse(key, Nil)) match {
        case (as, Nil) => as.map((_, -1))
        case (Nil, bs) => bs.map((_, 1))
        case (as, bs) => for {
          ra <- as; rb <- bs
          if Row.fromSeq(payload(ra)) != Row.fromSeq(payload(rb))
          out <- Seq((ra, -1), (rb, 1))
        } yield out
      }
    }
    aNull.map((_, -1)) ++ bNull.map((_, 1)) ++ both
  }

  /** The signed diff of two arbitrary keyed frames — [[cdcSigned]]'s
    * core, also run by [[overwriteCdc]] BEFORE its commit (old = the
    * current snapshot, new = the just-staged files) so the feed can be
    * referenced from the same manifest write that publishes the data. */
  private def signedDiff(a: DataFrame, b: DataFrame, key: String)
      : DataFrame = {
    // the feed's sign column is named `w` — ANY input column with that
    // name (key or payload alike: a `w` key would emit two `w` columns
    // in the final select) makes the feed schema ambiguous; refuse
    // loudly rather than publish an unreadable feed
    require(!a.columns.contains("w"),
      "change feed cannot be published for a table with a column " +
        "named 'w' (reserved for the feed's sign column)")
    val cols = a.columns.filterNot(_ == key).toSeq
    def pay(side: String) = struct(cols.map(c => col(s"$side.$c")): _*)
    // ONE pass over ONE join: each row becomes an array of signed change
    // structs and explodes. Unchanged rows fall through the when-chain to
    // NULL, which explode drops — no second scan of the join (a union of
    // two filtered reads would compute the fact-fact join twice at scale).
    // Side presence is detected via non-nullable markers, NOT the key
    // columns — a row whose key VALUE is NULL must not read as "absent"
    val wA = struct(lit(-1).as("w") +: cols.map(c => col(s"a.$c").as(c)): _*)
    val wB = struct(lit(1).as("w") +: cols.map(c => col(s"b.$c").as(c)): _*)
    a.withColumn("_in", lit(true)).alias("a")
      .join(b.withColumn("_in", lit(true)).alias("b"),
        col(s"a.$key") === col(s"b.$key"), "full_outer")
      .select(coalesce(col(s"a.$key"), col(s"b.$key")).as(key),
        explode(
          when(col("a._in").isNull, array(wB))
            .when(col("b._in").isNull, array(wA))
            .when(!(pay("a") <=> pay("b")), array(wA, wB))).as("c"))
      .select(col(key) +: col("c.w").as("w") +:
        cols.map(c => col(s"c.$c").as(c)): _*)
  }

  private val D14 = DecimalType(14, 2)

  /** op_incremental_agg: incremental view maintenance over the change
    * feed — the reason a 100 TB pipeline wants CDC at all. The table
    * moves v0 → v1 → v2 under two deterministic change sets
    * (update/delete/insert rules on the key); the downstream per-status
    * aggregate is then computed WITHOUT reading v2: one declarative plan
    * unions v0 (weight +1) with the two signed feeds and sums
    * weight·price — the telescoping fold every incremental consumer
    * runs. Hash-checked against the oracle's DIRECT replay of v2's
    * content: incremental maintenance ≡ recompute, exactly. Prices are
    * normalized to DECIMAL(14,2) at every staging so version payloads
    * compare type-identically and the sums stay exact integers. */
  /** The deterministic order-table change rules shared by
    * [[incrementalAgg]] and the streaming CDC consumer (Streams
    * .streamCdc): update keys %updMod (price+updAmt), delete keys
    * %delMod unless updated, insert key+insOff for keys %insMod. */
  private[graft] def applyOrderChanges(df: DataFrame, updMod: Int,
      updAmt: Int, delMod: Int, insMod: Int, insOff: Long,
      insSt: String): DataFrame = {
    val k = col("o_orderkey")
    df.filter(!(pmod(k, lit(delMod)) === 0 && pmod(k, lit(updMod)) =!= 0))
      .withColumn("price",
        when(pmod(k, lit(updMod)) === 0, col("price") + lit(updAmt))
          .otherwise(col("price")).cast(D14))
      .unionByName(df.filter(pmod(k, lit(insMod)) === 0)
        .select((k + insOff).as("o_orderkey"),
          lit(insSt).as("o_orderstatus"), col("price")))
  }

  /** The D14-normalized orders slice the CDC scenarios run on. */
  private[graft] def ordersSlice14(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(col("o_orderkey"),
      col("o_orderstatus"), col("o_totalprice").cast(D14).as("price"))

  def incrementalAgg(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("incr_orders")
    create(s, t, ordersSlice14(s, d).repartition(4))
    overwrite(s, t, applyOrderChanges(snapshot(s, t, 0), 50, 100, 61, 97, 100000000L, "N"))
    overwrite(s, t, applyOrderChanges(snapshot(s, t, 1), 30, 50, 77, 89, 200000000L, "M"))
    val pick = (df: DataFrame) =>
      df.select(col("o_orderstatus"), col("w"), col("price"))
    pick(snapshot(s, t, 0).withColumn("w", lit(1)))
      .unionByName(pick(cdcSigned(s, t, 0, 1, "o_orderkey")))
      .unionByName(pick(cdcSigned(s, t, 1, 2, "o_orderkey")))
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("w")).as("n"),
        sum(col("w") * col("price")).cast("double").as("total"))
      .filter(col("n") =!= 0) // a fully-cancelled group matches its absence
  }

  /** op_manifest_skip: manifest-level data skipping — the planning move
    * that makes selective reads on a 100 TB table cheap: the orders slice
    * is range-clustered on o_orderkey and committed with per-file
    * (min,max) key stats in the manifest; a range read then prunes files
    * from the MANIFEST alone (driver-side O(#files) metadata — the
    * skipped files are never listed, opened, or footer-read, unlike
    * parquet row-group stats which require opening every file). The
    * hashed aggregate proves the pruned read returns exactly the full
    * filter's content; `skip_ok` asserts the prune actually dropped
    * files. The range bounds derive from data min/max so the oracle
    * replays them. */
  def manifestSkip(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("skip_orders")
    val base = ordersSlice(s, d)
    val clustered = base.repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
    commit(s, t, stageIndexed(s, t, clustered, "o_orderkey"),
      expected = -1L, op = "create")
    val bounds = base.agg(min("o_orderkey"), max("o_orderkey")).collect()(0)
    val (kmin, kmax) = (bounds.getLong(0), bounds.getLong(1))
    val (lo, hi) = (kmin, kmin + (kmax - kmin) / 8)
    val (snap, scanned, total) = snapshotWhere(s, t,
      col("o_orderkey") >= lo && col("o_orderkey") <= hi)
    snap.agg(count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("total"))
      .withColumn("skip_ok", lit(scanned >= 1 && scanned < total))
  }

  /** op_decimal_skip: manifest skipping on a DECIMAL index column —
    * the money-typed-key case (prices, scores, latencies in cents).
    * The stats choke point floor/ceil-WIDENS decimal boxes (a plain
    * long cast truncates toward zero, so `hi` would exclude a
    * fractional maximum and the full-containment delete verdict would
    * drop a straggler row with the file — the mis-prune worse than no
    * stats); the widened box is a SUPERSET of the file's values, so
    * both the overlap and containment checks stay conservative while
    * fixed-point keys prune like integers. Binary floating point still
    * refuses by name (NaN poisons the min/max box algebra). The hashed
    * aggregate proves the pruned read equals the exact filter over the
    * decimal values — fractional boundary rows included; `skip_ok`
    * asserts files actually dropped. Bounds derive from data min/max
    * so the oracle replays them. */
  def decimalSkip(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("skip_dec")
    val base = ordersSlice(s, d)
    val clustered = base.repartitionByRange(8, col("price"))
      .sortWithinPartitions(col("price"))
    commit(s, t, stageIndexed(s, t, clustered, "price"),
      expected = -1L, op = "create")
    val b = base.agg(floor(min(col("price"))).cast("long"),
      floor(max(col("price"))).cast("long")).collect()(0)
    val (pmin, pmax) = (b.getLong(0), b.getLong(1))
    val (lo, hi) = (pmin, pmin + (pmax - pmin) / 8)
    val (snap, scanned, total) =
      snapshotWhere(s, t, col("price") >= lo && col("price") <= hi)
    snap.agg(count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("total"))
      .withColumn("skip_ok", lit(scanned >= 1 && scanned < total))
  }

  /** op_branch_merge: BRANCH↔BRANCH MERGE ([[mergeBranch]]) as a checked
    * query — the two-diverged-branches case rebase/fastForward refuse.
    * From one clustered parent, branch `dev` appends a %7-shifted slice
    * while branch `exp` file-prunes a DELETE of the middle key range
    * and appends a %11-shifted slice; merging exp INTO dev replays
    * exp's two changes as pure metadata (disjoint file sets: dev only
    * appended), so dev's head = parent − deleted range + both slices
    * with ZERO data read or rewritten. Hashed output = dev's full
    * merged content (every term derived from data min/max, oracle-
    * replayed); `merge_ok` asserts the mechanics: the clean path ran
    * (no `recomputed` metric), one replay commit per exp change, and
    * NEITHER the parent nor exp moved. */
  def branchMerge(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("merge_orders")
    val base = ordersSlice(s, d)
    val clustered = base.repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
    commit(s, t, stageIndexed(s, t, clustered, "o_orderkey"),
      expected = -1L, op = "create", schemaJson = base.schema.json)
    branch(s, t, "dev")
    branch(s, t, "exp")
    val devDir = s"$t/_branches/${branchInfo(s, t, "dev").get.leaf}"
    val expDir = s"$t/_branches/${branchInfo(s, t, "exp").get.leaf}"
    val bounds = base.agg(min("o_orderkey"), max("o_orderkey")).collect()(0)
    val (kmin, kmax) = (bounds.getLong(0), bounds.getLong(1))
    val span = kmax - kmin
    val (lo, hi) =
      (kmin + 3 * (span + 1) / 8, kmin + 5 * (span + 1) / 8 - 1)
    append(s, devDir, base.filter(col("o_orderkey") % 7 === 0)
      .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
        col("o_orderstatus"), col("price")))
    deleteRange(s, expDir, "o_orderkey", lo, hi)
    append(s, expDir, base.filter(col("o_orderkey") % 11 === 0)
      .select((col("o_orderkey") + 200000000L).as("o_orderkey"),
        col("o_orderstatus"), col("price")))
    val expHead = currentVersion(s, expDir)
    val devHead = currentVersion(s, devDir)
    val v = mergeBranch(s, t, "exp", "dev")
    val merged = snapshot(s, devDir, v)
    val ok = v == devHead + 2 && // one replay commit per exp change
      !manifest(s, devDir, v).metrics.contains("recomputed") &&
      (devHead + 1 to v).forall(x => manifest(s, devDir, x).op == "merge") &&
      currentVersion(s, expDir) == expHead && // merge never moves `from`
      currentVersion(s, t) == 0L // nor the parent
    merged.select(col("o_orderkey"), col("o_orderstatus"),
        col("price").cast("double").as("price"))
      .withColumn("merge_ok", lit(ok))
  }

  /** op_txn_bucket: the `bucketN(c)` PARTITION TRANSFORM as a checked
    * query — point-lookup file skipping on a column the table is NOT
    * range-clustered by, with no bloom sidecar: orders are laid out by
    * the 16-ary multiplicative hash bucket of o_orderkey (two buckets
    * per file via [[clusterExact]] — every file's bucket box is tight
    * while its raw KEY box spans the whole keyspace, exactly the
    * situation where range stats prune nothing), committed with stats
    * on the transform, and a point lookup maps its literal to a bucket
    * ([[bucketOf]]) and prunes files from the manifest alone
    * (ManifestPrune's bucket rule, which the DSv2 path shares). Lookup keys
    * derive from data min/max so the oracle replays them; `bucket_ok`
    * asserts the prune dropped files. */
  def txnBucket(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("bucket_orders")
    val base = ordersSlice(s, d)
    val spec = "bucket16(o_orderkey)"
    val withB = base.withColumn("__b", idxExpr(spec))
    val clustered = clusterExact(s, withB, "__b", 0L, 15L, 8).drop("__b")
    commit(s, t, stageIndexed(s, t, clustered, Seq(spec)),
      expected = -1L, op = "create", schemaJson = base.schema.json)
    val bounds = base.agg(min("o_orderkey"), max("o_orderkey")).collect()(0)
    val (kmin, kmax) = (bounds.getLong(0), bounds.getLong(1))
    val (s1, sc1, tot1) = snapshotWhere(s, t, col("o_orderkey") === kmin)
    val (s2, sc2, tot2) = snapshotWhere(s, t, col("o_orderkey") === kmax)
    val ok = sc1 >= 1 && sc1 < tot1 && sc2 >= 1 && sc2 < tot2
    s1.unionByName(s2)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("price").cast("double").as("price"))
      .withColumn("bucket_ok", lit(ok))
  }

  /** op_txn_multi: MULTI-TABLE ATOMIC TRANSACTIONS as a checked query —
    * the pipeline shape [[commitMultiAppend]] exists for: a corpus
    * table and its derived per-batch ledger (the dd_incremental /
    * sim_ann_incremental store pattern) must move TOGETHER, or a crash
    * between two single-table commits leaves "corpus has the batch,
    * ledger doesn't" inconsistent forever. Three batches: the create,
    * a HAPPY transaction (both tables advance in one logical commit),
    * and a CRASHED one — prepared pends + a committed arbiter marker,
    * finalization deliberately skipped — which the next reads complete
    * (recovery-on-read: `versions` finalizes committed pends from the
    * log listing it already does). `multi_ok` asserts the mechanics:
    * both pend files raw-visible before recovery and gone after, both
    * tables at version 2, the happy transaction's landed map, and the
    * ledger hash-identical to a direct per-batch recompute of the
    * corpus batches — derived-store consistency, the whole point.
    * Hashed output = the corpus (the three batches partition orders
    * exactly); the oracle replays it as the full slice. At 100 TB: the
    * transaction costs one pend write + one marker + one rename per
    * table at ANY table size — no data moves twice, readers never
    * block, concurrent plain writers abort an undecided transaction
    * instead of waiting. */
  def txnMulti(s: SparkSession, d: String): DataFrame = {
    val corpus = freshDir("multi_corpus")
    val ledger = freshDir("multi_ledger")
    val src = ordersSlice(s, d)
    val k = col("o_orderkey")
    def batchAgg(df: DataFrame, id: Long): DataFrame =
      df.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("price")).cast(DecimalType(18, 2)).as("total"))
        .select(lit(id).as("batch_id"), col("o_orderstatus"),
          col("n"), col("total"))
    val b0 = src.filter(pmod(k, lit(2)) === 0)
    val b1 = src.filter(pmod(k, lit(4)) === 1)
    val b2 = src.filter(pmod(k, lit(4)) === 3)
    commit(s, corpus, stageIndexed(s, corpus,
      b0.repartitionByRange(4, k).sortWithinPartitions(k), "o_orderkey"),
      expected = -1L, op = "create", schemaJson = src.schema.json)
    commit(s, ledger, stage(s, ledger, batchAgg(b0, 0)), expected = -1L,
      op = "create", schemaJson = batchAgg(b0, 0).schema.json)
    // happy path: ONE logical commit lands batch 1 in both tables
    val landed = commitMultiAppend(s,
      Seq(corpus -> b1, ledger -> batchAgg(b1, 1)))
    // crash window: marker committed, finalization never ran
    val staged2 = stageMulti(s,
      Seq(corpus -> b2, ledger -> batchAgg(b2, 2)))
    val r2 = prepareDecide(s, staged2, finalize = false)
    def rawPends(t: String): Int = {
      val ld = new Path(t, "_log")
      fs(s, ld).listStatus(ld).count(_.getPath.getName.contains(".pend."))
    }
    val pendsBefore = rawPends(corpus) + rawPends(ledger)
    // the next reads COMPLETE the transaction (recovery-on-read)
    val vCorpus = currentVersion(s, corpus)
    val vLedger = currentVersion(s, ledger)
    val pendsAfter = rawPends(corpus) + rawPends(ledger)
    // derived-store consistency: ledger ≡ per-batch recompute of corpus
    def keyOf(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDecimal(3).toPlainString)
    val direct = batchAgg(b0, 0).unionByName(batchAgg(b1, 1))
      .unionByName(batchAgg(b2, 2)).collect().map(keyOf).toSet
    val got = snapshot(s, ledger).collect().map(keyOf).toSet
    val ok = landed == Map(corpus -> 1L, ledger -> 1L) &&
      r2.contains(Map(corpus -> 2L, ledger -> 2L)) &&
      pendsBefore == 2 && pendsAfter == 0 &&
      vCorpus == 2L && vLedger == 2L && got == direct
    snapshot(s, corpus)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("price").cast("double").as("price"))
      .withColumn("multi_ok", lit(ok))
  }

  /** op_txn_default: INITIAL DEFAULTS ([[addColumnsDefault]] — the
    * Iceberg-v3 shape) as a checked query: columns added with a
    * default read the DEFAULT, not NULL, from every pre-add file,
    * while the add itself stays ONE metadata-only manifest write
    * (entry lines byte-identical, asserted — zero files touched at any
    * table size). The scenario drives the fill through every lifecycle
    * edge: a post-add append stores REAL values including REAL NULLs
    * (which must stay NULL — the fill keys on the entry seq, never on
    * NULL-ness), a file-pruned MERGE rewrites some old files (the
    * rewrite MATERIALIZES the defaults for carried-along rows — the
    * subtle case where a naive reader would lose them), and compact()
    * folds everything into stored values with the content
    * hash-invariant across the fold (asserted via one hash-sum pass
    * per side). `def_ok` carries the accounting; the oracle replays
    * the default + change algebra directly. At 100 TB: backfilling a
    * new column's value for existing rows costs one manifest write,
    * not a table rewrite — the single most common schema change a
    * long-lived table sees. */
  def txnDefault(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("default_orders")
    val base = ordersSlice(s, d)
    val k = col("o_orderkey")
    commit(s, t, stageIndexed(s, t,
      base.repartitionByRange(8, k).sortWithinPartitions(k), "o_orderkey"),
      expected = -1L, op = "create", schemaJson = base.schema.json)
    val lines0 = manifest(s, t, 0L).entries.map(render).toSet
    // the add: metadata-only, defaults for every existing row
    val v1 = addColumnsDefault(s, t, Seq(
      (org.apache.spark.sql.types.StructField("src",
        org.apache.spark.sql.types.StringType), "'legacy'"),
      (org.apache.spark.sql.types.StructField("boost", D12),
        "CAST(50 AS DECIMAL(12,2))")))
    val m1 = manifest(s, t, v1)
    val verbatim = m1.entries.map(render).toSet == lines0
    // post-add append: real values, including REAL NULLs in boost
    append(s, t, base.filter(pmod(k, lit(13)) === 0)
      .select((k + 100000000L).as("o_orderkey"), col("o_orderstatus"),
        col("price"), lit("fresh").as("src"),
        when(pmod(k, lit(5)) === 0, lit(null).cast(D12))
          .otherwise(pmod(k, lit(100)).cast(D12)).as("boost")))
    // a file-pruned merge rewrites SOME old files: carried-along old
    // rows must keep reading 'legacy'/50 — now materialized
    val ch = base.filter(pmod(k, lit(10)) === 0)
      .select(k, lit("U").as("o_orderstatus"),
        (col("price") + lit(100).cast(D12)).cast(D12).as("price"),
        lit("legacy").as("src"), lit(50).cast(D12).as("boost"),
        lit("U").as("op"))
    val mr = applyChanges(s, t, ch, "o_orderkey")
    val pruned = mr.untouched > 0
    // compact folds the fill into stored values, content-invariantly
    def hashSum(df: DataFrame): java.math.BigDecimal = df.select(
      sum(xxhash64(col("o_orderkey"), col("o_orderstatus"), col("price"),
        col("src"), col("boost")).cast(DecimalType(38, 0))))
      .collect()(0).getDecimal(0)
    val before = hashSum(snapshot(s, t))
    compact(s, t)
    val converged = hashSum(snapshot(s, t)) == before
    val ok = verbatim && m1.op == "evolve" && pruned && converged
    snapshot(s, t)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("price").cast("double").as("price"), col("src"),
        col("boost").cast("double").as("boost"))
      .withColumn("def_ok", lit(ok))
  }

  /** op_txn_days: PARTITION TRANSFORMS (Iceberg hidden partitioning) as
    * a checked query. The events slice is clustered BY the `days(ts)`
    * transform ([[idxExpr]]) — no day column is ever materialized — and
    * committed with per-file day stats under the `#index=days(ts)`
    * header; a TIMESTAMP-range read ([[snapshotWhere]]) then maps
    * its bounds to day ranges and prunes files from the MANIFEST alone.
    * Without the transform, an event table must pre-materialize a day
    * column to get time pruning; with it, the predicate stays on the
    * base column and the layout knowledge lives in metadata — at 100 TB
    * the difference between "every time-bounded query scans everything"
    * and O(days touched). Range bounds derive from data min/max so the
    * oracle replays them (day arithmetic is integral on both engines);
    * `days_ok` asserts the prune actually dropped files. */
  def txnDays(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("days_events")
    val ev = Tables.events(s, d).select(col("event_id"), col("event_type"),
      col("ts"), col("value").cast(D12).as("value"))
    val b = ev.agg(min("ts"), max("ts")).collect()(0)
    val dMin = epochDayMs(b.getTimestamp(0).getTime)
    val dMax = epochDayMs(b.getTimestamp(1).getTime)
    val clustered = ev.repartitionByRange(8, idxExpr("days(ts)"))
      .sortWithinPartitions(idxExpr("days(ts)"))
    commit(s, t, stageIndexed(s, t, clustered, Seq("days(ts)")),
      expected = -1L, op = "create", schemaJson = ev.schema.json)
    // the first quarter of the day span, [from, until) at day boundaries
    val dCut = dMin + (dMax - dMin) / 4
    val from = new java.sql.Timestamp(dMin * 86400000L)
    val until = new java.sql.Timestamp((dCut + 1L) * 86400000L)
    val (snap, scanned, total) =
      snapshotWhere(s, t, col("ts") >= lit(from) && col("ts") < lit(until))
    snap.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).cast("double").as("sum_value"))
      .withColumn("days_ok", lit(scanned >= 1 && scanned < total))
  }

  /** op_zorder_manifest: z-order clustering MARRIED to the manifest — the
    * full Delta/Iceberg OPTIMIZE-ZORDER story. Orders are clustered by
    * the bit-interleaved z-value of the 16-bit-scaled (o_custkey,
    * order-day) ranks (same recipe as q45_zorder) and committed with
    * per-file (min,max) stats on BOTH dimensions; a two-sided box query
    * then prunes files from the MANIFEST alone — the z-layout is what
    * makes every file's box tight in both dimensions at once, so
    * multi-column metadata skipping actually bites (a one-dimensional
    * sort gives tight boxes in one dimension only). Hashed output = the
    * box aggregate (bounds derived from data min/max, oracle-replayed);
    * `skip_ok` asserts the metadata prune dropped at least half the
    * files. */
  def zorderManifest(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("zorder_manifest")
    val base = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      datediff(col("o_orderdate").cast("date"), lit("1995-01-01")).as("od"),
      col("o_totalprice").cast(D12).as("price"))
    val Seq(cmin, cmax, dmin, dmax) = base
      .agg(min("o_custkey"), max("o_custkey"), min("od"), max("od"))
      .collect()(0).toSeq.map(_.asInstanceOf[Number].longValue)
    val z = ZOrder.zValue(Seq(
      (col("o_custkey"), cmin, cmax), (col("od"), dmin, dmax)))
    val clustered = base.withColumn("z", z)
      .repartitionByRange(8, col("z")).sortWithinPartitions(col("z"))
      .drop("z")
    commit(s, t, stageIndexed(s, t, clustered, Seq("o_custkey", "od")),
      expected = -1L, op = "create")
    // query box: the low quarter of both dimensions (oracle-replayable)
    val (cq, dq) = (cmin + (cmax - cmin) / 4, dmin + (dmax - dmin) / 4)
    val (snap, scanned, total) = snapshotWhere(s, t,
      col("o_custkey") >= cmin && col("o_custkey") <= cq &&
        col("od") >= dmin && col("od") <= dq)
    // the skip bit only asserts that metadata pruning BIT (scanned <
    // total): how many of the 8 boxes a quarter-box query intersects is
    // data-distribution-dependent, so a fixed half-prune bound could flip
    // at an untested SF despite correct behavior (at sf0.001-0.1 the
    // z-layout actually prunes >= half; the hash check pins the content)
    snap.agg(count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("total_price"))
      .withColumn("skip_ok", lit(scanned >= 1 && scanned < total))
  }

  /** op_null_skip: IS NULL pruning from null-count manifest stats. The
    * orders slice gains a nullable `d` column (NULL exactly for keys in
    * the lowest eighth of the keyspace, k%1000 otherwise), range-clustered
    * on o_orderkey into 8 files and committed with stats on BOTH columns
    * — so the nulls concentrate in the file(s) covering the low keys, and
    * every other file records `nulls=0` for `d`. An IS NULL read then
    * prunes from the MANIFEST alone: min/max can never answer IS NULL
    * (they ignore nulls — the reason null counts are a first-class stat
    * in every public manifest format). Hashed output = the aggregate of
    * the null rows (the key rule is oracle-replayable); `skip_ok` asserts
    * the metadata prune dropped files. */
  def nullSkip(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("nullskip_orders")
    val base = ordersSlice(s, d)
    val bounds = base.agg(min("o_orderkey"), max("o_orderkey")).collect()(0)
    val (kmin, kmax) = (bounds.getLong(0), bounds.getLong(1))
    val hi = kmin + (kmax - kmin) / 8
    val k = col("o_orderkey")
    val withD = base.withColumn("d",
      when(k <= hi, lit(null).cast("long")).otherwise(pmod(k, lit(1000))))
    val clustered = withD.repartitionByRange(8, k).sortWithinPartitions(k)
    commit(s, t, stageIndexed(s, t, clustered, Seq("o_orderkey", "d")),
      expected = -1L, op = "create")
    val (snap, scanned, total) = snapshotWhere(s, t, col("d").isNull)
    snap.agg(count(lit(1)).as("n"),
        sum(k).as("sum_k"),
        sum(col("price")).cast("double").as("total"))
      .withColumn("skip_ok", lit(scanned >= 1 && scanned < total))
  }

  /** op_merge_pruned: the file-pruned MERGE as a checked query — the
    * write path a keyed 100 TB table lives on. The orders slice is
    * range-clustered on o_orderkey into 8 indexed files; a batch of
    * changes confined to the LOWEST EIGHTH of the keyspace (price updates
    * for keys %5, inserts at key+1e8 — a key region no existing file's
    * range contains) is merged. The manifest key stats let [[merge]]
    * rewrite only the file(s) covering that eighth: the hashed output is
    * the merged table's full content (oracle replays the latest-wins
    * change set); `merge_ok` asserts ≥ half the files survived untouched
    * AND that every untouched entry's manifest line (path + stats) is
    * carried VERBATIM into the new version. */
  def mergePruned(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("merge_orders")
    val base = ordersSlice(s, d)
    val clustered = base.repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
    commit(s, t, stageIndexed(s, t, clustered, "o_orderkey"),
      expected = -1L, op = "create")
    val bounds = base.agg(min("o_orderkey"), max("o_orderkey")).collect()(0)
    val (kmin, kmax) = (bounds.getLong(0), bounds.getLong(1))
    val hi = kmin + (kmax - kmin) / 8
    val k = col("o_orderkey")
    val low = base.filter(k <= hi)
    // key-unique batch: update keys (≤ data max) and insert keys (+1e8,
    // the keyspace-shift convention documented at cdcRead) are disjoint
    val batch = low.filter(pmod(k, lit(5)) === 0)
      .select(k, lit("U").as("o_orderstatus"),
        (col("price") + lit(100).cast(D12)).cast(D12).as("price"))
      .unionByName(low.filter(pmod(k, lit(7)) === 0)
        .select((k + 100000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), col("price")))
    val before = liveEntries(s, t, 0).map(render)
    val res = merge(s, t, batch, "o_orderkey")
    val after = liveEntries(s, t, res.version).map(render).toSet
    // untouched = lines common to both manifests, carried verbatim
    val verbatim = before.count(after.contains) == res.untouched
    val ok = res.touched >= 1 && res.untouched * 2 >= res.total && verbatim
    snapshot(s, t)
      .select(k, col("o_orderstatus"), col("price").cast("double").as("price"))
      .withColumn("merge_ok", lit(ok))
  }

  /** op_txn_schema_evolve: add-column evolution THROUGH the log. v0 is
    * the 3-column orders slice; v1 appends rows carrying a NEW fourth
    * column (o_orderpriority, keyspace-shifted keys) via [[appendEvolve]]
    * — the widened schema is recorded in the manifest, v0's data files
    * are carried VERBATIM (adding a column costs O(metadata), zero
    * rewrite), and the latest snapshot reads old files' missing column
    * as NULL. Hashed output = the two-generation aggregate (n_prio
    * counts only evolved rows); `evolve_ok` asserts the pre-evolution
    * version still reads with the OLD 3-column schema and that no v0
    * manifest line changed. */
  def schemaEvolve(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("evolve_orders")
    val base = ordersSlice(s, d)
    create(s, t, base.repartition(4))
    val v0Lines = liveEntries(s, t, 0).map(render).toSet
    val delta = Tables.orders(s, d)
      .filter(pmod(col("o_orderkey"), lit(97)) === 0)
      .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice").cast(D12).as("price"),
        col("o_orderpriority").as("prio"))
    val v1 = appendEvolve(s, t, delta)
    val oldOk = snapshot(s, t, 0).columns.toSeq ==
      Seq("o_orderkey", "o_orderstatus", "price")
    val verbatim = v0Lines.subsetOf(liveEntries(s, t, v1).map(render).toSet)
    snapshot(s, t)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("total"),
        count(col("prio")).as("n_prio"))
      .withColumn("evolve_ok", lit(oldOk && verbatim))
  }

  /** op_delete_pruned: the file-pruned DELETE as a checked query — the
    * third leg of the DML triangle (append / merge / delete), and the
    * only one with a METADATA-ONLY fast path. The orders slice is
    * range-clustered on o_orderkey into 8 indexed files at EXPLICIT
    * computed bucket bounds (not `repartitionByRange`, whose bounds come
    * from RDD-id-seeded sampling — file layout would shift with session
    * history, which is exactly the r9 flake: the accounting assertion
    * held in isolation and failed mid-suite). The delete window spans
    * bucket 3 fully and ends mid-bucket on both sides, so by
    * construction — on every run, whatever ran before — bucket 3 DROPS
    * as pure metadata without being read, buckets 2 and 4 straddle and
    * are rewritten with the residual filter, and the rest carry
    * verbatim. Hashed output = the surviving rows (the range is
    * oracle-replayable); `delete_ok` asserts the three-way accounting. */
  def deletePruned(s: SparkSession, d: String): DataFrame =
    deletePrunedChecked(s, d)._1

  /** Cluster `df` into exactly `n` partitions at EXPLICIT computed
    * bucket bounds: partition i holds the rows with
    * floor((key − kmin)·n / (span+1)) == i — a pure function of the
    * data. `repartitionByRange` derives its bounds from RDD-id-seeded
    * SAMPLING, so the produced file layout shifts with session history;
    * scenarios whose assertions depend on which keys share a file must
    * cluster through this exact partitioner instead. Null keys are not
    * expected (the scenario keys are non-null primary keys). */
  private[graft] def clusterExact(s: SparkSession, df: DataFrame,
      key: String, kmin: Long, span: Long, n: Int): DataFrame = {
    val schema = df.schema
    val ki = schema.fieldIndex(key)
    val rdd = df.rdd.keyBy(_.getLong(ki))
      .partitionBy(new org.apache.spark.Partitioner {
        def numPartitions: Int = n
        def getPartition(k: Any): Int = {
          val i = (k.asInstanceOf[Long] - kmin) * n / (span + 1)
          math.min(math.max(i, 0L), (n - 1).toLong).toInt
        }
      })
      .map(_._2)
    s.createDataFrame(rdd, schema)
  }

  /** The op_delete_pruned scenario with its [[DeleteResult]] exposed, so
    * TxnSpec can assert the accounting is IDENTICAL across runs in one
    * session (the r9 flake regression test). */
  private[graft] def deletePrunedChecked(s: SparkSession, d: String)
      : (DataFrame, DeleteResult) = {
    val t = freshDir("delete_orders")
    val base = ordersSlice(s, d)
    val k = col("o_orderkey")
    val bounds = base.agg(min("o_orderkey"), max("o_orderkey")).collect()(0)
    val (kmin, kmax) = (bounds.getLong(0), bounds.getLong(1))
    val span = kmax - kmin
    // bucket i covers [cuts(i), cuts(i+1)) — one parquet file per
    // non-empty bucket, layout a pure function of the data
    val cuts = (0L to 8L).map(i => kmin + i * (span + 1) / 8)
    val clustered = clusterExact(s, base, "o_orderkey", kmin, span, 8)
      .sortWithinPartitions(k)
    commit(s, t, stageIndexed(s, t, clustered, "o_orderkey"),
      expected = -1L, op = "create")
    val (lo, hi) = ((cuts(2) + cuts(3)) / 2, (cuts(4) + cuts(5)) / 2)
    val before = liveEntries(s, t, 0).map(render).toSet
    val res = deleteRange(s, t, "o_orderkey", lo, hi)
    val after = liveEntries(s, t, res.version).map(render).toSet
    val verbatim = before.count(after.contains) == res.kept
    // mid-bucket window edges: exactly one fully-covered bucket drops,
    // at most the two edge buckets rewrite
    val ok = res.dropped >= 1 && res.kept >= 1 && res.rewritten <= 2 &&
      verbatim
    (snapshot(s, t)
      .select(k, col("o_orderstatus"), col("price").cast("double").as("price"))
      .withColumn("delete_ok", lit(ok)), res)
  }

  /** op_str_skip: STRING manifest stats — the stat kind integral ranges
    * can't provide. Orders are clustered by (o_orderpriority,
    * o_orderkey) into 8 files committed with truncated string bounds
    * per file; an equality read on one priority then prunes files from
    * the MANIFEST alone. Hashed output = the priority slice's aggregate
    * (trivially oracle-replayable); `skip_ok` asserts the metadata
    * prune dropped files. Bound truncation (16 chars, upper bumped) is
    * spec-proven conservative in TxnSpec. */
  def strSkip(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("strskip_orders")
    val base = Tables.orders(s, d).select(col("o_orderkey"),
      col("o_orderpriority"), col("o_totalprice").cast(D12).as("price"))
    val clustered = base
      .repartitionByRange(8, col("o_orderpriority"), col("o_orderkey"))
      .sortWithinPartitions(col("o_orderpriority"), col("o_orderkey"))
    commit(s, t,
      stageIndexed(s, t, clustered, Nil, Seq("o_orderpriority")),
      expected = -1L, op = "create")
    val (snap, scanned, total) =
      snapshotWhere(s, t, col("o_orderpriority") === "1-URGENT")
    snap.agg(count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("total"))
      .withColumn("skip_ok", lit(scanned >= 1 && scanned < total))
  }

  /** op_delete_mor: merge-on-read DELETE as a checked query — the
    * complement of op_delete_pruned for keys SCATTERED across every file
    * (per-record erasure): copy-on-write would rewrite the whole table,
    * merge-on-read commits ONE tombstone file of keys (%7) as manifest
    * metadata while every data entry carries VERBATIM. The first output
    * generation ('mor') hashes the anti-joined read; compact() then
    * APPLIES the tombstones and the second generation ('compacted')
    * must hash identically from a clean, tombstone-free version.
    * `mor_ok` asserts the mechanics: zero data files rewritten by the
    * delete, exactly one tombstone registered, none after compaction,
    * and the pre-delete version still reads the full content. */
  def deleteMor(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("mor_orders")
    val base = ordersSlice(s, d)
    val k = col("o_orderkey")
    commit(s, t, stageIndexed(s, t,
      base.repartitionByRange(8, k).sortWithinPartitions(k), "o_orderkey"),
      expected = -1L, op = "create")
    val before = liveEntries(s, t, 0).map(render)
    val v1 = deleteKeysMor(s, t, base.filter(pmod(k, lit(7)) === 0)
      .select(k), "o_orderkey")
    val verbatim = liveEntries(s, t, v1).map(render) == before
    val morAgg = statusAgg(snapshot(s, t, v1), "mor")
    val v2 = compact(s, t)
    val ok = verbatim && deleteFiles(s, t, v1).size == 1 &&
      deleteFiles(s, t, v2).isEmpty &&
      snapshot(s, t, 0).count() > snapshot(s, t, v2).count()
    morAgg.unionByName(statusAgg(snapshot(s, t, v2), "compacted"))
      .withColumn("mor_ok", lit(ok))
  }

  /** op_dedup_mor: POSITIONAL deletion-vector dedup as a checked query
    * ([[dedupMor]]) — the case equality tombstones fundamentally cannot
    * express: EXACT COPIES share every column value, so any key-file
    * delete would kill the keeper with the victims. The slice is
    * duplicated on the %7 subset (copies scattered across files by the
    * repartition), then dedupMor(all columns) commits ONE (f, p)
    * coordinate vector as pure manifest metadata — every data entry
    * carries VERBATIM, zero bytes rewritten, at ANY table size the cost
    * is one keyed shuffle + a |duplicates|-sized vector. Generation
    * 'dv' hashes the coordinate-anti-joined read; compact() then folds
    * the vector in and 'compacted' must hash identically from a clean
    * version. `dv_ok` asserts the mechanics: entry lines byte-verbatim
    * across the dedup commit, exactly one `~pos` tombstone, none after
    * compaction, and the pinned pre-dedup version still reads every
    * copy. The oracle replays trivially: dedup of slice ∪ (%7 subset)
    * is the slice itself. */
  def dedupMorScenario(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("dv_orders")
    val base = ordersSlice(s, d)
    val k = col("o_orderkey")
    val dupd = base.unionAll(base.filter(pmod(k, lit(7)) === 0))
    create(s, t, dupd.repartition(8))
    val before = liveEntries(s, t, 0).map(render)
    val nAll = snapshot(s, t, 0).count()
    val v1 = dedupMor(s, t, Seq("o_orderkey", "o_orderstatus", "price"))
    val verbatim = liveEntries(s, t, v1).map(render) == before
    val vector = manifest(s, t, v1).deletes
    val dvAgg = statusAgg(snapshot(s, t, v1), "dv")
    val v2 = compact(s, t)
    val ok = verbatim && vector.map(_._2) == Seq("~pos") &&
      deleteFiles(s, t, v2).isEmpty &&
      snapshot(s, t, 0).count() == nAll &&
      snapshot(s, t, v2).count() == base.count()
    dvAgg.unionByName(statusAgg(snapshot(s, t, v2), "compacted"))
      .withColumn("dv_ok", lit(ok))
  }

  /** op_delete_dv: [[deleteWherePos]] as a checked query — scattered
    * per-row erasure BY PREDICATE on the UNINDEXED price column
    * (cent-value % 7, deterministic and oracle-replayable), victims in
    * every file so copy-on-write would rewrite the whole table and no
    * key column exists to tombstone by. The delete commits ONE
    * |victims|-sized coordinate vector with every entry verbatim
    * (asserted line-for-line); the pinned pre-delete version still
    * counts every row; compact() folds the vector into a clean
    * generation. Hashed output = the survivor aggregate from BOTH
    * generations (MoR read and compacted materialization — they must
    * agree); the zero-rewrite + vector-kind + pinned accounting travels
    * as `dvdel_ok`. */
  def deleteDvScenario(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("dvdel_orders")
    val base = ordersSlice(s, d)
    create(s, t, base.repartition(8))
    val before = liveEntries(s, t, 0).map(render)
    val nAll = snapshot(s, t, 0).count()
    // cents % 7: decimal(12,2) × 100 is an exact integral — the
    // arithmetic replays bit-for-bit in the oracle
    val pred = pmod((col("price") * lit(100)).cast("long"), lit(7)) === 0
    val v1 = deleteWherePos(s, t, pred)
    val verbatim = liveEntries(s, t, v1).map(render) == before
    val vector = manifest(s, t, v1).deletes
    val survivors = snapshot(s, t, v1).count()
    val dvAgg = statusAgg(snapshot(s, t, v1), "dv")
    val v2 = compact(s, t)
    val ok = verbatim && vector.map(_._2) == Seq("~pos") &&
      deleteFiles(s, t, v2).isEmpty &&
      snapshot(s, t, 0).count() == nAll &&
      survivors < nAll && snapshot(s, t, v2).count() == survivors
    dvAgg.unionByName(statusAgg(snapshot(s, t, v2), "compacted"))
      .withColumn("dvdel_ok", lit(ok))
  }

  /** op_update_dv: [[updateWherePos]] as a checked query — scattered
    * per-row UPDATE by predicate on the UNINDEXED price column
    * (cent-value % 7 → price + 100, deterministic and replayable),
    * matches in every file so copy-on-write would rewrite the whole
    * table. ONE commit carries every pre-update entry VERBATIM
    * (asserted line-for-line against the carried prefix), the
    * |updated|-sized `~pos` vector, and the fresh updated-row files —
    * whose seq equals the vector's, so the vector provably can't kill
    * what it just wrote (the row count is invariant, asserted). The
    * pinned pre-update version still sums the OLD prices; compact()
    * folds the vector into a clean generation that agrees with the MoR
    * read. Hashed output = the post-update aggregate from BOTH
    * generations; the accounting travels as `upd_ok`. */
  def updateDvScenario(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("dvupd_orders")
    val base = ordersSlice(s, d)
    create(s, t, base.repartition(8))
    val before = liveEntries(s, t, 0).map(render)
    val nAll = snapshot(s, t, 0).count()
    val oldSum = snapshot(s, t, 0)
      .agg(sum(col("price")).cast("double")).collect()(0).getDouble(0)
    val pred = pmod((col("price") * lit(100)).cast("long"), lit(7)) === 0
    val v1 = updateWherePos(s, t, pred,
      Seq(("price", col("price") + lit(100).cast(D12))))
    val m1 = manifest(s, t, v1)
    // entry lines are SORTED in the manifest — carried lines interleave
    // with the fresh updated-row files, so verbatim carry is a subset
    // check on the rendered lines, not a prefix one
    val carried = {
      val lines1 = m1.entries.map(render).toSet
      before.forall(lines1.contains)
    }
    val dvAgg = statusAgg(snapshot(s, t, v1), "dv")
    val v2 = compact(s, t)
    val newSum = snapshot(s, t, v2)
      .agg(sum(col("price")).cast("double")).collect()(0).getDouble(0)
    val ok = carried && m1.deletes.map(_._2) == Seq("~pos") &&
      m1.entries.size > before.size &&
      snapshot(s, t, v1).count() == nAll && // update, not delete
      deleteFiles(s, t, v2).isEmpty &&
      snapshot(s, t, v2).count() == nAll &&
      newSum > oldSum && // the pinned version kept the old prices
      snapshot(s, t, 0).agg(sum(col("price")).cast("double"))
        .collect()(0).getDouble(0) == oldSum
    dvAgg.unionByName(statusAgg(snapshot(s, t, v2), "compacted"))
      .withColumn("upd_ok", lit(ok))
  }

  /** op_cdc_read: the change feed between two committed versions — what
    * incremental downstream pipelines consume instead of re-reading 100 TB.
    * v0 = the base slice; v1 = copy-on-write overwrite applying a
    * deterministic change set (update / delete / insert rules on the key).
    * The feed is computed as a diff of the two MANIFEST-RESOLVED snapshots:
    * one co-partitioned full-outer join on the key (both sides shuffle
    * once; at production scale the commit would also persist its change
    * files so the feed is a pure read — the diff is the general fallback
    * that works for ANY two versions). Emitted rows: (key, op ∈ insert /
    * delete / update_pre / update_post, payload); unchanged rows never
    * appear. The oracle replays the change rules arithmetically. */
  def cdcRead(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("cdc_orders")
    val base = ordersSlice(s, d)
    create(s, t, base.repartition(4))
    val k = col("o_orderkey")
    val isUpd = pmod(k, lit(50)) === 0
    val isDel = pmod(k, lit(61)) === 0 && pmod(k, lit(50)) =!= 0
    // +1e8 keyspace shift for inserts (same convention as streamUpsert):
    // TPC-H orderkeys reach 6e6 x SF, so this stays collision-free to
    // SF ~16 — far past any tested scale, and documented at the rule
    val inserts = base.filter(pmod(k, lit(97)) === 0)
      .select((k + 100000000L).as("o_orderkey"),
        lit("N").as("o_orderstatus"), col("price"))
    val v1Data = base.filter(!isDel)
      .withColumn("price",
        when(isUpd, col("price") + lit(100).cast(D12)).otherwise(col("price")))
      .unionByName(inserts)
    overwrite(s, t, v1Data)
    // prices are DECIMAL(12/13,2) — exactly representable as doubles, so
    // the diff equality and the emitted payload agree bit-for-bit with the
    // oracle's CAST(... AS DOUBLE) replay
    val a = snapshot(s, t, 0).select(k.as("ak"),
      col("o_orderstatus").as("ast"), col("price").cast("double").as("apr"))
    val b = snapshot(s, t, 1).select(k.as("bk"),
      col("o_orderstatus").as("bst"), col("price").cast("double").as("bpr"))
    val pre = struct(lit("update_pre").as("op"), col("ast").as("st"), col("apr").as("pr"))
    val post = struct(lit("update_post").as("op"), col("bst").as("st"), col("bpr").as("pr"))
    a.join(b, col("ak") === col("bk"), "full_outer")
      .select(coalesce(col("ak"), col("bk")).as("o_orderkey"),
        when(col("ak").isNull,
            array(struct(lit("insert").as("op"), col("bst").as("st"), col("bpr").as("pr"))))
          .when(col("bk").isNull,
            array(struct(lit("delete").as("op"), col("ast").as("st"), col("apr").as("pr"))))
          // null-safe struct compare, same as cdcSigned: a NULL→value
          // payload change must read as an update, not fall through
          .when(!(struct(col("ast"), col("apr")) <=> struct(col("bst"), col("bpr"))),
            array(pre, post))
          .otherwise(array().cast("array<struct<op:string,st:string,pr:double>>"))
          .as("ch"))
      .select(col("o_orderkey"), explode(col("ch")).as("c"))
      .select(col("o_orderkey"), col("c.op").as("op"),
        col("c.st").as("o_orderstatus"), col("c.pr").as("price"))
  }

  /** op_bloom_skip: bloom-sidecar point-lookup pruning as a checked
    * query — the production "time-partitioned table probed by id" shape
    * where range stats are useless: orders are clustered by ORDER DAY
    * (so every file's o_orderkey range spans ~the whole keyspace) and a
    * per-file bloom over o_orderkey is committed as a parquet sidecar
    * with its `#bloom=` manifest reference. A point lookup of the
    * minimum key (deterministic, oracle-replayable) then prunes files
    * via the bloom alone: the key's order lives on one day, so one file
    * (± the ~1% false-positive tax) survives out of 8. Hashed output =
    * that key's rows; `skip_ok` asserts the bloom actually pruned AND
    * that a day-range read on the SAME table still prunes via the
    * ordinary range stats — the two stat kinds answer different
    * predicates side by side. */
  def bloomSkip(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("bloom_orders")
    val base = Tables.orders(s, d).select(col("o_orderkey"),
      datediff(col("o_orderdate").cast("date"), lit("1995-01-01")).as("od"),
      col("o_totalprice").cast(D12).as("price"))
    val clustered = base.repartitionByRange(8, col("od"))
      .sortWithinPartitions(col("od"))
    val lines = stageIndexed(s, t, clustered, "od")
    val rels = lines.map(_.split('\t').head)
    val bloom = buildBloom(s, t, rels, "o_orderkey")
    commit(s, t, lines, expected = -1L, op = "create",
      schemaJson = base.schema.json, blooms = Seq(bloom))
    val kv = base.agg(min("o_orderkey")).collect()(0).getLong(0)
    val (snap, scanned, total) = snapshotWhere(s, t, col("o_orderkey") === kv)
    val Seq(dmin, dmax) = base.agg(min("od"), max("od")).collect()(0)
      .toSeq.map(_.asInstanceOf[Number].longValue)
    val (_, dScanned, dTotal) = snapshotWhere(s, t,
      col("od") >= dmin && col("od") <= dmin + (dmax - dmin) / 8)
    snap.agg(count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("total"))
      .withColumn("skip_ok", lit(scanned >= 1 && scanned < total &&
        dScanned >= 1 && dScanned < dTotal))
  }

  /** op_txn_restore: time-travel REPAIR as a checked query — a bad
    * overwrite lands at v1, and [[restore]] rolls the table's CONTENT
    * back to v0 as a NEW commit (v2): one manifest write, zero data
    * copied, the bad version still auditable in the trail. Hashed
    * output = the base content (the restore must be exact);
    * `restore_ok` asserts v2's manifest lines are v0's VERBATIM and the
    * trail reads create → overwrite → restore. */
  def txnRestore(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("restore_orders")
    val base = ordersSlice(s, d)
    create(s, t, base.repartition(4))
    // the "bad" commit: a deterministic change set lands at v1
    overwrite(s, t, applyOrderChanges(snapshot(s, t, 0).withColumn("price",
      col("price").cast(D14)), 50, 100, 61, 97, 100000000L, "N"))
    val v0Lines = liveEntries(s, t, 0).map(render)
    val v2 = restore(s, t, 0)
    val sameFiles = liveEntries(s, t, v2).map(render) == v0Lines
    val trail = history(s, t).map(h => (h._1, h._2))
    val ok = sameFiles && v2 == 2L &&
      trail == Seq((0L, "create"), (1L, "overwrite"), (2L, "restore"))
    statusAgg(snapshot(s, t), "restored")
      .withColumn("restore_ok", lit(ok))
  }

  /** op_txn_asof: TIMESTAMP time travel as a checked query — `AS OF
    * <timestamp>` resolves to the newest commit at or before the
    * target (commit timestamps are written monotonized into every
    * manifest header: see [[commit]]; [[versionAt]] resolves). The
    * scenario lands create → append → append, reads the three recorded
    * timestamps back, and proves the resolver: each commit's own
    * timestamp resolves to itself, the instant just before a commit
    * resolves to its PREDECESSOR, the far future resolves to the
    * latest version, and a target before the first commit fails loudly
    * (the table did not exist yet). Wall-clock is not replayable, so
    * timestamps travel only as these oracle-asserted BOOLEANS; the
    * hashed content is the `AS OF ts(1)` snapshot — exactly base +
    * first delta, which the oracle replays arithmetically. */
  def txnAsOf(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("asof_orders")
    val base = ordersSlice(s, d)
    create(s, t, base.repartition(4))
    val k = col("o_orderkey")
    val d1 = base.filter(pmod(k, lit(97)) === 0)
      .select((k + 100000000L).as("o_orderkey"),
        lit("A").as("o_orderstatus"), col("price"))
    append(s, t, d1)
    val d2 = base.filter(pmod(k, lit(89)) === 0)
      .select((k + 200000000L).as("o_orderkey"),
        lit("B").as("o_orderstatus"), col("price"))
    append(s, t, d2)
    val ts = versions(s, t).map(v => manifest(s, t, v).ts)
    val monotone = ts == ts.sorted && ts.distinct == ts && ts.forall(_ > 0)
    val resolves = versionAt(s, t, ts(0)) == 0L &&
      versionAt(s, t, ts(1)) == 1L &&
      versionAt(s, t, ts(2)) == 2L &&
      versionAt(s, t, ts(1) - 1) == 0L &&
      versionAt(s, t, ts(2) - 1) == 1L &&
      versionAt(s, t, ts(2) + 3600000L) == 2L
    val preBirth = scala.util.Try(versionAt(s, t, ts(0) - 1)).isFailure
    val ok = monotone && resolves && preBirth
    snapshotAt(s, t, ts(1))
      .select(k, col("o_orderstatus"), col("price").cast("double").as("price"))
      .withColumn("asof_ok", lit(ok))
  }

  /** CLUSTERING-SPEC EVOLUTION: commit a new version whose `#index=`
    * header names different clustering columns — entries carry VERBATIM
    * with their OLD stat groups (changing how a 100 TB table clusters
    * must cost one manifest write, not a rewrite). From this commit on,
    * appends stage stats on the NEW columns and [[compact]] re-clusters
    * to the new spec; reads stay correct across the generation boundary
    * for free, because skipping is per-entry and conservative — an old
    * file without stats on a new column is always scanned, an old
    * file's old-column stats keep pruning old-column reads. The
    * public-format "partition spec evolution" semantics, expressed as
    * pure metadata. */
  def recluster(s: SparkSession, table: String, idxCols: Seq[String],
      strIdxCols: Seq[String] = Nil): Long = {
    val cur = currentVersion(s, table)
    val m = manifest(s, table, cur)
    // GAINING a first index over live stat-less files must not be a
    // header-only write: everywhere in the engine a group-less entry
    // line in an INDEXED table means "zero-row sentinel" (CBO byte/row
    // reporting, metadata-only aggregates, zero-row file filters), so
    // indexing a previously-unindexed table whose files carry no
    // groups would silently read every one of them as EMPTY — wrong
    // plans at best, wrong metadata-aggregate ANSWERS at worst.
    // Changing WHICH columns cluster remains one manifest write; the
    // unindexed→indexed transition goes through [[reindex]]'s one
    // read-only stats scan instead.
    require(!(m.idxCols.isEmpty && m.strIdxCols.isEmpty &&
        (idxCols.nonEmpty || strIdxCols.nonEmpty) &&
        m.entries.exists(e => e.stats.isEmpty && e.strStats.isEmpty)),
      s"$table: recluster would index a table whose live files carry " +
        "no stat groups — they would read as zero-row sentinels " +
        "everywhere; use reindex() (one read-only stats scan) instead")
    commit(s, table, m.entries.map(render), cur, op = "recluster",
      schemaJson = m.schema.map(_.json).orNull, deleteLines = m.deletes,
      idxCols = idxCols, strIdxCols = strIdxCols, blooms = m.blooms,
      retired = m.retired, checks = m.checks)
  }

  /** Stats BACKFILL: the unindexed→indexed transition [[recluster]]
    * refuses. ONE read-only scan of the live files measures the full
    * stat group set (min/max/nulls, NDV sketch + row count, string
    * bounds, byte sizes) for every index spec, and one commit
    * re-annotates every entry IN PLACE — data seqs preserved, no file
    * rewritten or moved. From this commit on the manifest-stats channel
    * (file skipping, CBO rows/bytes/NDV, metadata-only aggregates) is
    * live for the table. Cost is what correct stats fundamentally cost
    * (you cannot know a file's bounds without reading it once) — the
    * scan parallelizes over files and happens exactly once. */
  def reindex(s: SparkSession, table: String, indexCols: Seq[String],
      strCols: Seq[String] = Nil): Long = {
    require(indexCols.nonEmpty || strCols.nonEmpty,
      "reindex needs at least one index column")
    checkIndexNames(indexCols ++ strCols)
    val cur = currentVersion(s, table)
    val m = manifest(s, table, cur)
    require(m.deletes.isEmpty,
      s"$table: reindex with pending merge-on-read tombstones would " +
        "record stats covering rows a reader never sees — compact() " +
        "applies the tombstones first")
    // stats are measured on the STORED bytes; a column with a PENDING
    // initial default reads the default where the bytes say NULL, so
    // the measured ranges would be the all-null sentinel — box reads
    // and pruned DELETEs would then silently skip rows that must
    // answer the default. Same remedy as tombstones: materialize first
    locally {
      // per-column: only a default SOME live entry still predates is a
      // hazard — a fully-materialized one measures correct stats
      val pendingCols = m.schema.toSeq.flatMap(defaultedFields)
        .filter { case (_, _, sq, _) => m.entries.exists(_.seq < sq) }
        .map(d => physName(d._1)).toSet
      (indexCols ++ strCols).foreach(c => require(!pendingCols.contains(c),
        s"$table: reindex on '$c' with a PENDING initial default would " +
          "record all-null sentinel stats for pre-add files — compact() " +
          "materializes the defaults first"))
    }
    require(m.schema.forall(_.fields.forall(f => physName(f) == f.name)),
      s"$table: reindex on a column-mapped table is not supported " +
        "(stat groups speak physical names) — compact() restages with " +
        "stats under the live index instead")
    def abs(e: Entry): Path = new Path(pathFor(table, e.path))
    val byFile =
      if (m.entries.isEmpty) Map.empty[String,
        (Seq[ColStat], Seq[HllStat], Seq[StrStat])]
      else statGroupsByFile(scanEntries(s, table, m.entries, Nil, m.schema,
        indexed = false),
        col("__gcanon"), indexCols, strCols)
    // byte sizes from one listing per distinct parent directory, keyed
    // by (directory, file name) — the spelling-proof key
    val sizes = m.entries.map(abs(_).getParent).distinct
      .flatMap { d =>
        val f = fs(s, d)
        if (f.exists(d))
          f.listStatus(d).toSeq.map(st => ((d, st.getPath.getName), st.getLen))
        else Nil
      }.toMap
    val lines = m.entries.map { e =>
      byFile.get(canonCoord(pathFor(table, e.path))) match {
        case Some((ints, hlls, strs)) =>
          render(e.copy(stats = ints, strStats = strs, hlls = hlls,
            bytes = sizes.getOrElse((abs(e).getParent, abs(e).getName),
              e.bytes)))
        // no stats row ⇒ the scan saw zero rows in it: a true zero-row
        // sentinel — stays PATH-ONLY (the convention downstream)
        case None => render(e.copy(stats = Nil, strStats = Nil,
          hlls = Nil, bytes = -1L))
      }
    }
    commit(s, table, lines, cur, op = "reindex",
      schemaJson = m.schema.map(_.json).orNull,
      idxCols = indexCols, strIdxCols = strCols,
      blooms = m.blooms, retired = m.retired, checks = m.checks)
  }

  /** op_txn_recluster: clustering evolution as a checked query. v0
    * clusters orders by o_orderkey (8 exact files, key stats);
    * [[recluster]] flips the spec to the derived day column `od` as one
    * metadata commit (v1 — entries verbatim, old stats intact); an
    * append then lands od-clustered files with od stats (v2); finally a
    * full od-clustered rewrite (v3) represents the table after
    * maintenance adopts the new spec. The three reads prove the
    * cross-generation contract: an od box read prunes NEW-generation
    * files while conservatively scanning every old file (no false
    * prune, ever); an o_orderkey range read still prunes OLD files via
    * their retained stats while scanning every new file; after the
    * rewrite the od read prunes tablewide. Hashed output = the od box
    * slice (od = key % 32 — oracle-replayable); layout mechanics travel
    * as `recluster_ok`. */
  def txnRecluster(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("recluster_orders")
    val base = ordersSlice(s, d)
      .withColumn("od", pmod(col("o_orderkey"), lit(32)))
      .select(col("o_orderkey"), col("od"), col("price"))
    val k = col("o_orderkey")
    val bounds = base.agg(min("o_orderkey"), max("o_orderkey")).collect()(0)
    val (kmin, kmax) = (bounds.getLong(0), bounds.getLong(1))
    commit(s, t, stageIndexed(s, t,
      clusterExact(s, base, "o_orderkey", kmin, kmax - kmin, 8)
        .sortWithinPartitions(k), "o_orderkey"),
      expected = -1L, op = "create", schemaJson = base.schema.json)
    val v0Lines = liveEntries(s, t, 0).map(render)
    recluster(s, t, Seq("od"))
    val verbatim = liveEntries(s, t, 1).map(render) == v0Lines
    // the delta shifts keys by 1e8 (≡ 0 mod 32: od is key-stable) and
    // clusters by the NEW spec — stats land on od because the header
    // now says so
    val delta = base.filter(pmod(k, lit(97)) === 0)
      .select((k + 100000000L).as("o_orderkey"), col("od"), col("price"))
    append(s, t, clusterExact(s, delta, "od", 0L, 31L, 4)
      .sortWithinPartitions(col("od"), k))
    val newGen = liveEntries(s, t, 2).map(render).toSet -- v0Lines.toSet
    val deltaOdIndexed = newGen.nonEmpty &&
      liveEntries(s, t, 2).filter(e => newGen(render(e)))
        .forall(e => e.statFor("od").isDefined &&
          e.statFor("o_orderkey").isEmpty)
    val (_, scanA, totA) = snapshotWhere(s, t, col("od").between(3L, 4L), 2)
    val (_, scanB, totB) = snapshotWhere(s, t,
      k.between(kmin, kmin + (kmax - kmin) / 4), 2)
    // maintenance rewrite adopts the new spec tablewide
    val snap2 = snapshot(s, t)
    commit(s, t, stageIndexed(s, t,
      clusterExact(s, snap2, "od", 0L, 31L, 4)
        .sortWithinPartitions(col("od"), k), "od"),
      expected = 2L, op = "rewrite", schemaJson = base.schema.json,
      idxCols = Seq("od"))
    val (odRead, scanC, totC) = snapshotWhere(s, t, col("od").between(3L, 4L))
    val oldFiles = v0Lines.size
    val ok = verbatim && deltaOdIndexed &&
      // old generation: conservatively scanned on od, pruned on key
      scanA >= oldFiles && scanA < totA &&
      scanB >= (totB - oldFiles) && scanB < totB &&
      scanC >= 1 && scanC < totC &&
      history(s, t).map(_._2) ==
        Seq("create", "recluster", "append", "rewrite")
    odRead.select(k, col("od"), col("price").cast("double").as("price"))
      .withColumn("recluster_ok", lit(ok))
  }

  /** op_ndv_broadcast: manifest-stats-driven JOIN PLANNING as a checked
    * query — closing r9's "manifests carry no NDV" gap. The v4 stats
    * pass records, per file and indexed column, an HLL NDV sketch plus
    * the exact row count; [[tableRows]]/[[ndv]] answer table-level
    * cardinality and distinctness from ONE driver-side merge of
    * manifest metadata — zero data I/O, no ANALYZE job, at any scale.
    * The scenario commits a fact table (orders) and a 10×-smaller
    * dimension (customer), kills size-based broadcasting
    * (autoBroadcastJoinThreshold=-1, AQE off), and pairs the plans:
    * the plain join must SortMergeJoin, while [[snapshotJoinStats]] —
    * deciding from the log alone — must BroadcastHashJoin with the
    * dimension on the build side. `ndv_ok` also pins [[tableRows]] to
    * the exact counts and both key NDV estimates within 15% of truth
    * (lgK=8 ⇒ ~±6%; the sketch is deterministic, no RNG), and proves
    * the BYTE-SIZE decision ([[tableBytes]], v5 manifests) beats row
    * counts where they disagree: a 20×-fewer-rows table of ~100×-wider
    * incompressible rows joins a narrow one-column table, and the
    * narrow side — more rows, fewer bytes — must build the broadcast.
    * Hashed output = the per-segment join aggregate (replayable). */
  def ndvBroadcast(s: SparkSession, d: String): DataFrame = {
    val fact = freshDir("ndv_fact")
    val dim = freshDir("ndv_dim")
    val fbase = Tables.orders(s, d).select(col("o_orderkey"),
      col("o_custkey"), col("o_totalprice").cast(D12).as("price"))
    commit(s, fact, stageIndexed(s, fact, fbase.repartition(8),
      Seq("o_orderkey", "o_custkey")), expected = -1L, op = "create",
      schemaJson = fbase.schema.json)
    val dbase = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    commit(s, dim, stageIndexed(s, dim, dbase.repartition(4),
      Seq("c_custkey")), expected = -1L, op = "create",
      schemaJson = dbase.schema.json)
    val rowsF = tableRows(s, fact).get
    val rowsD = tableRows(s, dim).get
    val ndvF = ndv(s, fact, "o_orderkey").get
    val ndvD = ndv(s, dim, "c_custkey").get
    val trueF = fbase.count()
    val trueD = dbase.count()
    def close(est: Long, truth: Long): Boolean =
      math.abs(est - truth) <= math.max(truth * 0.15, 8.0).toLong
    val prevThr = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      val (auto, side) =
        snapshotJoinStats(s, fact, "o_custkey", dim, "c_custkey")
      val plain = snapshot(s, fact).join(snapshot(s, dim),
        col("o_custkey") === col("c_custkey"))
      def bhj(df: DataFrame) = df.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin")
      // WIDE-ROW disagreement: a table of 20×-fewer rows but ~100×-wider
      // (high-entropy, compression-resistant) rows vs a narrow one-column
      // table. Row count nominates the wide side; byte size — what
      // actually bounds the broadcast hash table's memory — nominates the
      // narrow side. The manifest's per-file sizes must win: the join
      // broadcasts NARROW (side=right) even though it has MORE rows.
      val wide = freshDir("ndv_wide")
      val narrow = freshDir("ndv_narrow")
      val keys = Tables.orders(s, d).select(col("o_orderkey").as("k"))
      val wbase = keys.filter(col("k") % 20 === 0)
        .withColumn("pad", concat((0 until 32).map(i =>
          md5(concat(col("k").cast("string"), lit(s"_$i")))): _*))
      commit(s, wide, stageIndexed(s, wide, wbase.repartition(4), Seq("k")),
        expected = -1L, op = "create", schemaJson = wbase.schema.json)
      val nbase = keys.select(col("k").as("nk"))
      commit(s, narrow,
        stageIndexed(s, narrow, nbase.repartition(4), Seq("nk")),
        expected = -1L, op = "create", schemaJson = nbase.schema.json)
      val (wJoin, wSide) = snapshotJoinStats(s, wide, "k", narrow, "nk")
      val wideOk = wSide.contains(true) && bhj(wJoin) &&
        tableRows(s, wide).get < tableRows(s, narrow).get &&
        tableBytes(s, wide).get > tableBytes(s, narrow).get
      val ok = side.contains(true) && bhj(auto) && !bhj(plain) &&
        rowsF == trueF && rowsD == trueD && rowsD < rowsF &&
        close(ndvF, trueF) && close(ndvD, trueD) && wideOk
      auto.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("price")).cast("double").as("total"))
        .withColumn("ndv_ok", lit(ok))
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
      s.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  /** op_txn_clone: zero-copy shallow clone as a checked query. The
    * indexed source is cloned (one manifest write referencing the
    * source's files absolutely — nothing copied: no local data dir
    * exists after the clone), then the tables DIVERGE: a keyspace-
    * shifted delta appends to the clone only. Hashed output = both
    * tables' aggregates; `clone_ok` asserts the zero-copy mechanics
    * (absolute refs, no local files at clone time, source still at v0)
    * and that manifest range pruning keeps working through absolute
    * references. */
  def txnClone(s: SparkSession, d: String): DataFrame = {
    val src = freshDir("clone_src")
    val dst = freshDir("clone_dst")
    val base = ordersSlice(s, d)
    val k = col("o_orderkey")
    commit(s, src, stageIndexed(s, src,
      base.repartitionByRange(8, k).sortWithinPartitions(k), "o_orderkey"),
      expected = -1L, op = "create", schemaJson = base.schema.json)
    shallowClone(s, src, dst)
    val refsOk = liveEntries(s, dst, 0).nonEmpty &&
      liveEntries(s, dst, 0).forall(_.path.startsWith(src + "/"))
    val noLocal = !new java.io.File(dst, "data").exists()
    val delta = base.filter(pmod(k, lit(97)) === 0)
      .select((k + 100000000L).as("o_orderkey"),
        lit("C").as("o_orderstatus"), col("price"))
    append(s, dst, delta)
    val srcOk = currentVersion(s, src) == 0L
    val bounds = base.agg(min("o_orderkey"), max("o_orderkey")).collect()(0)
    val (kmin, kmax) = (bounds.getLong(0), bounds.getLong(1))
    val (_, scanned, total) = snapshotWhere(s, dst,
      col("o_orderkey").between(kmin, kmin + (kmax - kmin) / 8))
    val ok = refsOk && noLocal && srcOk && scanned >= 1 && scanned < total
    statusAgg(snapshot(s, src), "src")
      .unionByName(statusAgg(snapshot(s, dst), "clone"))
      .withColumn("clone_ok", lit(ok))
  }

  /** op_mor_seq: SEQUENCED merge-on-read tombstones as a checked query —
    * the Iceberg-v2 rule that lets every writer commit on top of pending
    * tombstones. v1 MoR-deletes keys %7 (tombstone only, zero rewrite);
    * v2 APPENDS re-inserted rows for keys %14 — the same key values just
    * deleted, which must stay VISIBLE because the appended files' seq is
    * newer than the tombstone's; v3 MERGES price updates into the lowest
    * eighth of the keyspace — rewritten files drop the tombstoned rows
    * at rewrite time while untouched files keep paying the anti-join.
    * No compaction anywhere. Hashed output = the final content (all
    * three change sets replayed); `seq_ok` asserts the tombstone is
    * STILL pending at v3, the per-version row counts, and that the merge
    * carried untouched entries verbatim. */
  def morSeq(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("morseq_orders")
    val base = ordersSlice(s, d)
    val k = col("o_orderkey")
    commit(s, t, stageIndexed(s, t,
      base.repartitionByRange(8, k).sortWithinPartitions(k), "o_orderkey"),
      expected = -1L, op = "create", schemaJson = base.schema.json)
    val nBase = base.count()
    val nDel = base.filter(pmod(k, lit(7)) === 0).count()
    val nRe = base.filter(pmod(k, lit(14)) === 0).count()
    deleteKeysMor(s, t, base.filter(pmod(k, lit(7)) === 0).select(k),
      "o_orderkey")                                              // v1
    val reinserted = base.filter(pmod(k, lit(14)) === 0)
      .select(k, lit("R").as("o_orderstatus"), col("price"))
    append(s, t, reinserted)                                     // v2
    val bounds = base.agg(min("o_orderkey"), max("o_orderkey")).collect()(0)
    val hi = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 8
    val batch = base.filter(k <= hi && pmod(k, lit(5)) === 0)
      .select(k, lit("U").as("o_orderstatus"),
        (col("price") + lit(100).cast(D12)).cast(D12).as("price"))
    val before = liveEntries(s, t, 2).map(render)
    val res = merge(s, t, batch, "o_orderkey")                   // v3
    val after = liveEntries(s, t, res.version).map(render).toSet
    val verbatim = before.count(after.contains) == res.untouched
    val ok = deleteFiles(s, t, res.version).size == 1 &&
      snapshot(s, t, 1).count() == nBase - nDel &&
      snapshot(s, t, 2).count() == nBase - nDel + nRe &&
      res.untouched >= 1 && verbatim
    snapshot(s, t)
      .select(k, col("o_orderstatus"), col("price").cast("double").as("price"))
      .withColumn("seq_ok", lit(ok))
  }

  /** op_merge_full: FULL MERGE semantics as a checked query — one
    * [[applyChanges]] call carrying all four clause shapes at once:
    * WHEN MATCHED UPDATE (low-eighth keys %5: price+100), WHEN MATCHED
    * DELETE (keys %3 unless updated), WHEN NOT MATCHED INSERT
    * (keyspace-shifted +1e8 rows), and not-matched DELETEs (ghost keys
    * +3e8) that must no-op. File-pruned like op_merge_pruned: the hashed
    * output is the merged content (oracle replays all four clauses);
    * `full_ok` asserts ≥ half the files untouched with verbatim
    * manifest carry-over. */
  def mergeFull(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("mergefull_orders")
    val base = ordersSlice(s, d)
    val k = col("o_orderkey")
    commit(s, t, stageIndexed(s, t,
      base.repartitionByRange(8, k).sortWithinPartitions(k), "o_orderkey"),
      expected = -1L, op = "create", schemaJson = base.schema.json)
    val bounds = base.agg(min("o_orderkey"), max("o_orderkey")).collect()(0)
    val maxK = bounds.getLong(1)
    val hi = bounds.getLong(0) + (maxK - bounds.getLong(0)) / 8
    val low = base.filter(k <= hi)
    val upd = low.filter(pmod(k, lit(5)) === 0)
      .select(k, lit("U").as("o_orderstatus"),
        (col("price") + lit(100).cast(D12)).cast(D12).as("price"),
        lit("U").as("op"))
    val dels = low.filter(pmod(k, lit(3)) === 0 && pmod(k, lit(5)) =!= 0)
      .select(k, col("o_orderstatus"), col("price"), lit("D").as("op"))
    // shifted keyspaces are derived from max(o_orderkey) — a 1-row driver
    // pull — not hard-coded offsets a bigger SF's keys would collide with
    // (a collision turns "not matched" into "matched" and breaks the
    // clause semantics; the oracle derives the same bound)
    val ins = low.filter(pmod(k, lit(7)) === 0)
      .select((k + (maxK + 1)).as("o_orderkey"),
        lit("N").as("o_orderstatus"), col("price"), lit("U").as("op"))
    val ghosts = low.filter(pmod(k, lit(11)) === 0)
      .select((k + (4L * maxK + 4)).as("o_orderkey"),
        col("o_orderstatus"), col("price"), lit("D").as("op"))
    val changes = upd.unionByName(dels).unionByName(ins).unionByName(ghosts)
    val before = liveEntries(s, t, 0).map(render)
    val res = applyChanges(s, t, changes, "o_orderkey")
    val after = liveEntries(s, t, res.version).map(render).toSet
    val verbatim = before.count(after.contains) == res.untouched
    val ok = res.touched >= 1 && res.untouched * 2 >= res.total && verbatim
    snapshot(s, t)
      .select(k, col("o_orderstatus"), col("price").cast("double").as("price"))
      .withColumn("full_ok", lit(ok))
  }

  /** op_merge_mor: merge-on-read MERGE — the same 'U'/'D' change-set
    * semantics as op_merge_full, with keys SCATTERED across the whole
    * keyspace (the heavy-churn CDC shape where copy-on-write would
    * rewrite every file). [[applyChangesMor]] lands ONE commit: every
    * pre-merge entry carries byte-identical (asserted on rendered
    * manifest lines), exactly one new tombstone file, the 'U' rows
    * appended at the commit's own seq. mor_ok also proves: content
    * hash-equal to the copy-on-write [[applyChanges]] of the SAME
    * change set on a twin table (symmetric exceptAll, multiset
    * semantics), the pinned pre-merge version intact, and [[compact]]
    * converging both generations to tombstone-free equal content. */
  def mergeMor(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("mergemor_orders")
    val t2 = freshDir("mergemor_cow")
    val base = ordersSlice(s, d)
    val k = col("o_orderkey")
    Seq(t, t2).foreach(dir =>
      commit(s, dir, stageIndexed(s, dir,
        base.repartitionByRange(8, k).sortWithinPartitions(k),
        "o_orderkey"),
        expected = -1L, op = "create", schemaJson = base.schema.json))
    val maxK = base.agg(max("o_orderkey")).collect()(0).getLong(0)
    // scattered: every file's key range contains %-selected keys
    val upd = base.filter(pmod(k, lit(5)) === 0)
      .select(k, lit("U").as("o_orderstatus"),
        (col("price") + lit(100).cast(D12)).cast(D12).as("price"),
        lit("U").as("op"))
    val dels = base.filter(pmod(k, lit(3)) === 0 && pmod(k, lit(5)) =!= 0)
      .select(k, col("o_orderstatus"), col("price"), lit("D").as("op"))
    val ins = base.filter(pmod(k, lit(7)) === 0)
      .select((k + (maxK + 1)).as("o_orderkey"),
        lit("N").as("o_orderstatus"), col("price"), lit("U").as("op"))
    val ghosts = base.filter(pmod(k, lit(11)) === 0)
      .select((k + (4L * maxK + 4)).as("o_orderkey"),
        col("o_orderstatus"), col("price"), lit("D").as("op"))
    val changes = upd.unionByName(dels).unionByName(ins).unionByName(ghosts)
    val nBase = base.count()
    val before = liveEntries(s, t, 0).map(render)
    val v = applyChangesMor(s, t, changes, "o_orderkey")         // v1
    val after = liveEntries(s, t, v).map(render)
    // zero data files rewritten: every pre-merge entry line carries
    // VERBATIM (path, seq, stats — byte-identical), plus the appends
    val carried = before.forall(after.toSet.contains)
    val oneTomb = deleteFiles(s, t, v).size == 1
    val pinned = snapshot(s, t, 0).count() == nBase
    // the copy-on-write twin applies the SAME change set
    applyChangesMulti(s, t2, changes, Seq("o_orderkey"))
    def eq(a: DataFrame, b: DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val cowEqual = eq(snapshot(s, t), snapshot(s, t2))
    // compaction applies the tombstones: both generations converge to
    // the same tombstone-free content
    val vc = compact(s, t)
    val converged = deleteFiles(s, t, vc).isEmpty &&
      eq(snapshot(s, t), snapshot(s, t2))
    val ok = carried && oneTomb && pinned && cowEqual && converged
    snapshot(s, t)
      .select(k, col("o_orderstatus"), col("price").cast("double").as("price"))
      .withColumn("mor_ok", lit(ok))
  }

  /** op_compact_range: PARTIAL compaction ([[compactRange]]) as a
    * checked query — the `OPTIMIZE … WHERE` move that keeps a 100 TB
    * table healthy without rewriting its cold bulk. The orders slice
    * is range-clustered into 8 key-ranged files, the lowest QUARTER of
    * the keyspace is then fragmented by four small scattered appends
    * (the merge-per-batch hot-region shape), and compactRange merges
    * exactly the hot region: `cr_ok` asserts every COLD entry line
    * carried byte-identical (the untouched 3/4 were never read or
    * rewritten — from commit metrics AND entry-line equality), the hot
    * region's file count dropped, and post-compaction manifest pruning
    * still skips files on the same key ranges. The hashed output is
    * the full content — compaction must be invisible. */
  def compactRangeQ(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("cr_orders")
    val base = ordersSlice(s, d)
    val k = col("o_orderkey")
    commit(s, t, stageIndexed(s, t,
      base.repartitionByRange(8, k).sortWithinPartitions(k), "o_orderkey"),
      expected = -1L, op = "create", schemaJson = base.schema.json)
    val b = base.agg(min("o_orderkey"), max("o_orderkey")).collect()(0)
    val (kmin, kmax) = (b.getLong(0), b.getLong(1))
    val hi = kmin + (kmax - kmin) / 4
    // fragment the HOT quarter: four scattered small appends
    (0 until 4).foreach { i =>
      append(s, t, base.filter(k <= hi && pmod(k, lit(4)) === i)
        .select(k, lit(s"H$i").as("o_orderstatus"),
          col("price")).repartition(2))
    }
    val mBefore = manifest(s, t, currentVersion(s, t))
    val pc = "o_orderkey"
    def inHot(e: Entry): Boolean =
      e.stats.find(_.col == pc).exists(st => st.lo <= hi)
    val hotBefore = mBefore.entries.count(inHot)
    val coldLines = mBefore.entries.filterNot(inHot).map(render).toSet
    val v = compactRange(s, t, "o_orderkey", kmin, hi)
    val mAfter = manifest(s, t, v)
    val coldAfter = mAfter.entries.filterNot(inHot).map(render).toSet
    val hotAfter = mAfter.entries.count(inHot)
    // pruning still works on the compacted layout
    val (_, scanned, total) =
      snapshotWhere(s, t, col("o_orderkey").between(kmin, hi))
    val ok = coldLines.subsetOf(coldAfter) &&
      mAfter.metrics("untouched") == coldLines.size.toLong &&
      hotAfter < hotBefore && hotBefore >= 5 &&
      scanned < total
    snapshot(s, t)
      .select(k, col("o_orderstatus"), col("price").cast("double").as("price"))
      .withColumn("cr_ok", lit(ok))
  }

  /** op_mor_cdc: the MERGE-ON-READ change feed — [[applyChangesMor]]
    * with `cdc = true` publishes the commit's SIGNED feed from the
    * same manifest write, and the feed's cost FOLLOWS THE CHANGE: the
    * pre-image side is a broadcast key-set semi-join of the snapshot
    * (change-set-sized output), never overwriteCdc's full-table diff —
    * on a 100 TB table taking minutely CDC batches that is the
    * difference between a feed costing O(change set) and one costing a
    * table scan per commit. Two MoR change batches land (scattered
    * deletes, updates, inserts; zero data files rewritten, tombstones
    * pending throughout); the OUTPUT is the incremental-view fold —
    * v0's aggregate plus both commits' signed feeds telescoped — which
    * the oracle checks against a DIRECT replay of the final content:
    * continuous incremental maintenance ≡ recompute, through MoR
    * commits. `mor_cdc_ok` asserts the mechanics: every v0 entry line
    * carried verbatim through both commits, one manifest-referenced
    * feed file per commit, two tombstones pending. */
  def morCdc(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("morcdc_orders")
    val base = ordersSlice(s, d)
    val k = col("o_orderkey")
    commit(s, t, stageIndexed(s, t,
      base.repartitionByRange(8, k).sortWithinPartitions(k), "o_orderkey"),
      expected = -1L, op = "create", schemaJson = base.schema.json)
    val v0Lines = liveEntries(s, t, 0).map(render).toSet
    def del(df: DataFrame) = df.select(k, col("o_orderstatus"),
      col("price"), lit("D").as("op"))
    def upd(df: DataFrame, st: String, bump: Int) = df.select(k,
      lit(st).as("o_orderstatus"),
      (col("price") + lit(bump).cast(D12)).cast(D12).as("price"),
      lit("U").as("op"))
    def ins(df: DataFrame, st: String, shift: Long) = df.select(
      (k + shift).as("o_orderkey"), lit(st).as("o_orderstatus"),
      col("price"), lit("U").as("op"))
    val ch1 = del(base.filter(pmod(k, lit(9)) === 0))
      .unionByName(upd(base.filter(pmod(k, lit(10)) === 0 &&
        pmod(k, lit(9)) =!= 0), "U", 100))
      .unionByName(ins(base.filter(pmod(k, lit(97)) === 0),
        "N", 100000000L))
    val v1 = applyChangesMor(s, t, ch1, "o_orderkey", cdc = true)
    val untouched = pmod(k, lit(9)) =!= 0 && pmod(k, lit(10)) =!= 0
    val ch2 = del(base.filter(pmod(k, lit(11)) === 0 && untouched))
      .unionByName(upd(base.filter(pmod(k, lit(13)) === 0 && untouched &&
        pmod(k, lit(11)) =!= 0), "V", 200))
      .unionByName(ins(base.filter(pmod(k, lit(89)) === 0),
        "M", 200000000L))
    val v2 = applyChangesMor(s, t, ch2, "o_orderkey", cdc = true)
    def feedOf(v: Long): DataFrame = {
      val refs = manifest(s, t, v).cdcRefs
      s.read.parquet(refs.map(r => s"$t/$r"): _*)
    }
    val headLines = liveEntries(s, t, v2).map(render).toSet
    val ok = v0Lines.subsetOf(headLines) &&
      manifest(s, t, v1).cdcRefs.size == 1 &&
      manifest(s, t, v2).cdcRefs.size == 1 &&
      deleteFiles(s, t, v2).size == 2
    val pick = (df: DataFrame) =>
      df.select(col("o_orderstatus"), col("w"), col("price"))
    pick(snapshot(s, t, 0).withColumn("w", lit(1)))
      .unionByName(pick(feedOf(v1)))
      .unionByName(pick(feedOf(v2)))
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("w")).as("n"),
        sum(col("w") * col("price")).cast("double").as("total"))
      .filter(col("n") =!= 0)
      .withColumn("mor_cdc_ok", lit(ok))
  }

  /** op_tomb_rewrite: [[rewriteTombstones]] as a checked query — the
    * between-compactions maintenance of a merge-per-batch stream. Five
    * MoR batches land on the orders slice (scattered deletes, updates,
    * a RE-DELETE of previously-updated keys, inserts), accreting five
    * equality tombstone files; the rewrite collapses them into ONE
    * bounded (key, L) file per key column from the tombstone files
    * alone — zero data files read or touched, entries byte-identical —
    * and the read-side anti-join state stays flat from then on.
    * `rewrite_ok` asserts: five tombstones before / one `~L` after,
    * every entry line carried verbatim, content hash-invariant across
    * the rewrite (both directions), the pinned pre-rewrite version
    * intact, and compact() converging to the same content clean. The
    * hashed output replays the change algebra in the oracle. */
  def tombRewrite(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("tombrw_orders")
    val base = ordersSlice(s, d)
    val k = col("o_orderkey")
    commit(s, t, stageIndexed(s, t,
      base.repartitionByRange(8, k).sortWithinPartitions(k), "o_orderkey"),
      expected = -1L, op = "create", schemaJson = base.schema.json)
    val maxK = base.agg(max("o_orderkey")).collect()(0).getLong(0)
    def ch(df: DataFrame): Long = applyChangesMor(s, t, df, "o_orderkey")
    // b1: scattered deletes
    ch(base.filter(pmod(k, lit(3)) === 0)
      .select(k, col("o_orderstatus"), col("price"), lit("D").as("op")))
    // b2: updates (delete + re-insert at one seq)
    ch(base.filter(pmod(k, lit(5)) === 0 && pmod(k, lit(3)) =!= 0)
      .select(k, lit("U2").as("o_orderstatus"),
        (col("price") + lit(100).cast(D12)).cast(D12).as("price"),
        lit("U").as("op")))
    // b3: RE-DELETE half the updated keys — newest delete must win
    ch(base.filter(pmod(k, lit(10)) === 0 && pmod(k, lit(3)) =!= 0)
      .select(k, col("o_orderstatus"), col("price"), lit("D").as("op")))
    // b4: inserts above the keyspace
    ch(base.filter(pmod(k, lit(11)) === 0)
      .select((k + (maxK + 1)).as("o_orderkey"),
        lit("N").as("o_orderstatus"), col("price"), lit("U").as("op")))
    // b5: more scattered deletes on an untouched class
    ch(base.filter(pmod(k, lit(7)) === 0 && pmod(k, lit(3)) =!= 0 &&
        pmod(k, lit(5)) =!= 0)
      .select(k, col("o_orderstatus"), col("price"), lit("D").as("op")))
    val cur = currentVersion(s, t)
    val mBefore = manifest(s, t, cur)
    // order-free content signature: one aggregate per side instead of
    // an exceptAll join pair — the invariant checks are scenario
    // bookkeeping and must not dominate the operation they certify
    def sig(df: DataFrame): (Long, java.math.BigDecimal) = {
      // decimal(38,0) sum: immune to ANSI long overflow at any SF
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("o_orderkey"), col("o_orderstatus"),
          col("price")).cast(DecimalType(38, 0)))).collect()(0)
      (r.getLong(0), r.getDecimal(1))
    }
    val before = sig(snapshot(s, t))
    val v = rewriteTombstones(s, t)
    val mAfter = manifest(s, t, v)
    val collapsed = mBefore.deletes.size == 5 &&
      mAfter.deletes.size == 1 && mAfter.deletes.head._2 == "o_orderkey~L"
    val verbatim = mAfter.entries == mBefore.entries
    val invariant = sig(snapshot(s, t)) == before &&
      sig(snapshot(s, t, cur)) == before
    val vc = compact(s, t)
    // count-only here: full-content convergence through compact is
    // op_merge_mor's assertion; this query certifies the REWRITE
    val converged = deleteFiles(s, t, vc).isEmpty &&
      snapshot(s, t).count() == before._1
    val ok = collapsed && verbatim && invariant && converged
    snapshot(s, t)
      .select(k, col("o_orderstatus"), col("price").cast("double").as("price"))
      .withColumn("rewrite_ok", lit(ok))
  }

  /** op_dv_rewrite: POSITIONAL-DV CONSOLIDATION — the maintenance that
    * keeps merge-on-read-by-coordinate readable. Five DV-producing
    * commits (a dedupMor over a doubled seed, three predicate deletes,
    * one predicate update) each park their own `~pos` vector; every
    * read then pays FIVE anti-join probe groups. [[rewriteTombstones]]
    * merges the five coordinate parquets into ONE (f, p)-sorted vector
    * — a pure coordinate union (distinct dedupes exact collisions),
    * NO data file read or removed, entries carried verbatim — because
    * exact coordinates can never over-kill: each named file's entry
    * seq is below its own vector's seq ≤ the carried max. `dv_ok`
    * certifies: 5 → 1 `~pos` lines, the merged coordinate SET exactly
    * equals the union of the five originals, the single vector file is
    * (f, p)-sorted, content hash-invariant at head AND at the pinned
    * pre-rewrite version, and a compact afterwards folds the vector
    * away with the row count preserved. Hashed output = the surviving
    * rows (oracle replays the five-step change algebra). At 100 TB: a
    * per-batch DV stream accretes one vector per commit — this is the
    * O(Σ|vectors|) maintenance that caps read cost at one probe group,
    * touching zero data bytes. */
  def dvRewrite(s: SparkSession, d: String): DataFrame = {
    val t = freshDir("dvrw_orders")
    val base = ordersSlice(s, d)
    val k = col("o_orderkey")
    // seed DOUBLED: every k % 6 == 0 row appears twice, so the dedup
    // pass has real victims
    val seed = base.unionByName(base.filter(pmod(k, lit(6)) === 0))
    commit(s, t, stage(s, t, seed.repartition(8)), expected = -1L,
      op = "create", schemaJson = seed.schema.json)
    val seeded = seed.count()
    // five positional vectors, five different shapes
    dedupMor(s, t, Seq("o_orderkey")) // c1: exact-dup coordinates
    deleteWherePos(s, t, pmod(k, lit(9)) === 0) // c2
    updateWherePos(s, t, pmod(k, lit(10)) === 5, // c3: DV + fresh files
      Seq("price" -> (col("price") + lit(50).cast(D12)).cast(D12)))
    deleteWherePos(s, t, // c4: predicate over an unindexed column
      col("o_orderstatus") === "P" && pmod(k, lit(4)) === 1)
    deleteWherePos(s, t, pmod(k, lit(27)) === 1) // c5
    val cur = currentVersion(s, t)
    val mBefore = manifest(s, t, cur)
    def coordSet(m: Manifest): Set[(String, Long)] =
      s.read.parquet(m.deletes.map(l => pathFor(t, l._1)): _*)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val coordsBefore = coordSet(mBefore)
    def sig(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("o_orderkey"), col("o_orderstatus"),
          col("price")).cast(DecimalType(38, 0)))).collect()(0)
      (r.getLong(0), r.getDecimal(1))
    }
    val before = sig(snapshot(s, t))
    val v = rewriteTombstones(s, t)
    val mAfter = manifest(s, t, v)
    val collapsed = mBefore.deletes.size == 5 &&
      mBefore.deletes.forall(_._2 == "~pos") &&
      mAfter.deletes.size == 1 && mAfter.deletes.head._2 == "~pos"
    val verbatim = mAfter.entries == mBefore.entries
    // the merged vector: the EXACT union, in (f, p) order on disk
    val mergedRows = s.read
      .parquet(pathFor(t, mAfter.deletes.head._1)).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val exactUnion = mergedRows.toSet == coordsBefore &&
      mergedRows.length == coordsBefore.size
    val sorted = mergedRows.sameElements(mergedRows.sortBy(identity))
    // content invariant at head AND at the pinned pre-rewrite version;
    // the pre-DV seed still answers through the v0 pin
    val invariant = sig(snapshot(s, t)) == before &&
      sig(snapshot(s, t, cur)) == before &&
      snapshot(s, t, 0L).count() == seeded
    val vc = compact(s, t)
    val converged = deleteFiles(s, t, vc).isEmpty &&
      snapshot(s, t).count() == before._1
    val ok = collapsed && verbatim && exactUnion && sorted &&
      invariant && converged
    snapshot(s, t)
      .select(k, col("o_orderstatus"), col("price").cast("double").as("price"))
      .withColumn("dv_ok", lit(ok))
  }

  /** op_txn_wap: WRITE–AUDIT–PUBLISH as a checked query — the pattern
    * production lakehouses use to keep unvalidated data out of consumer
    * view: the arriving batch (with a deterministically-injected
    * violation: a negative-price slice) is staged on a zero-copy BRANCH
    * ([[shallowClone]] + append — main's timeline never moves), the
    * audit query runs against the branch and catches the violation, the
    * FIX deletes the violating keyspace on the branch (file-pruned range
    * delete), and [[publish]] cherry-picks the branch's additions onto
    * main as ONE metadata commit — every published entry an absolute
    * reference into the branch's data, nothing copied. Hashed output =
    * main's pre-publish (base) and published (base + clean batch)
    * aggregates; `wap_ok` asserts the mechanics: the audit fired, main
    * stayed at v0 throughout audit+fix, the re-audit is clean, publish
    * advanced main exactly once, and every new main entry points into
    * the branch directory. */
  def txnWap(s: SparkSession, d: String): DataFrame = {
    val main = freshDir("wap_main")
    val branch = freshDir("wap_branch")
    val base = ordersSlice(s, d)
    val k = col("o_orderkey")
    commit(s, main, stageIndexed(s, main,
      base.repartitionByRange(4, k).sortWithinPartitions(k), "o_orderkey"),
      expected = -1L, op = "create", schemaJson = base.schema.json)
    // batch keyspaces derive from max(o_orderkey) (1-row driver pull):
    // good keys land in (maxK, 2·maxK+1], bad keys above 2·maxK+1 — no
    // SF can collide them with base keys or each other, and the fix's
    // range delete below removes exactly the bad slice
    val maxK = base.agg(max(k).cast("long")).head.getLong(0)
    val good = base.filter(pmod(k, lit(89)) === 0)
      .select((k + (maxK + 1)).as("o_orderkey"), col("o_orderstatus"),
        col("price"))
    val bad = base.filter(pmod(k, lit(181)) === 0)
      .select((k + (2 * maxK + 2)).as("o_orderkey"), col("o_orderstatus"),
        (col("price") * -1).cast(D12).as("price"))
    val batch = good.unionByName(bad)
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
    shallowClone(s, main, branch)
    append(s, branch, batch)
    // AUDIT — on the branch; consumers of main can never see this data
    val nBad = snapshot(s, branch).filter(col("price") < 0).count()
    val mainStill0 = currentVersion(s, main) == 0L
    // FIX — drop the violating keyspace on the branch (range delete,
    // file-pruned through the batch's key-clustered stats)
    deleteRange(s, branch, "o_orderkey", 2 * maxK + 2, Long.MaxValue)
    val nBadAfter = snapshot(s, branch).filter(col("price") < 0).count()
    // PUBLISH — one metadata commit grafting the audited additions
    val vPub = publish(s, branch, main)
    val newRefs = liveEntries(s, main, vPub).map(_.path)
      .filter(_.startsWith("/"))
    val ok = nBad > 0 && mainStill0 && nBadAfter == 0 && vPub == 1L &&
      newRefs.nonEmpty && newRefs.forall(_.startsWith(branch + "/"))
    statusAgg(snapshot(s, main, 0), "pre_publish")
      .unionByName(statusAgg(snapshot(s, main), "published"))
      .withColumn("wap_ok", lit(ok))
  }
}
