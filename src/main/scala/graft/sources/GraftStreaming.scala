package graft.sources

import graft.operators.TxnTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.graftbridge.{Bridge, StatsWrite, StreamBridge}
import org.apache.spark.sql.types.StructType

/** STRUCTURED STREAMING through the catalog: `readStream.table(
  * "graft.ns.t")` tails the commit log (one offset = one committed
  * version; each micro-batch reads exactly the files that version's
  * commit ADDED), and `writeStream.toTable("graft.ns.t")` lands each
  * epoch as ONE atomic manifest commit whose `#metrics=` header records
  * the epoch — the two halves of the exactly-once contract:
  *
  *  - SOURCE: offsets are commit versions, durable in the stream's own
  *    checkpoint. A replayed batch (start, end] re-reads the identical
  *    file set — the log is immutable — so reprocessing is
  *    deterministic. Append-only by design: a commit that REMOVES live
  *    files (compact, overwrite, delete) or adds merge-on-read
  *    tombstones fails the stream loudly rather than silently
  *    re-emitting or missing rows (the Delta/Iceberg streaming-source
  *    rule); metadata-only commits (evolve, recluster, checkpoint) pass
  *    through as empty batches.
  *  - SINK: executors write real parquet through Spark's own prepared
  *    writer factory ([[StreamBridge.writerRecipe]]), measuring each
  *    file's manifest stats from the rows as they write them (the same
  *    measurer as every batch staging write); the driver renders the
  *    lines from what the tasks report and lands them via the
  *    OCC-resolving append. The commit carries
  *    (`epoch`, `qtag`) in its metrics header; a REPLAYED epoch — the
  *    restart path of every foreachBatch recipe, here native — finds
  *    its epoch already at-or-below the newest committed one and skips,
  *    deleting the orphaned stage. Idempotence lives in the LOG, not in
  *    session state, so it survives driver restarts.
  *
  * At 100 TB: the source's per-batch work is O(files added by that
  * commit) — tailing a minutely-committed table costs the minute's
  * delta, never a table scan; the sink's per-epoch work is the write
  * job itself plus one manifest CAS. */
object GraftStreaming {

  /** Offset = committed version number. */
  case class VersionOffset(v: Long) extends Offset {
    override def json: String = v.toString
  }

  /** Sub-version CDC offset: fully consumed through version `v`, PLUS
    * the first `files` change files of version v+1 — the rows-capped
    * admission's split point, so one giant commit need not become one
    * giant micro-batch. Serializes to the plain version number when
    * files == 0: a checkpoint written before (or without) the rows cap
    * round-trips unchanged, and removing the cap later resumes a
    * mid-version checkpoint correctly (the next batch simply drains
    * the version's remaining files). */
  case class CdcOffset(v: Long, files: Int) extends Offset {
    override def json: String =
      if (files == 0) v.toString else s"$v:$files"
  }
  object CdcOffset {
    def parse(json: String): CdcOffset = json.split(':') match {
      case Array(v) => CdcOffset(v.toLong, 0)
      case Array(v, f) => CdcOffset(v.toLong, f.toInt)
      case _ => throw new IllegalArgumentException(
        s"malformed cdc offset '$json'")
    }
  }

  /** Resolve the `startingVersion` / `startingTimestamp` options to the
    * initial offset (= last consumed version): absent → −1 (everything,
    * INCLUDING version 0 — a CTAS or `TxnTable.create(df)` table
    * carries its full content at v0, so "absent = the whole table" must
    * emit v0's files, not walk (0, end]; the walk treats −1 as an empty
    * synthetic parent), `"latest"` → current, `"<n>"` → n−1 so n itself
    * streams. For n ≥ 1, n−1's manifest must still be retained (the
    * added-file diff needs it) — a vacuumed start fails loudly at the
    * first batch, never silently skips.
    *
    * `startingTimestamp` (epoch millis or an ISO-8601 instant — no
    * session-timezone parsing on either side) streams every commit made
    * AT OR AFTER the target ([[TxnTable.offsetSince]]: one listing,
    * newest-first header walk); a target past every retained commit
    * starts a pure TAIL (future commits always qualify, timestamps
    * being monotonized), and a target whose replay would need vacuumed
    * manifests refuses loudly. Mutually exclusive with
    * `startingVersion`. */
  private[sources] def resolveStart(ident: String, location: String,
      startingVersion: Option[String], s: SparkSession,
      startingTimestamp: Option[String] = None): Long = {
    val resolved = resolveStartRaw(ident, location, startingVersion, s,
      startingTimestamp)
    // INITIAL-DEFAULT guard: a replay range that includes files written
    // BEFORE a defaulted column was added would emit the stored bytes —
    // NULL where every batch read answers the default. Refuse the
    // anchor loudly (silently-different rows are the one thing a
    // replay must never produce); anchors at or after the add stream
    // normally — those files carry real values. One manifest parse at
    // stream START only, never per batch.
    val head = TxnTable.currentVersion(s, location)
    val defs = TxnTable.defaultedFields(
      TxnTable.manifest(s, location, head).schema
        .getOrElse(org.apache.spark.sql.types.StructType(Nil)))
    if (defs.nonEmpty) {
      // compare VERSIONS with versions: the effective-since VERSION
      // stamp, not the data seq (they diverge on shallow clones, where
      // a seq-based guard would refuse perfectly safe tails forever)
      val maxSince = defs.map(_._4).max
      require(resolved >= maxSince - 1,
        s"$ident: a stream starting at version ${resolved + 1} would " +
          s"replay files that predate a column with an initial DEFAULT " +
          s"(added at commit $maxSince) and emit NULL where reads " +
          "answer the default; anchor at or after the add " +
          s"(startingVersion >= $maxSince)")
    }
    resolved
  }

  private def resolveStartRaw(ident: String, location: String,
      startingVersion: Option[String], s: SparkSession,
      startingTimestamp: Option[String]): Long =
    (startingVersion, startingTimestamp) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        s"$ident: startingVersion and startingTimestamp are mutually " +
          "exclusive — pick one way to anchor the stream's start")
      case (None, Some(raw)) =>
        def bad(): Nothing = throw new IllegalArgumentException(
          s"$ident: startingTimestamp must be epoch millis or an " +
            s"ISO-8601 instant ('2024-01-01T00:00:00Z'), got '$raw'")
        val ms =
          if (raw.matches("-?\\d+"))
            // a 20-digit paste (nanos epoch) must get THIS message, not
            // a raw NumberFormatException
            try raw.toLong catch { case _: NumberFormatException => bad() }
          else try java.time.Instant.parse(raw).toEpochMilli catch {
            case _: java.time.format.DateTimeParseException => bad()
          }
        TxnTable.offsetSince(s, location, ms)
      case (None, None) => -1L
      case (Some("latest"), None) => TxnTable.currentVersion(s, location)
      case (Some(n), None) =>
        val v = try n.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$ident: startingVersion must be a commit number or " +
              s"'latest', got '$n'")
        }
        require(v >= 0, s"$ident: startingVersion must be >= 0, got $v")
        v - 1
    }

  /** Wrap a batch parquet scan with micro-batch capability: batch reads
    * delegate untouched; `toMicroBatchStream` tails the log at the
    * scan's (column-pruned) read schema. Pushed data filters are safe to
    * ignore stream-side: FileScanBuilder reports every data filter back
    * to Spark as post-scan, so the Filter node above the streaming scan
    * re-applies the full predicate. */
  class StreamableScan(val inner: Scan, mk: StructType => MicroBatchStream,
      manifestStats: () =>
        Option[org.apache.spark.sql.connector.read.Statistics] = () => None)
      extends Scan
      with org.apache.spark.sql.connector.read.SupportsReportStatistics {
    override def readSchema(): StructType = inner.readSchema()
    override def description(): String = inner.description()
    override def toBatch: Batch = inner.toBatch
    override def toMicroBatchStream(checkpointLocation: String)
        : MicroBatchStream = mk(inner.readSchema())
    override def supportedCustomMetrics(): Array[CustomMetric] =
      inner.supportedCustomMetrics()
    override def reportDriverMetrics(): Array[CustomTaskMetric] =
      inner.reportDriverMetrics()
    override def columnarSupportMode(): Scan.ColumnarSupportMode =
      inner.columnarSupportMode()
    // size estimation must survive the wrap: planner broadcast decisions
    // read the scan's reported statistics. MANIFEST stats win when
    // available — exact post-prune bytes + row count + per-column
    // NDV/null sketches from the log, no ANALYZE, no footer reads;
    // the inner parquet scan's listing-based size is the fallback.
    override def estimateStatistics()
        : org.apache.spark.sql.connector.read.Statistics =
      manifestStats().getOrElse(inner match {
        case r: org.apache.spark.sql.connector.read
            .SupportsReportStatistics => r.estimateStatistics()
        case _ => new org.apache.spark.sql.connector.read.Statistics {
          override def sizeInBytes(): java.util.OptionalLong =
            java.util.OptionalLong.empty()
          override def numRows(): java.util.OptionalLong =
            java.util.OptionalLong.empty()
        }
      })
  }

  /** [[StreamableScan]] that additionally accepts RUNTIME filters — the
    * DSv2 dynamic-pruning contract ([[SupportsRuntimeV2Filtering]]):
    * when this scan sits under a join whose OTHER side is broadcast,
    * Spark's `PartitionPruning` rule plants a dynamic-pruning subquery
    * on the join key (any column in `attrs` — the table's indexed
    * columns), and at execution [[filter]] receives the build side's
    * actual key set. The scan then re-prunes its MANIFEST entries with
    * the runtime IN-set and re-plans over only the surviving files —
    * the star-join move at 100 TB: a selective dim filter shrinks the
    * fact scan to the files the matching keys can live in, before a
    * single fact byte is read. Classic DPP prunes partition
    * DIRECTORIES; here the unit is the manifest entry, so it works on
    * range-clustered, z-ordered and hash-bucketed layouts alike.
    *
    * `filter` only ever SHRINKS the file list (manifest pruning is
    * conservative and monotone in the conjunct set), and the join above
    * the scan re-applies the real condition per row — an undecodable
    * runtime predicate is dropped, never guessed at. */
  class RuntimeFilterableScan(inner0: Scan,
      mk: StructType => MicroBatchStream,
      manifestStats: () =>
        Option[org.apache.spark.sql.connector.read.Statistics],
      attrs: Array[org.apache.spark.sql.connector.expressions.NamedReference],
      rebuild: Seq[org.apache.spark.sql.catalyst.expressions.Expression]
        => Scan)
      extends StreamableScan(inner0, mk, manifestStats)
      with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

    @volatile private var current: Scan = inner0

    // BatchScanExec calls toBatch AGAIN after filter() — the rebuilt
    // (file-pruned) scan must answer, not the planning-time one
    override def toBatch: Batch = current.toBatch

    override def filterAttributes()
        : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
      attrs

    override def filter(predicates: Array[
        org.apache.spark.sql.connector.expressions.filter.Predicate])
        : Unit = {
      val exprs = predicates.toSeq.flatMap(ManifestPrune.fromV2)
      if (exprs.nonEmpty) current = rebuild(exprs)
    }
  }
}

/** The commit-log tail as a DSv2 micro-batch stream. `maxVersions`
  * bounds versions per trigger (rate limiting — batch size is a config,
  * not the backlog size); Trigger.AvailableNow pins the target version
  * at prepare time and drains up to it in rate-limited batches.
  * `startingVersion` picks where a FRESH checkpoint begins: absent =
  * version 0 (the whole table), `"latest"` = only commits after stream
  * start (the tail-only production default for large tables — no
  * backlog replay), `"<n>"` = commits from version n onward;
  * `startingTimestamp` anchors the same choice by COMMIT TIME instead
  * (every commit at-or-after the target, [[GraftStreaming
  * .resolveStart]]). */
class GraftMicroBatchStream(ident: String, location: String,
    schema: StructType, maxVersions: Option[Long],
    startingVersion: Option[String] = None,
    skipChangeCommits: Boolean = false,
    startingTimestamp: Option[String] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def spark: SparkSession = SparkSession.active

  /** The (column-pruned) read schema under the table's PHYSICAL names:
    * data files of a mapped table carry physical column names, and the
    * micro-batch scan resolves parquet columns by name — while the rows
    * it produces are positional, so downstream still sees the logical
    * schema's order and types unchanged. Resolved per batch from the
    * CURRENT manifest: physical names are frozen at column birth and
    * move only when a compaction restages the table under its live
    * names, so the result gives, per version that added a file, the
    * current mapping or — for a file older than a restage after
    * `after` — the mapping in force before that restage. */
  private def physReadSchema(s: SparkSession, after: Long = Long.MaxValue)
      : Long => StructType = {
    val tsch = TxnTable.manifest(s, location,
      TxnTable.currentVersion(s, location)).schema
    // a mid-stream RENAME of a streamed column would make this lookup
    // miss and silently read NULLs — fail loudly instead (restart the
    // stream to pick up the new logical names)
    tsch.foreach { t =>
      val have = t.fieldNames.toSet
      val missing = schema.fieldNames.filterNot(have)
      require(missing.isEmpty,
        s"$ident: streamed column(s) ${missing.mkString(", ")} no longer " +
          "exist under these names (renamed or dropped mid-stream) — " +
          "restart the stream from the current schema")
    }
    val restages = TxnTable.restages(s, location, tsch, schema.fieldNames,
      after)
    v => TxnTable.toPhysicalSchemaAt(tsch,
      restages.filter(_._1 > v).lastOption.fold(tsch)(_._2), schema)
  }
  @volatile private var availableTarget: Option[Long] = None
  // the batch most recently planned: planInputPartitions and
  // createReaderFactory are called per micro-batch execution
  @volatile private var lastFactory: Option[PartitionReaderFactory] = None

  override def initialOffset(): Offset = GraftStreaming.VersionOffset(
    GraftStreaming.resolveStart(ident, location, startingVersion, spark,
      startingTimestamp))

  override def deserializeOffset(json: String): Offset =
    GraftStreaming.VersionOffset(json.toLong)

  override def prepareForTriggerAvailableNow(): Unit =
    availableTarget = Some(TxnTable.currentVersion(spark, location))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) drives this admission-controlled source")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s0 = start.asInstanceOf[GraftStreaming.VersionOffset].v
    val cur = TxnTable.currentVersion(spark, location)
    val capped = availableTarget.fold(cur)(math.min(cur, _))
    val end = maxVersions.fold(capped)(m => math.min(capped, s0 + m))
    GraftStreaming.VersionOffset(math.max(s0, end))
  }

  override def reportLatestOffset(): Offset =
    GraftStreaming.VersionOffset(TxnTable.currentVersion(spark, location))

  /** Files ADDED by each version in (start, end] — the batch's exact
    * input, each with the version that added it. A start of −1 (the
    * from-the-beginning offset) walks from an
    * EMPTY synthetic parent, so version 0's own files are emitted —
    * CTAS / `create(df)` tables carry their content at v0. Fails loudly
    * on non-append data changes. */
  private def addedFiles(s: SparkSession, start: Long, end: Long)
      : Seq[(Path, Long)] = {
    if (start >= end) return Seq.empty
    // thread the previous manifest through the walk: a catch-up batch
    // over N versions costs N+1 manifest reads, not 2N
    var prev =
      if (start < 0) TxnTable.Manifest("none", None, Nil, Nil)
      else TxnTable.manifest(s, location, start)
    (start + 1 to end).flatMap { v =>
      val cur = TxnTable.manifest(s, location, v)
      val prevPaths = prev.entries.map(_.path).toSet
      val removed = prevPaths -- cur.entries.map(_.path).toSet
      val sameTombs = cur.deletes.toSet == prev.deletes.toSet
      val out =
        if (cur.op == "rewrite_tombstones" && removed.isEmpty &&
            cur.entries.map(_.path).toSet == prevPaths) {
          // tombstone-file maintenance is content-invariant BY
          // CONSTRUCTION (entries verbatim, the bounded tombstone is
          // algebra-equivalent to the files it collapsed) — it passes
          // as an empty batch unconditionally, no opt-in needed; the
          // entry-set equality check keeps the bypass exact
          Seq.empty
        } else if (removed.nonEmpty && skipChangeCommits &&
            Set("compact", "zorder").contains(cur.op) && sameTombs) {
          // skipChangeCommits opt-in: a COMPACTION or ZORDER rewrite
          // replaces files but preserves content (its rows were
          // already emitted by the appends it rewrote), so it passes
          // as an EMPTY batch — a production table can run OPTIMIZE
          // [ZORDER] while being tailed. The op-name +
          // unchanged-tombstone guard keeps this narrower
          // (and safer) than Delta's flag: ops that genuinely retract
          // data — overwrite, delete, merge rewrites, a compact that
          // APPLIED pending tombstones — stay loud even with the
          // option. Its own adds are NOT emitted, and the next
          // version diffs against the post-compact manifest.
          Seq.empty
        } else {
          require(removed.isEmpty,
            s"$ident: version $v (op=${cur.op}) removed ${removed.size} " +
              "live file(s); the streaming source is append-only — " +
              "restart the stream from a fresh checkpoint past the " +
              "rewrite, or set skipChangeCommits=true to pass " +
              "content-preserving compactions as empty batches")
          require(sameTombs,
            s"$ident: version $v changed merge-on-read tombstones; a " +
              "streamed append-only tail cannot retract already-emitted " +
              "rows")
          cur.entries.filterNot(e => prevPaths(e.path))
            .map(e => new Path(TxnTable.pathFor(location, e.path)) -> v)
        }
      prev = cur
      out
    }
  }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = spark
    val s0 = start.asInstanceOf[GraftStreaming.VersionOffset].v
    val e0 = end.asInstanceOf[GraftStreaming.VersionOffset].v
    // one scan per physical read schema: a batch spanning a compaction
    // that restaged the table reads each side under its own names
    val readAs = physReadSchema(s, s0)
    val added = addedFiles(s, s0, e0)
    val groups = added.map(_._2).distinct.groupBy(readAs).toSeq
    val (parts, factory) = groups match {
      case Seq((sch, _)) => StreamBridge.batchFor(s, sch, added.map(_._1))
      case Seq() => StreamBridge.batchFor(s, readAs(Long.MaxValue), Nil)
      case _ => StreamBridge.union(groups.map { case (sch, vs) =>
        StreamBridge.batchFor(s, sch,
          added.collect { case (p, v) if vs.contains(v) => p }) })
    }
    lastFactory = Some(factory)
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory =
    lastFactory.getOrElse(
      StreamBridge.readerFactory(spark,
        physReadSchema(spark)(Long.MaxValue)))

  override def commit(end: Offset): Unit = () // the log retains history

  override def stop(): Unit = ()
}

/** `graft.ns.t.changes` — the committed CHANGE FEED as a metadata
  * table (the Delta `table_changes` / CDF shape): [[TxnTable
  * .overwriteCdc]] publishes each commit's signed diff under
  * `table/_cdc/` and records the file refs in THAT commit's manifest
  * (`#cdc=` header), and this table serves those files through Spark's
  * own parquet scan — batch (`SELECT … FROM graft.ns.t.changes`: the
  * retained feed, optionally bounded by `startingVersion` /
  * `endingVersion` read options, both inclusive — the one-shot
  * catch-up an incremental consumer runs between streaming sessions)
  * and STREAMING (`readStream.table("graft.ns.t.changes")`: offsets
  * are the parent table's commit versions, each micro-batch reads
  * exactly the change files its versions' MANIFESTS reference —
  * commits without a feed pass as empty batches). Change files resolve
  * from manifests, NEVER a `_cdc/` directory listing: a year-old
  * minutely-committed table costs a tail trigger O(new commits), not a
  * paginated LIST of 500k historical feed files. Retention bounds the
  * feed exactly as it bounds time travel — a vacuumed version's feed
  * went with its manifest; explicit bounds naming one fail loudly.
  * Unlike the live-data tail ([[GraftMicroBatchStream]]), compactions
  * and rewrites never disturb this stream: the feed is immutable,
  * append-only by construction. Data-sized, distributed — never a
  * LocalScan. */
class GraftChangesTable(ident: String,
    private[sources] val location: String)
    extends Table with SupportsRead {

  private def spark: SparkSession = SparkSession.active

  /** Change files of the RETAINED versions in [lo, hi], resolved from
    * their manifests' `#cdc=` refs in version order. */
  private def cdcFilesIn(s: SparkSession, lo: Long, hi: Long): Seq[Path] =
    TxnTable.versions(s, location).filter(v => v >= lo && v <= hi)
      .flatMap(v => TxnTable.manifest(s, location, v).cdcRefs)
      .map(r => new Path(TxnTable.pathFor(location, r)))

  override def name(): String = ident

  // one footer read per table INSTANCE (instances resolve per query):
  // schema() is called repeatedly during analysis, and the feed's
  // schema cannot change under a resolved plan anyway
  private lazy val feedSchema: StructType = {
    val s = spark
    // one lazy walk that STOPS at the first version with a feed — the
    // schema probe must not cost a full manifest sweep on old tables
    val first = TxnTable.versions(s, location).iterator
      .map(v => TxnTable.manifest(s, location, v).cdcRefs)
      .collectFirst { case refs if refs.nonEmpty => refs.head }
    require(first.nonEmpty,
      s"$ident: no change feed committed yet (writers publish one via " +
        "TxnTable.overwriteCdc)")
    Bridge.parquetSchema(s, new Path(TxnTable.pathFor(location, first.get)))
  }

  override def schema(): StructType = feedSchema

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)


  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    val s = spark
    // batch bounds: inclusive [startingVersion, endingVersion], default
    // the whole retained feed. Bounds must name retained versions —
    // silently serving a partial range for a vacuumed bound would read
    // as "caught up" when it isn't.
    val retained = TxnTable.versions(s, location)
    def bound(name: String): Option[Long] =
      Option(options.get(name))
        // "latest" is the STREAMING tail-only start; it bounds nothing
        // on the batch path (resolveStart validates it stream-side)
        .filterNot(_ == "latest")
        .map { raw =>
        val v = try raw.toLong catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"$ident: $name must be a commit number, got '$raw'")
        }
        // a FUTURE version is legal: the streaming tail waits for it,
        // and a batch slice of it is simply empty ("no changes in that
        // range yet"). What must stay loud is naming a VACUUMED
        // version — that read would silently serve a truncated feed.
        require(retained.contains(v) ||
          v > retained.lastOption.getOrElse(-1L),
          s"$ident: $name $v names a vacuumed version (retained " +
            s"${retained.headOption.getOrElse(-1L)}" +
            s"..${retained.lastOption.getOrElse(-1L)})")
        v
      }
    val sv = bound("startingVersion")
    val ev = bound("endingVersion")
    (sv, ev) match {
      case (Some(a), Some(b)) => require(a <= b,
        s"$ident: startingVersion $a > endingVersion $b")
      case _ => ()
    }
    // endpoint retention alone is not enough: tag-shielded vacuum
    // (live = tagged ++ newest) can leave INTERIOR holes, and silently
    // omitting the vacuumed middle versions' change files is exactly
    // the truncated-feed read the endpoint check keeps loud. Require
    // the retained versions inside the resolved range to be contiguous
    // — mirroring the streaming walk, which reads version-by-version
    // and fails on the first missing manifest.
    val lo = sv.getOrElse(0L)
    val hi = ev.getOrElse(Long.MaxValue)
    retained.filter(v => v >= lo && v <= hi).sliding(2).foreach {
      case Seq(a, b) if b != a + 1 =>
        throw new IllegalArgumentException(
          s"$ident: change feed range [$lo, " +
            s"${ev.fold("latest")(_.toString)}] has a vacuumed hole — " +
            s"versions ${a + 1}..${b - 1} between retained $a and $b " +
            "are gone (tag-shielded vacuum keeps tagged + newest); " +
            "read bounded slices on either side of the hole instead")
      case _ => ()
    }
    val paths = cdcFilesIn(s, lo, hi)
    // change files carry no manifest stats: the prune is identity, but
    // parquet footer/row-group pruning and column pruning still apply
    new org.apache.spark.sql.graftbridge.PruningScanBuilder(
      s, schema(), options, paths, (_, _) => paths) {
      override def build(): Scan = {
        val maxVersions = Option(options.get("maxVersionsPerTrigger"))
          .map(_.toLong)
        // rows-capped admission (sub-version offsets): one giant
        // commit splits across triggers at change-FILE boundaries —
        // the cap bounds each batch at maxRows unless a single file
        // alone exceeds it (at least one file always admits)
        val maxRows = Option(options.get("maxRowsPerTrigger"))
          .map(_.toLong)
        maxRows.foreach(m => require(m > 0,
          s"$ident: maxRowsPerTrigger must be positive, got $m"))
        val startingVersion = Option(options.get("startingVersion"))
        val startingTs = Option(options.get("startingTimestamp"))
        // readChangeFeed=true upgrades the STREAM to the MatView
        // refresh contract: a feed-less content change in the walked
        // range throws loudly instead of passing as an empty batch —
        // the mode a downstream incremental aggregate must run under
        // (the default stays lenient: observability consumers tailing
        // whatever feeds exist keep working across feed-less commits)
        val strict = Option(options.get("readChangeFeed"))
          .exists(_.toBoolean)
        new GraftStreaming.StreamableScan(super.build(),
          readSchema => new GraftCdcMicroBatchStream(ident, location,
            readSchema, maxVersions, startingVersion, ev, startingTs,
            strict, maxRows))
      }
    }
  }
}

/** The change feed as a micro-batch stream: offsets are the PARENT
  * table's commit versions (the log is the clock), each batch reads
  * the change files its versions' manifests reference (`#cdc=`) —
  * O(versions in the batch) manifest reads per trigger, never a
  * directory listing. `endingVersion` (inclusive) stops the tail at a
  * pinned version — the bounded replay a backfill runs. */
class GraftCdcMicroBatchStream(ident: String, location: String,
    schema: StructType, maxVersions: Option[Long],
    startingVersion: Option[String] = None,
    endingVersion: Option[Long] = None,
    startingTimestamp: Option[String] = None,
    strict: Boolean = false,
    maxRows: Option[Long] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  import GraftStreaming.CdcOffset

  private def spark: SparkSession = SparkSession.active
  @volatile private var availableTarget: Option[Long] = None
  @volatile private var lastFactory: Option[PartitionReaderFactory] = None

  override def initialOffset(): Offset = CdcOffset(
    GraftStreaming.resolveStart(ident, location, startingVersion, spark,
      startingTimestamp), 0)

  override def deserializeOffset(json: String): Offset =
    CdcOffset.parse(json)

  override def prepareForTriggerAvailableNow(): Unit =
    availableTarget = Some(TxnTable.currentVersion(spark, location))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) drives this admission-controlled source")

  /** ONE version's change-file paths, under the mode's contract — the
    * per-version grain both the batch plan and the rows-capped
    * admission walk share, so they can never disagree on which files a
    * version carries. Strict (`readChangeFeed`) routes through the
    * MatView refresh contract's single site (feedRefs: a feed-less
    * content change throws with the remedy; a vacuumed feed names
    * itself); lenient reads whatever refs the manifest carries.
    * Resolutions are MEMOIZED per version (the log is immutable): the
    * rows-capped walk and planInputPartitions resolve the same
    * versions in one trigger, and without the cache strict mode would
    * pay its per-feed existence RPCs twice. */
  private val refsCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Seq[Path]]()
  private def refsOf(s: SparkSession, v: Long): Seq[Path] =
    if (v < 0) Seq.empty
    else {
      // no computeIfAbsent: the strict resolver THROWS on feed-less
      // content changes, and a throwing mapping function must not be
      // retried inside the map's lock
      val hit = refsCache.get(v)
      if (hit != null) hit
      else {
        val refs =
          if (strict)
            try graft.operators.MatView.feedRefs(s, location, v - 1, v)
              .map(new Path(_))
            catch { case e: IllegalArgumentException =>
              throw new IllegalArgumentException(
                s"$ident (readChangeFeed): ${e.getMessage}")
            }
          else TxnTable.manifest(s, location, v).cdcRefs
            .map(r => new Path(TxnTable.pathFor(location, r)))
        refsCache.put(v, refs)
        refs
      }
    }

  /** Footer row count of one change file — the admission currency for
    * maxRowsPerTrigger. One metadata read per file EVER (memoized:
    * change files are immutable, and the first not-yet-admitted file
    * would otherwise re-read its footer every trigger until
    * admitted); never a data scan. */
  private val rowsCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** (memoized versions, memoized file counts) — spec probe for the
    * commit-time eviction contract. */
  private[graft] def cacheFootprint: (Int, Int) =
    (refsCache.size, rowsCache.size)
  private def feedRows(s: SparkSession, p: Path): Long = {
    val hit = rowsCache.get(p.toString)
    if (hit != null) return hit.longValue()
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(p, s.sessionState.newHadoopConf())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val n = try r.getRecordCount finally r.close()
    rowsCache.put(p.toString, n)
    n
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val o = start.asInstanceOf[CdcOffset]
    val cur = TxnTable.currentVersion(spark, location)
    val pinned = endingVersion.fold(cur)(math.min(cur, _))
    val capped = availableTarget.fold(pinned)(math.min(pinned, _))
    val endV = maxVersions.fold(capped)(m => math.min(capped, o.v + m))
    if (endV <= o.v) return o
    if (maxRows.isEmpty) return CdcOffset(endV, 0)
    // ROWS-CAPPED admission: walk forward file by file (footer counts
    // only), admitting until the budget is spent — a version splits
    // across triggers at a file boundary via the sub-version offset.
    // At least ONE file always admits (a single file larger than the
    // cap would otherwise stall the stream forever): the cap is a
    // bound on batches, not a promise to split inside a file.
    var v = o.v
    var f = o.files
    var budget = maxRows.get
    var took = false
    var done = false
    while (!done && v < endV) {
      // an exhausted budget stops the walk BEFORE probing the next
      // version: probing past the boundary could throw the strict
      // feed-less refusal and make the already-admitted (deliverable)
      // batch undeliverable forever
      if (took && budget <= 0) done = true
      else {
        val refs =
          // a strict refusal mid-walk with something already admitted:
          // deliver the admitted prefix now — the NEXT trigger starts
          // at the refusing version and fails there, exactly like the
          // versions-capped admission delivers everything up to the
          // feed-less commit before refusing
          try refsOf(spark, v + 1)
          catch { case _: IllegalArgumentException if took =>
            done = true; Seq.empty
          }
        var k = f
        while (!done && k < refs.size) {
          val rows = feedRows(spark, refs(k))
          if (took && rows > budget) done = true
          else { budget -= rows; took = true; k += 1 }
        }
        if (done && refs.nonEmpty) f = k
        else if (!done) { v += 1; f = 0 }
      }
    }
    CdcOffset(v, f)
  }

  override def reportLatestOffset(): Offset =
    CdcOffset(TxnTable.currentVersion(spark, location), 0)

  /** The change files in (start, end] — whole versions plus the
    * sub-version file slices the rows-capped admission cut. A vacuumed
    * version in the walk fails loudly at manifest resolution — a
    * checkpoint resumed past retention must not silently skip feed
    * history. */
  private def filesIn(s: SparkSession, start: CdcOffset, end: CdcOffset)
      : Seq[Path] = {
    if (end.v < start.v ||
      (end.v == start.v && end.files <= start.files)) return Seq.empty
    if (start.v == end.v)
      // one version split mid-stride: the (files0, files1] slice
      refsOf(s, start.v + 1).slice(start.files, end.files)
    else
      refsOf(s, start.v + 1).drop(start.files) ++
        (start.v + 2 to end.v).flatMap(refsOf(s, _)) ++
        (if (end.files > 0) refsOf(s, end.v + 1).take(end.files)
         else Seq.empty)
  }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = spark
    val (parts, factory) = StreamBridge.batchFor(s, schema,
      filesIn(s, start.asInstanceOf[CdcOffset],
        end.asInstanceOf[CdcOffset]))
    lastFactory = Some(factory)
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory =
    lastFactory.getOrElse(StreamBridge.readerFactory(spark, schema))

  /** A committed offset is a promise never to re-plan at or below it:
    * versions ≤ end.v are fully consumed (a partial slice of end.v+1 —
    * end.files > 0 — still needs its refs next trigger), so their
    * memoized refs and footer counts evict here. A continuous stream
    * over a high-commit-rate table holds O(one trigger window) of
    * metadata, not the table's whole history. */
  override def commit(end: Offset): Unit = {
    val o = end.asInstanceOf[CdcOffset]
    val it = refsCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey <= o.v) {
        e.getValue.foreach(p => rowsCache.remove(p.toString))
        it.remove()
      }
    }
  }

  override def stop(): Unit = ()
}

/** One staged file (relative path), or null for an empty partition,
  * with what the writer measured while writing it: the row count and,
  * when the table was indexed (`spec` = its (index specs, string-stat
  * columns) at the time), the file's stats and byte size. */
private[graft] case class GraftStagedFile(rel: String, rows: Long,
    stats: StatsWrite.FileStats = null, bytes: Long = -1L,
    spec: (Seq[String], Seq[String]) = (Nil, Nil))
    extends WriterCommitMessage

/** The per-epoch executor recipe: each task writes (at most) one parquet
  * file into the epoch's staging subdirectory through Spark's own
  * prepared writer factory, measuring the table's per-file stats
  * (`tracker`, for index `spec`) from the rows as it writes them — the
  * same measurer the batch staging write runs. */
private class GraftStreamWriterFactory(tableLoc: String, sub: String,
    recipe: StreamBridge.WriterRecipe,
    tracker: Option[StatsWrite.FileStatsTracker],
    spec: (Seq[String], Seq[String])) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private val rel = s"$sub/part-$epochId-$partitionId-$taskId.parquet"
    private val abs = s"$tableLoc/$rel"
    private var writer: OutputWriter = _
    private val stats = tracker.map(_.accumulator())
    private var rows = 0L
    override def write(r: InternalRow): Unit = {
      // open lazily: an empty partition stages NO file (the zero-row
      // convention every other commit path keeps)
      if (writer == null) writer = recipe.open(abs, partitionId, taskId)
      writer.write(r)
      stats.foreach(_.add(r))
      rows += 1
    }
    override def commit(): WriterCommitMessage = {
      if (writer == null) GraftStagedFile(null, 0L)
      else {
        writer.close()
        val p = new Path(abs)
        GraftStagedFile(rel, rows, stats.map(_.result).orNull,
          if (stats.isEmpty) -1L
          else p.getFileSystem(recipe.conf.value).getFileStatus(p).getLen,
          spec)
      }
    }
    override def abort(): Unit = {
      if (writer != null) {
        writer.close()
        val p = new Path(abs)
        p.getFileSystem(recipe.conf.value).delete(p, false)
      }
    }
    override def close(): Unit = ()
  }
}

/** The streaming sink: every epoch is ONE manifest commit through the
  * OCC-resolving append, carrying (`epoch`, `qtag`) metrics for replay
  * idempotence. `truncate` = Complete-mode epochs overwrite instead of
  * append. */
class GraftStreamingWrite(ident: String, location: String,
    schema: StructType, queryId: String, truncate: Boolean,
    // race-injection seam for spec determinism ONLY: invoked at the top
    // of every ledger recheck, i.e. exactly inside the refresh↔CAS
    // window a zombie writer could race — production passes a no-op
    private[sources] val beforeAttempt: () => Unit = () => ())
    extends StreamingWrite {

  private def spark: SparkSession = SparkSession.active
  // the replay-ledger tag: the full 128 bits of the query id (streaming
  // query ids are UUIDs) as two long metrics — a 32-bit hash could
  // collide across queries and silently skip a batch as a "replay"
  private val (qtag, qtag2): (Long, Long) =
    try {
      val u = java.util.UUID.fromString(queryId)
      (u.getMostSignificantBits, u.getLeastSignificantBits)
    } catch { case _: IllegalArgumentException =>
      (queryId.hashCode.toLong, queryId.reverse.hashCode.toLong)
    }
  // the replay ledger, maintained INCREMENTALLY: `lastSeen` = newest
  // epoch known committed for this query, `checkedThrough` = newest log
  // version already examined. Every commit() re-reads only the versions
  // that landed since the last check — O(new commits), usually one —
  // so a SECOND live writer instance for the same query (zombie driver
  // during a cluster-mode restart) is detected: its commits are newer
  // than our checkedThrough and surface before we commit. The first
  // call pays one full walk (restart resolution from the log alone).
  @volatile private var lastSeen: Option[Long] = None
  @volatile private var checkedThrough: Long = -1L

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = {
    val s = spark
    val sub = s"data/stream-${java.util.UUID.randomUUID()}"
    val m = TxnTable.manifest(s, location, TxnTable.currentVersion(s, location))
    val spec = (m.idxCols, m.strIdxCols)
    new GraftStreamWriterFactory(location, sub,
      StreamBridge.writerRecipe(s, schema),
      if (m.idxCols.isEmpty && m.strIdxCols.isEmpty) None
      else Some(TxnTable.fileStatsTracker(s, schema, m.idxCols,
        m.strIdxCols)),
      spec)
  }

  /** Advance the ledger: examine log versions newer than
    * `checkedThrough` (newest-first) for this query's commits and fold
    * the newest epoch into `lastSeen`. The log IS the idempotence
    * ledger — a restarted driver has no session state. */
  private def refreshLedger(s: SparkSession): Unit = {
    val versions = TxnTable.versions(s, location)
    val fresh = versions.filter(_ > checkedThrough).sorted.reverse
    val found = fresh.iterator.map(v => TxnTable.manifest(s, location, v))
      .collectFirst {
        case m if m.metrics.get("qtag").contains(qtag) &&
            m.metrics.get("qtag2").forall(_ == qtag2) => m.metrics("epoch")
      }
    found.foreach(e => lastSeen = Some(math.max(lastSeen.getOrElse(e), e)))
    versions.lastOption.foreach(v =>
      checkedThrough = math.max(checkedThrough, v))
  }

  /** Thrown (and caught locally) when the recheck inside the CAS loop
    * finds this epoch already committed — abandons the commit so the
    * orphaned stage can be dropped. */
  private class EpochReplayed extends RuntimeException

  /** CHECK enforcement over THIS epoch's staged files — the same
    * change-set-sized pass every batch write path runs, here as one
    * read of the files the executors just wrote (never the table).
    * Staged files carry PHYSICAL names and constraints reference
    * LOGICAL ones, so the read requests the committed physical schema
    * (columns added after stream start fill NULL — which PASSES, SQL
    * three-valued CHECK semantics) and renames positionally back. */
  private def validateChecks(s: SparkSession,
      checks: Seq[(String, String)], rels: Seq[String],
      tsch: Option[StructType], epochId: Long): Unit = {
    if (checks.isEmpty || rels.isEmpty) return
    val readSch = tsch.map(TxnTable.physicalSchema).getOrElse(schema)
    val logical = tsch.map(_.fieldNames.toSeq)
      .getOrElse(schema.fieldNames.toSeq)
    val df = s.read.schema(readSch)
      .parquet(rels.map(r => s"$location/$r"): _*)
      .toDF(logical: _*)
    TxnTable.enforceChecksPublic(s, checks, df,
      s"$ident: streamed epoch $epochId")
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage])
      : Unit = {
    val s = spark
    val files = messages.collect {
      case f: GraftStagedFile if f.rel != null => f }
    val rels = files.map(_.rel).toSeq
    // REPLAY: this epoch (or a later one) already committed — the
    // restarted stream re-ran the batch, or a parallel zombie instance
    // got there first; drop the orphaned stage, change nothing. Epochs
    // are monotonic per checkpoint, so `>=` is exact. This early check
    // is the cheap fast path; the AUTHORITATIVE check is the recheck
    // inside the CAS loop below, which re-runs before every commit
    // attempt — a zombie committing the same epoch between here and our
    // rename forces a CAS loss, and the next recheck sees its commit
    // (no refresh↔CAS window a duplicate can slip through).
    refreshLedger(s)
    if (lastSeen.exists(_ >= epochId)) {
      TxnTable.dropStaged(s, location, rels); return
    }
    val v0 = TxnTable.currentVersion(s, location)
    val m0 = TxnTable.manifest(s, location, v0)
    // table metadata can move UNDER a running stream — revalidate per
    // epoch, loudly:
    //  - CHECK constraints are enforced over THIS epoch's staged files
    //    (a change-set-sized read — the epoch's files are already
    //    listed in `rels`) BEFORE the manifest CAS; a violating epoch
    //    drops its stage and nothing lands
    //  - the epoch files' physical column names must still PREFIX the
    //    committed physical schema (rename keeps physical names, ADD
    //    COLUMN appends — both pass; a mid-stream DROP+re-ADD would
    //    make these files' column invisible to readers — loud instead)
    try validateChecks(s, m0.checks, rels, m0.schema, epochId)
    catch { case e: Throwable =>
      TxnTable.dropStaged(s, location, rels); throw e
    }
    var validated = m0.checks
    m0.schema.foreach { tsch =>
      val physNow = TxnTable.physicalSchema(tsch).fieldNames.toSeq
      require(physNow.take(schema.fields.length) ==
        schema.fieldNames.toSeq,
        s"$ident: the table's physical schema moved under this stream " +
          s"(now $physNow, epoch files carry " +
          s"${schema.fieldNames.toSeq}) — restart the stream from the " +
          "current schema")
    }
    // the executors measured each file's stats under the index spec the
    // table had when the epoch began; one that moved since (a reindex
    // or recluster racing the stream) would commit files with no or
    // wrong stats — loud instead, like the schema check above
    val spec = (m0.idxCols, m0.strIdxCols)
    files.find(_.spec != spec).foreach { f =>
      TxnTable.dropStaged(s, location, rels)
      throw new IllegalStateException(s"$ident: the table's index moved " +
        s"under this stream (now $spec, epoch files measured ${f.spec}) " +
        "— restart the stream")
    }
    val staged =
      if (spec == ((Nil, Nil))) rels
      else TxnTable.stagedLines(files.map(f => (f.rel, f.bytes)).toSeq,
        files.map(f => (f.rel.split('/').last, f.stats)).toMap,
        m0.idxCols, m0.strIdxCols)
    // an empty APPEND epoch commits nothing (a zero-file version would
    // be unreadable by design); an empty COMPLETE epoch must still
    // overwrite — the new result IS empty, and keeping the previous
    // rows would serve stale data — so it stages the empty sentinel
    // carrying the schema, the same guard delete uses
    if (staged.isEmpty && !truncate) { lastSeen = Some(epochId); return }
    val lines =
      if (staged.nonEmpty) staged
      else TxnTable.stageEmpty(s, location, schema)
    val metrics = Seq("epoch" -> epochId, "qtag" -> qtag,
      "qtag2" -> qtag2, "files" -> staged.size.toLong)
    val recheck: Long => Unit = base => {
      beforeAttempt()
      refreshLedger(s)
      if (lastSeen.exists(_ >= epochId)) throw new EpochReplayed
      // a constraint added between the epoch-start validation and our
      // CAS must not be rebased past (same rule as appendResolving):
      // re-enforce against the moved base's check set — one more
      // change-set pass, only on that race. A violation aborts the
      // commit (the outer catch drops the stage), keeping the loud
      // path when the validation read races the ALTER.
      if (base != v0) {
        val mb = TxnTable.manifest(s, location, base)
        if (mb.checks != validated) {
          validateChecks(s, mb.checks, rels, mb.schema, epochId)
          validated = mb.checks
        }
      }
    }
    try {
      if (truncate)
        TxnTable.commitResolving(s, location, recheck)(base =>
          TxnTable.Change(lines,
            TxnTable.manifest(s, location, base).entries.map(_.path).toSet,
            Set.empty, op = "stream_write", metrics = metrics))
      else
        TxnTable.commitResolving(s, location, recheck)(_ =>
          TxnTable.Change(lines, Set.empty, Set.empty,
            op = "stream_write", metrics = metrics))
      lastSeen = Some(epochId)
    } catch {
      case _: EpochReplayed =>
        // the zombie's commit IS this epoch: ours becomes the orphan
        TxnTable.dropStaged(s, location, lines)
      case e: Throwable =>
        // an abandoned commit (e.g. the concurrent-constraint guard)
        // must not leak its stage
        TxnTable.dropStaged(s, location, lines)
        throw e
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage])
      : Unit =
    TxnTable.dropStaged(spark, location, messages.collect {
      case f: GraftStagedFile if f.rel != null => f.rel }.toSeq)
}
