package graft.catalog

import graft.sources.Snapshots
import graft.sources.Snapshots.Snapshot
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Stream offset for the snapshot store: the highest COMMITTED VERSION
  * the consumer has fully processed. Versions are the store's native
  * epochs — totally ordered, immutable once committed, resolvable to an
  * explicit file list — so they are exactly what a replayable offset
  * must be: re-planning any (start, end] range after a crash yields the
  * same files, because manifests never change. */
final case class VersionOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** The shared half of both micro-batch readers of a snapshot table —
  * the plain stream ([[GraftMicroBatchStream]]) and the row change
  * feed ([[ChangesMicroBatchStream]]): option parsing, offsets,
  * `Trigger.AvailableNow` and the file/byte pacing loop. Both read the
  * log through [[Snapshots.steps]], the one rule for what a commit did
  * to the rows; a subclass supplies only its per-step plan and the
  * files that plan scans ([[stepFiles]], the pacing unit).
  *
  *  - OFFSETS are committed versions ([[VersionOffset]]), EXCLUSIVE: a
  *    micro-batch (start, end] plans the steps after `start`. Offset 0
  *    opens with the initial chunk at the oldest retained version.
  *    `startingVersion` v = only commits after v (unlike Delta's
  *    inclusive `table_changes`); `startingTimestamp` resolves to the
  *    newest version committed at or before the literal
  *    ([[Snapshots.versionAtTimestamp]] — the `TIMESTAMP AS OF` rule),
  *    so the read delivers exactly the commits after that instant. A
  *    timestamp predating retained history starts from the initial
  *    chunk (everything qualifies, Delta's startingTimestamp rule).
  *  - RATE LIMIT: `maxFilesPerTrigger` and `maxBytesPerTrigger` cap
  *    the files (and their summed on-disk size, from local file
  *    metadata — no footer or data I/O) admitted per batch through
  *    [[SupportsAdmissionControl]]; whichever trips first bounds the
  *    batch. Offsets are version-granular, so a version's files are
  *    admitted atomically — a cap rounds UP to the next version
  *    boundary and at least one version is admitted per batch, so an
  *    oversized commit slows the stream down instead of stalling it.
  *  - REPLAY SAFETY: offsets live in the query checkpoint; versions are
  *    immutable; a restarted query re-plans its last range
  *    deterministically. Retention contract: vacuum must keep at least
  *    the versions an active consumer still has to read — a stream
  *    whose checkpointed offset fell below retention fails with the
  *    steps' retention error. */
private[catalog] abstract class VersionTailStream(root: String,
    options: CaseInsensitiveStringMap)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  protected def spark: SparkSession = SparkSession.active

  private val maxFilesPerTrigger: Option[Int] =
    Option(options.get(GraftMicroBatchStream.MaxFilesOption)).map { s =>
      val n = s.trim.toInt
      require(n > 0, s"${GraftMicroBatchStream.MaxFilesOption} must be positive: $n")
      n
    }

  private val maxBytesPerTrigger: Option[Long] =
    Option(options.get(GraftMicroBatchStream.MaxBytesOption)).map(_.trim).map { s =>
      val n = try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s)
      catch { case _: Exception => throw new IllegalArgumentException(
        s"${GraftMicroBatchStream.MaxBytesOption} does not parse as a byte size: $s") }
      require(n > 0, s"${GraftMicroBatchStream.MaxBytesOption} must be positive: $s")
      n
    }

  private val startingVersion: Long = {
    val sv = Option(options.get(GraftMicroBatchStream.StartingVersionOption))
      .map(_.trim.toLong)
    val st = Option(options.get(GraftMicroBatchStream.StartingTimestampOption))
      .map { lit =>
        val cast = org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.expressions.Literal(lit.trim),
          org.apache.spark.sql.types.TimestampType,
          Some(spark.sessionState.conf.sessionLocalTimeZone))
        val micros = try Option(cast.eval()) catch {
          case _: java.time.DateTimeException => None
        }
        micros.map(_.asInstanceOf[Long]).getOrElse(
          throw new IllegalArgumentException(
            s"${GraftMicroBatchStream.StartingTimestampOption} does not " +
              s"parse as a timestamp: $lit"))
      }
    require(sv.isEmpty || st.isEmpty,
      s"set at most one of ${GraftMicroBatchStream.StartingVersionOption} / " +
        GraftMicroBatchStream.StartingTimestampOption)
    // a timestamp that predates retained history starts at the beginning
    sv.orElse(st.flatMap(Snapshots.versionAtOrBefore(root, _))).getOrElse(0L)
  }

  /** Trigger.AvailableNow pins the end of available data at prepare
    * time, so the run drains a FIXED range and terminates even under a
    * concurrent writer. */
  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(Snapshots.maxCommitted(root))

  override def initialOffset(): Offset = VersionOffset(startingVersion)

  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  /** Both caps ride the admission-control channel: Spark hands this
    * value back to `latestOffset(start, limit)` on normal triggers but
    * REPLACES it with `ReadLimit.allAvailable()` for `Trigger.Once`
    * (whose contract is "drain everything in one batch") — so pacing
    * must derive from the `limit` argument, never from the options
    * directly, or a Once run would silently stop after the first
    * paced batch. */
  override def getDefaultReadLimit: ReadLimit =
    if (maxFilesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty)
      ReadLimit.allAvailable()
    else GraftMicroBatchStream.GraftReadLimit(maxFilesPerTrigger, maxBytesPerTrigger)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-controlled entry point")

  override def reportLatestOffset(): Offset =
    VersionOffset(Snapshots.maxCommitted(root))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s0 = start.asInstanceOf[VersionOffset].version
    val head = availableNowEnd.getOrElse(Snapshots.maxCommitted(root))
    if (head <= s0) return VersionOffset(s0)
    val (fileCap: Option[Int], byteCap: Option[Long]) = limit match {
      case g: GraftMicroBatchStream.GraftReadLimit => (g.maxFiles, g.maxBytes)
      case f: ReadMaxFiles => (Some(f.maxFiles()), None)
      case _ => (None, None) // allAvailable (Trigger.Once): no pacing
    }
    if (fileCap.isEmpty && byteCap.isEmpty) VersionOffset(head)
    else {
      // admit whole versions until a cap is crossed; always at least
      // one version, or a single oversized commit would stall the
      // stream forever. A long-lagged catch-up thus paces itself in
      // bounded batches instead of planning one giant one.
      var end = s0
      var count = 0
      var bytes = 0L
      val it = Snapshots.steps(root, s0, head)
      var full = false
      while (!full && it.hasNext) {
        val st = it.next()
        val fs = stepFiles(st)
        val fsBytes =
          if (byteCap.isEmpty) 0L
          else {
            val sized = fs.map { f =>
              try Some(java.nio.file.Files.size(java.nio.file.Paths.get(f)))
              catch { case _: Exception => None }
            }
            // a file that can't be sized at offset-planning time (e.g.
            // racing a vacuum) must count as SOMETHING — a 0-byte
            // fallback would let a batch silently blow past the cap.
            // Estimate it at the mean of the sized siblings, or the
            // cap itself when nothing sized (maximally conservative:
            // the version still gets admitted alone, just not packed
            // with others)
            val known = sized.flatten
            val est =
              if (known.nonEmpty) math.max(1L, known.sum / known.size)
              else byteCap.get
            sized.map(_.getOrElse(est)).sum
          }
        val over = fileCap.exists(c => count + fs.size > c) ||
          byteCap.exists(b => bytes + fsBytes > b)
        if (end > s0 && over) full = true
        else { end = st.version; count += fs.size; bytes += fsBytes }
      }
      VersionOffset(end)
    }
  }

  /** The files the plan of one step scans — the pacing unit.
    * Metadata-only. */
  protected def stepFiles(st: Snapshots.Step): Seq[String]

  /** The input partitions of a micro-batch's steps. */
  protected def planSteps(steps: Seq[Snapshots.Step]): Array[InputPartition]

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    planSteps(Snapshots.steps(root, start.asInstanceOf[VersionOffset].version,
      end.asInstanceOf[VersionOffset].version).toSeq)
}

/** NATIVE STREAMING SOURCE over a snapshot-catalog table — the read
  * half of the exactly-once pair whose write half is
  * [[GraftStreamingWrite]]: `spark.readStream.table("snap.ns.t")` tails
  * the store's commits the way Delta/Iceberg sources tail their logs.
  * Offsets, start options (EXCLUSIVE: `startingVersion` v = only the
  * commits after v, unlike Delta's inclusive `table_changes`) and
  * pacing are [[VersionTailStream]]'s.
  *
  *  - Per [[Snapshots.steps]] step the micro-batch reads the step's
  *    ADDED files — a metadata-only manifest set-difference; nothing
  *    ever re-lists or re-scans the base data, so a micro-batch over a
  *    100 TB table costs O(new files) planning + O(new rows) I/O.
  *  - The INITIAL chunk (offset 0) is the full snapshot at the oldest
  *    retained version, then per-version tailing — Delta's
  *    initial-snapshot-then-tail shape. A snapshot with pending
  *    merge-on-read deletes cannot be tailed as raw files and refuses.
  *  - Writer-marked rows-unchanged commits (compaction, z-order,
  *    delete-file merge) pass over silently, the way Delta treats
  *    `dataChange=false` actions.
  *  - Every other non-append step — a rewrite (materialized or not), a
  *    DELETE/UPDATE/upsert, a restore that drops delete lines and so
  *    un-hides rows — is a CHANGE commit: by default the stream FAILS
  *    on one with a clear error; `skipChangeCommits=true` skips it
  *    entirely (Delta's option of the same name). Append-only commits
  *    — INSERT INTO, the streaming sink's epochs, WAP publishes — flow
  *    through exactly once.
  */
private[catalog] class GraftMicroBatchStream(root: String,
    tableSchema: StructType, readSchema: StructType,
    options: CaseInsensitiveStringMap)
  extends VersionTailStream(root, options) {

  private val skipChangeCommits: Boolean =
    options.getBoolean(GraftMicroBatchStream.SkipChangesOption, false)

  override protected def stepFiles(st: Snapshots.Step): Seq[String] = st.kind match {
    case Snapshots.StepKind.Append => st.added
    case Snapshots.StepKind.RowsUnchanged => Nil
    case _ if st.initial => throw new IllegalArgumentException(
      s"the initial snapshot of $root carries pending merge-on-read deletes; " +
        "compact the table (full rewrite) before streaming from it, or use " +
        s"${GraftMicroBatchStream.StartingVersionOption} to start after a rewrite")
    case _ if skipChangeCommits => Nil
    case _ => throw new IllegalStateException(
      s"version ${st.version} of $root is a data-changing commit (rewrite, " +
        "DELETE/UPDATE, upsert, or a restore that un-hides rows) — a " +
        "streaming read tails appends only. " +
        s"Set ${GraftMicroBatchStream.SkipChangesOption}=true to skip change " +
        "commits, or restart from a fresh checkpoint to re-read the " +
        "rewritten state as a new initial snapshot")
  }

  /** One scan over every step's files, so small appends pack into
    * shared partitions. */
  override protected def planSteps(steps: Seq[Snapshots.Step]): Array[InputPartition] = {
    val files = steps.flatMap(stepFiles)
    if (files.isEmpty) Array.empty
    else scanOver(files).toBatch.planInputPartitions()
  }

  /** A PARTITIONED table's partition columns, re-read from the root's
    * metadata: each micro-batch's scan rebuilds the partition-aware
    * index over its own file slice, so tailing a partitioned table
    * re-attaches partition values exactly like a batch read. */
  private lazy val partSchema: StructType =
    GraftMicroBatchStream.layoutPartSchema(root, tableSchema)

  /** A fresh vectorized parquet scan over exactly `files`, pruned to
    * the stream's read schema — the same planning path as a batch read
    * of the same manifest slice. Tables with RE-ADDED (physically
    * remapped) columns refuse: the micro-batch scan resolves columns
    * by name, and a remapped logical name would read the dropped
    * column's dead bytes from pre-re-add files. */
  private def scanOver(files: Seq[String]): Scan = {
    val phys = GraftTable.physOf(GraftTable.declaredMeta(root)._2)
    require(phys.isEmpty,
      s"streaming reads of $root are unsupported while re-added columns " +
        s"(${phys.keys.mkString(", ")}) carry a physical-name remap; " +
        "rewrite into a fresh table to stream it")
    val b = GraftScans.parquetBuilder(spark, files, tableSchema, options,
      partSchema = partSchema)
    b.pruneColumns(readSchema)
    b.build()
  }

  /** The parquet reader factory captures schema + conf only — it is
    * file-list independent, so one factory (planned over the head's
    * current files, possibly none) serves every micro-batch's
    * partitions. */
  private lazy val readerFactory: PartitionReaderFactory = {
    val head = Snapshots.resolve(root).map(_.files).getOrElse(Nil)
    scanOver(head).toBatch.createReaderFactory()
  }

  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  override def toString: String = s"GraftMicroBatchStream($root)"
}

private[catalog] object GraftMicroBatchStream {
  val MaxFilesOption = "maxFilesPerTrigger"
  val MaxBytesOption = "maxBytesPerTrigger"
  val SkipChangesOption = "skipChangeCommits"
  val StartingVersionOption = "startingVersion"
  val StartingTimestampOption = "startingTimestamp"

  /** The partition/layout schema that shapes a per-slice file index
    * for `root` — identity PARTITIONED BY columns plus any synthetic
    * bucket/transform segments (live or retired; the synthetics shape
    * the index only and are never row columns). Shared by the plain
    * streaming source and the change feed. */
  def layoutPartSchema(root: String, tableSchema: StructType): StructType = {
    val props = GraftTable.declaredMeta(root)._2
    (SnapBucket.of(props), SnapBucket.ofRetired(props)) match {
      // bucket layouts: the synthetic _gbucket segment shapes the
      // index (it is not a row column — readSchema never requests it)
      case (Some(_), _) => SnapBucket.partSchema
      // a RETIRED bucket layout's files still carry segments; post-
      // retirement appends are flat and parse a NULL id
      case (None, Some(_)) => SnapBucket.partSchemaRetired
      case _ =>
        val base = GraftTable.partSchemaOf(tableSchema, GraftTable.partColsOf(props))
        SnapTransform.of(props).orElse(SnapTransform.ofRetired(props)) match {
          // transform layouts (live or retired): the synthetic _gtpart
          // ordinal shapes the index the same way (derived, never a
          // row column)
          case Some(t) =>
            tableSchema.fields.find(_.name == t.col)
              .map(f => StructType(base.fields ++
                SnapTransform.partSchema(t, f.dataType).fields))
              .getOrElse(base)
          case None => base
        }
    }
  }

  /** The stream's own admission limit (Spark has file/row limits but
    * no byte limit): returned by `getDefaultReadLimit`, handed back by
    * the engine on paced triggers, and ABSENT when the engine overrides
    * with allAvailable (Trigger.Once) — which is exactly when pacing
    * must not apply. */
  final case class GraftReadLimit(maxFiles: Option[Int], maxBytes: Option[Long])
    extends ReadLimit
}

/** Transparent ScanBuilder wrapper that makes every [[GraftTable]] scan
  * STREAMABLE without costing the batch path anything: all pushdown
  * interfaces the inner builders speak (column pruning, catalyst filter
  * pushdown, aggregate pushdown, variant extraction) forward verbatim,
  * and `build()` wraps the produced scan in [[GraftScanFacade]] — which
  * forwards batch execution, runtime filtering, and statistics to the
  * inner scan and adds only `toMicroBatchStream`. */
private[catalog] class GraftStreamableScanBuilder(
    delegate: org.apache.spark.sql.connector.read.ScanBuilder,
    root: String, tableSchema: StructType,
    priors: Map[String, Seq[String]], pinned: Boolean,
    snap: Option[Snapshot], options: CaseInsensitiveStringMap,
    partCols: Seq[String] = Nil, bucket: Option[(String, Int)] = None)
  extends org.apache.spark.sql.connector.read.ScanBuilder
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsPushDownVariantExtractions {

  /** The pruned ROW schema — what the stream emits (aggregate pushdown
    * never applies to the streaming path). */
  private var requested: StructType = tableSchema

  /** Every filter that reached the scan, verbatim. Spark only attempts
    * aggregate pushdown when no post-scan filters remain — but a
    * partition predicate can be fully CONSUMED by the file index
    * (returned empty from pushFilters), which would make a
    * manifest-served count(*) silently ignore the predicate. The serve
    * path must therefore re-apply EVERY recorded filter to the
    * metadata (partition path values — whole files match or don't), or
    * decline when any filter isn't provably partition-only. */
  private var seenFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil

  /** Set when [[SnapAggPush]] proved it can serve the pushed
    * aggregation from the head manifest's stats lines — build() then
    * returns the driver-side LocalScan instead of the file scan. */
  private var servedAgg: Option[SnapAggPush.Served] = None

  override def pruneColumns(requiredSchema: StructType): Unit = {
    requested = requiredSchema
    delegate match {
      case p: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
        p.pruneColumns(requiredSchema)
      case _ => ()
    }
  }

  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    seenFilters = seenFilters ++ filters
    delegate match {
      case f: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
        f.pushFilters(filters)
      case _ => filters // nothing pushed; Spark re-applies them all above
    }
  }

  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    delegate match {
      case f: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
        f.pushedFilters
      case _ => Array.empty
    }

  /** Manifest serving applies when the session switch is on and
    * [[SnapAggPush]]'s gates all hold (no pending deletes, every
    * recorded filter provably partition-only and re-applied to the
    * metadata, full stats coverage, servable functions).
    * Memoized per Aggregation instance: Spark probes
    * supportCompletePushDown then calls pushAggregation with the same
    * object, and each evaluation parses O(files) stats bodies —
    * planning-time metadata work that must not double. */
  private var servedCache: Option[(AnyRef, Option[SnapAggPush.Served])] = None

  private def manifestServe(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[SnapAggPush.Served] = servedCache match {
    case Some((key, res)) if key eq aggregation => res
    case _ =>
      val res = manifestServeUncached(aggregation)
      servedCache = Some((aggregation, res))
      res
  }

  private def manifestServeUncached(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[SnapAggPush.Served] =
    if (!org.apache.spark.sql.SparkSession.active.conf
        .get(SnapAggPush.ConfKey, "true").toBoolean) None
    else if (GraftTable.physOf(GraftTable.declaredMeta(root)._2).nonEmpty) None
    // ^ tables with RE-ADDED (physically remapped) columns decline:
    //   old files' stats for a remapped logical name describe the
    //   DROPPED column's dead bytes — serving bounds from them would
    //   cross the two meanings. Conservative whole-table decline; the
    //   ordinary scan path stays correct.
    else {
      // identity layouts expose their partition columns for GROUP BY
      // serving and path-value bounds; bucket layouts expose nothing
      // (the synthetic segment is not a row column)
      val ps =
        if (bucket.isDefined) new StructType()
        else GraftTable.partSchemaOf(tableSchema, partCols)
      val partValsOf: String => Option[Seq[Any]] = f =>
        try Some(GraftScans.partitionValuesOf(
          java.nio.file.Paths.get(f).getParent.toString, ps).toSeq)
        catch { case _: Exception => None }
      SnapAggPush.serve(aggregation, snap, tableSchema, priors, ps, partValsOf,
        seenFilters)
    }

  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    manifestServe(aggregation) match {
      case some @ Some(_) => servedAgg = some; true
      case None => delegate match {
        case a: org.apache.spark.sql.connector.read.SupportsPushDownAggregates =>
          a.pushAggregation(aggregation)
        case _ => false
      }
    }

  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    manifestServe(aggregation).isDefined || (delegate match {
      case a: org.apache.spark.sql.connector.read.SupportsPushDownAggregates =>
        a.supportCompletePushDown(aggregation)
      case _ => false
    })

  override def pushVariantExtractions(
      extractions: Array[org.apache.spark.sql.connector.read.VariantExtraction])
      : Array[Boolean] = delegate match {
    case v: org.apache.spark.sql.connector.read.SupportsPushDownVariantExtractions =>
      v.pushVariantExtractions(extractions)
    case _ => new Array[Boolean](extractions.length) // none pushed
  }

  override def build(): Scan = servedAgg match {
    // a manifest-served aggregate is a finished one-row result — no
    // facade (streaming never reaches an agg-pushed scan, and a
    // toMicroBatchStream call on it should fail loudly, not misread)
    case Some(local) => local
    case None =>
      new GraftScanFacade(delegate.build(), root, tableSchema, requested,
        priors, pinned, snap, options, partCols, bucket)
  }
}

/** The scan produced by [[GraftStreamableScanBuilder]]: batch reads,
  * runtime (DPP) filtering, statistics, and metrics all forward to the
  * inner scan untouched — the ONLY addition is `toMicroBatchStream`,
  * the snapshot-tailing source. Inner scans that report no statistics
  * (the MOR and rename-aware wrappers) fall back to the manifest's
  * file sizes — already known without touching data — so joins against
  * evolved snap tables still get real broadcast decisions. */
private[catalog] class GraftScanFacade(inner: Scan, root: String,
    tableSchema: StructType, requested: StructType,
    priors: Map[String, Seq[String]], pinned: Boolean,
    snap: Option[Snapshot], options: CaseInsensitiveStringMap,
    partCols: Seq[String] = Nil, bucket: Option[(String, Int)] = None)
  extends Scan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  /** STORAGE-PARTITIONED JOINS (Iceberg's SPJ shape): an identity-
    * PARTITIONED table reports `KeyGroupedPartitioning` over its
    * partition columns, with the batch re-grouped one input partition
    * per partition VALUE (keys recovered from the manifest's col=value
    * paths — metadata-only), so two co-partitioned snap tables joined
    * on the partition key plan with ZERO exchange on either side.
    * Strictly opt-in behind Spark's own
    * `spark.sql.sources.v2.bucketing.enabled`: the per-value grouping
    * trades split balance for alignment, which is only worth paying
    * when the planner can actually use it. MOR-pending tables and
    * zero-file heads fall back to unknown partitioning; runtime (DPP)
    * filtering is disabled while key-grouped (dropping a whole value
    * group after partitioning was reported breaks the planner's
    * contract — the stats/partition pruning in the file index still
    * applies at planning time). */
  private def spjEnabled: Boolean =
    try org.apache.spark.sql.SparkSession.active.conf
      .get("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean
    catch { case _: Exception => false }

  private lazy val spjEligible: Boolean =
    (partCols.nonEmpty || bucket.nonEmpty) && spjEnabled && !pinned &&
      snap.exists(s => s.files.nonEmpty && s.deletes.isEmpty &&
        s.posDeletes.isEmpty) &&
      // a time/truncate transform splits each identity value across
      // its ordinal subdirectories — the per-value grouping would
      // count duplicate keys and misreport the partitioning, so
      // transform tables never claim key-grouping (ordinal pruning in
      // the file index is their scale lever instead)
      SnapTransform.of(GraftTable.declaredMeta(root)._2).isEmpty

  /** Identity layouts: the declared partition columns. Bucket layouts:
    * the synthetic `_gbucket` int — both are what the file paths carry
    * and what [[KeyGroupedBatch]] keys groups by. */
  private lazy val partSchema: StructType = bucket match {
    case Some(_) => SnapBucket.partSchema
    case None => GraftTable.partSchemaOf(tableSchema, partCols)
  }

  private lazy val partitionKeys: Seq[InternalRow] =
    GraftScans.partitionValuesFor(snap.map(_.files).getOrElse(Nil), partSchema)

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (spjEligible) {
      // bucket layouts report the TRANSFORM, which Spark resolves back
      // through the catalog's FunctionCatalog (SnapBucket.Unbound) to
      // prove both join sides hash identically; identity layouts
      // report the columns themselves
      val keys: Array[org.apache.spark.sql.connector.expressions.Expression] =
        bucket match {
          case Some((c, n)) => Array(
            org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c))
          case None => partCols.map(c =>
            org.apache.spark.sql.connector.expressions.Expressions
              .identity(c): org.apache.spark.sql.connector.expressions.Expression).toArray
        }
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        keys, partitionKeys.size)
    }
    else new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)

  /** Column stats are ADVISORY and cost O(files × columns) JSON
    * parsing to assemble — computed at most once per scan, and only
    * when the cost-based optimizer (their sole consumer) is actually
    * on; with CBO off every head read keeps the cheap size/row-count
    * statistics path. */
  private def cboEnabled: Boolean =
    try org.apache.spark.sql.SparkSession.active.conf
      .get("spark.sql.cbo.enabled", "false").toBoolean
    catch { case _: Exception => false }

  private lazy val cboColumnStats: java.util.Map[
    org.apache.spark.sql.connector.expressions.NamedReference,
    org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
    GraftScanFacade.columnStatsMap(root, snap, tableSchema)

  override def readSchema(): StructType = inner.readSchema()
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    if (spjEligible) new KeyGroupedBatch(inner.toBatch, partSchema)
    else inner.toBatch
  override def description(): String = inner.description()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    inner.columnarSupportMode()
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    inner.supportedCustomMetrics()
  override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    inner.reportDriverMetrics()

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val base = inner match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics()
      case _ => GraftScanFacade.manifestStats(snap)
    }
    // COLUMN statistics for the cost-based optimizer: min/max/nullCount
    // aggregated from the manifest's per-file `#stats:` bounds
    // (metadata already in memory), distinct counts from the ANALYZE
    // ledger (`CALL snap.system.analyze`). Spark's v2-stats conversion
    // feeds these straight into FilterEstimation/JoinEstimation, so a
    // selective filter on a snap table gets a realistic output size —
    // and with `spark.sql.cbo.enabled` the stats-driven broadcast flip
    // the session-catalog ANALYZE path gets. Head reads only: a pinned
    // read's column shapes belong to its own era.
    if (pinned || !cboEnabled) base
    else {
      val colStats = cboColumnStats
      if (colStats.isEmpty) base
      else new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong = base.sizeInBytes()
        override def numRows(): java.util.OptionalLong =
          // the estimators refuse to use column stats without a row
          // count; the manifest's summed `rows` fills in when the
          // inner scan reports none
          if (base.numRows().isPresent) base.numRows()
          else GraftScanFacade.manifestStats(snap).numRows()
        override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
      }
    }
  }

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (spjEligible) Array.empty // see spj scaladoc: no DPP while key-grouped
    else inner match {
      case f: org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering =>
        f.filterAttributes()
      case _ => Array.empty
    }

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    inner match {
      case f: org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering =>
        f.filter(predicates)
      case _ => ()
    }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(!pinned, s"cannot stream a time-travel-pinned read of $root")
    require(priors.isEmpty,
      s"streaming from the rename-evolved table at $root is unsupported: " +
        "pre-rename files would surface NULLs under current names — compact " +
        "(full rewrite) to re-materialize current names, then start the stream")
    new GraftMicroBatchStream(root, tableSchema, requested, options)
  }
}

private[catalog] object GraftScanFacade {
  /** Size statistics from the manifest alone — on-disk bytes are
    * already known without opening anything, and when every file
    * carries a `#stats:` header the row count sums from those lines
    * too. Both are upper bounds under pending MOR deletes, the safe
    * direction for broadcast decisions. */
  def manifestStats(snap: Option[Snapshot]): org.apache.spark.sql.connector.read.Statistics = {
    val bytes = snap.map(_.files.map { f =>
      try java.nio.file.Files.size(java.nio.file.Paths.get(f))
      catch { case _: Exception => 0L }
    }.sum).getOrElse(0L)
    val rows: Option[Long] = snap.flatMap { s =>
      val perFile = s.files.map(f => s.statsRaw.get(f).flatMap(rowsOf))
      if (perFile.nonEmpty && perFile.forall(_.isDefined))
        Some(perFile.flatten.sum)
      else None
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        rows.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
    }
  }

  private def rowsOf(body: String): Option[Long] =
    try {
      import org.json4s._
      org.json4s.jackson.JsonMethods.parse(body) \ "rows" match {
        case JLong(n) => Some(n)
        case JInt(n) => Some(n.longValue)
        case _ => None
      }
    } catch { case _: Exception => None }

  /** Per-column DSv2 statistics from metadata alone: nullCount sums
    * and min/max fold across the manifest's per-file stats bodies
    * (sound only when EVERY file records the column — a stats-less
    * file could hold anything); distinctCount comes from the ANALYZE
    * ledger. min/max are converted to the column's CATALYST value
    * class (the v2→v1 stats conversion passes them verbatim into
    * FilterEstimation, which casts by the attribute's type). */
  def columnStatsMap(root: String, snap: Option[Snapshot], schema: StructType)
      : java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.types._
    val out = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    val props = GraftTable.declaredMeta(root)._2
    // keep-on-unknown like every other stats path: a corrupt ledger
    // value degrades to no-NDV, never a planning-time failure
    val ndv: Map[String, Long] = props.collect {
      case (k, v) if k.startsWith(GraftTable.ndvPrefix) =>
        k.stripPrefix(GraftTable.ndvPrefix) -> scala.util.Try(v.trim.toLong).toOption
    }.collect { case (k, Some(n)) => k -> n }
    // NDV staleness: `graft.stats.rows` records the row count the
    // ANALYZE ran against (`graft.stats.version` the version — surfaced
    // through SHOW TBLPROPERTIES as the ledger's provenance). When the
    // table has since GROWN, extrapolate each NDV by the row-count
    // ratio (the standard planner heuristic — distincts roughly track
    // table growth; an un-scaled stale NDV makes every post-growth
    // filter look far more selective than it is). Always cap at the
    // live row count: NDV can never exceed rows.
    val analyzedRows: Option[Long] = props.get(GraftTable.statsRowsProp)
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption).filter(_ > 0)
    val raw: Seq[Option[Snapshots.FileStats]] = snap.toSeq.flatMap(s =>
      s.files.map(f => s.statsRaw.get(f).flatMap(Snapshots.parseStats)))
    // a file without a decodable stats body could hold anything: no
    // min/max/nullCount can be claimed (NDV from the ledger still can)
    val perFile: Seq[Snapshots.FileStats] =
      if (raw.nonEmpty && raw.forall(_.isDefined)) raw.map(_.get) else Nil
    val liveRows: Option[Long] =
      if (perFile.nonEmpty && perFile.forall(_.rows.isDefined))
        Some(perFile.map(_.rows.get).sum)
      else None
    def scaleNdv(n: Long): Long = {
      val grown = analyzedRows.zip(liveRows) match {
        case Some((a, l)) if l > a => math.ceil(n.toDouble * l / a).toLong
        case _ => n
      }
      liveRows.fold(grown)(l => math.min(grown, math.max(l, 1L)))
    }
    def jNum(v: Any, dt: DataType): Option[AnyRef] = {
      import org.json4s._
      val n: Option[Any] = v match {
        case JLong(l) => Some(l)
        case JInt(i) => Some(i.longValue)
        case JDouble(d) => Some(d)
        case other => Some(other)
      }
      n.collect {
        case l: Long if dt == LongType => java.lang.Long.valueOf(l)
        case l: Long if dt == IntegerType => java.lang.Integer.valueOf(l.toInt)
        case l: Long if dt == ShortType => java.lang.Short.valueOf(l.toShort)
        case l: Long if dt == ByteType => java.lang.Byte.valueOf(l.toByte)
        case l: Long if dt == DateType => java.lang.Integer.valueOf(l.toInt)
        case l: Long if dt == TimestampType => java.lang.Long.valueOf(l)
        case d: Double if dt == DoubleType => java.lang.Double.valueOf(d)
        case d: Double if dt == FloatType => java.lang.Float.valueOf(d.toFloat)
      }
    }
    schema.fields.foreach { f =>
      val entries = perFile.map(_.cols.get(f.name))
      val allPresent = perFile.nonEmpty && entries.forall(_.isDefined)
      val nullCount: Option[Long] =
        if (allPresent && entries.forall(_.get.nc.isDefined))
          Some(entries.map(_.get.nc.get).sum)
        else None
      // min/max fold over files WITH recorded values; files without
      // values must be provably all-null or the fold would understate
      def bound(sel: Snapshots.ColStat => Option[Any], keepMax: Boolean): Option[AnyRef] =
        if (!allPresent) None
        else {
          val allNullOk = perFile.forall { fsb =>
            val c = fsb.cols(f.name)
            sel(c).isDefined ||
              (c.nc.isDefined && fsb.rows.isDefined && c.nc.get == fsb.rows.get)
          }
          val vals = entries.flatMap(e => sel(e.get))
          if (!allNullOk || vals.isEmpty) None
          else jNum(vals.reduceLeft((a, b) =>
            if ((Snapshots.statsCmp(a, b) >= 0) == keepMax) a else b), f.dataType)
        }
      val mnv = bound(_.min, keepMax = false)
      val mxv = bound(_.max, keepMax = true)
      val dcv = ndv.get(f.name).map(scaleNdv)
      val ncv = nullCount
      if (ncv.isDefined || mnv.isDefined || mxv.isDefined || dcv.isDefined) {
        val stat = new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
          override def distinctCount(): java.util.OptionalLong =
            dcv.map(java.util.OptionalLong.of(_)).getOrElse(java.util.OptionalLong.empty())
          override def min(): java.util.Optional[Object] =
            mnv.map(v => java.util.Optional.of(v: Object))
              .getOrElse(java.util.Optional.empty[Object]())
          override def max(): java.util.Optional[Object] =
            mxv.map(v => java.util.Optional.of(v: Object))
              .getOrElse(java.util.Optional.empty[Object]())
          override def nullCount(): java.util.OptionalLong =
            ncv.map(java.util.OptionalLong.of(_))
              .getOrElse(java.util.OptionalLong.empty())
        }
        out.put(org.apache.spark.sql.connector.expressions.Expressions.column(f.name), stat)
      }
    }
    out
  }
}

/** The key-grouped batch behind [[GraftScanFacade]]'s
  * `KeyGroupedPartitioning` report: the delegate's planned file splits
  * are re-grouped ONE input partition per partition VALUE, each
  * wrapped with `HasPartitionKey` so Spark's storage-partitioned-join
  * planner can align the two sides without an exchange. Keys are
  * parsed from each file's `col=value` path segments (the manifest
  * layout [[GraftScans.partitionValuesOf]] already decodes for the
  * partition-aware index) rather than taken from the delegate's
  * `PartitionedFile.partitionValues`, which carry only the PRUNED
  * partition columns — the reported clustering always needs the full
  * declared key. Readers delegate untouched: a grouped partition is
  * just the delegate's `FilePartition` re-packed by value. */
private[catalog] class KeyGroupedBatch(
    inner: org.apache.spark.sql.connector.read.Batch,
    partSchema: StructType)
  extends org.apache.spark.sql.connector.read.Batch {

  import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}

  private lazy val grouped: Array[(InternalRow, Array[PartitionedFile])] = {
    val files = inner.planInputPartitions().flatMap {
      case fp: FilePartition => fp.files
      case other => throw new IllegalStateException(
        s"key-grouped scan expected file partitions, got $other")
    }
    files.groupBy(pf => pf.toPath.getParent.toUri.getPath)
      .toSeq.sortBy(_._1)
      .map { case (dir, fs) =>
        InternalRow.fromSeq(
          GraftScans.partitionValuesOf(dir, partSchema).toIndexedSeq) -> fs
      }
      // several directories can render the same value tuple (one per
      // commit era) — merge them: KeyGroupedPartitioning requires
      // DISTINCT keys across input partitions
      .groupBy(_._1).toSeq
      .map { case (k, g) => k -> g.flatMap(_._2).toArray }
      .sortBy(_._2.headOption.map(_.urlEncodedPath).getOrElse(""))
      .toArray
  }

  override def planInputPartitions(): Array[InputPartition] =
    grouped.zipWithIndex.map { case ((key, fs), i) =>
      KeyedFilePartition(FilePartition(i, fs), key): InputPartition
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new KeyedReaderFactory(inner.createReaderFactory())
}

/** A delegate file split tagged with its partition-value key. */
private[catalog] final case class KeyedFilePartition(
    delegate: org.apache.spark.sql.execution.datasources.FilePartition,
    key: InternalRow)
  extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] = delegate.preferredLocations()
}

private[catalog] class KeyedReaderFactory(inner: PartitionReaderFactory)
  extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): InputPartition = p match {
    case KeyedFilePartition(d, _) => d
    case other => other
  }
  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(unwrap(p))
  override def createReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
    inner.createReader(unwrap(p))
  override def createColumnarReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.vectorized.ColumnarBatch] =
    inner.createColumnarReader(unwrap(p))
}
