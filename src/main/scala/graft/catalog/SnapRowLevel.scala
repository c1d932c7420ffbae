package graft.catalog

import graft.sources.Snapshots
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{FieldReference, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import java.nio.file.{Files, Paths}

/** Native row-level operations for [[GraftTable]] — the piece that
  * lets Spark's OWN analyzer execute DELETE / UPDATE / MERGE INTO
  * against snapshot tables (RewriteDeleteFromTable /
  * RewriteUpdateTable / RewriteMergeIntoTable engage on any table
  * implementing `SupportsRowLevelOperations`; stock Spark refuses
  * these statements on default-catalog tables — this is the catalog
  * that accepts them, and the only SQL path for snapshot tables).
  *
  * Two modes, chosen per table:
  *
  *  - [[GraftGroupOperation]] — COPY-ON-WRITE (the default): Spark
  *    rewrites the statement into a `ReplaceData` plan whose query
  *    computes the full post-statement table; executors stage the
  *    result as parquet ([[ParquetRowDataWriter]]) and the commit
  *    point is ONE atomic full-rewrite manifest
  *    ([[Snapshots.commitRewriteStaged]]) — concurrent readers see
  *    pre- or post-statement state, never a mix, and pending MOR
  *    deletes are absorbed by the rewrite. The replacement group is
  *    the WHOLE table: the scan is unpartitioned, so Spark's runtime
  *    group filtering (which only prunes on partition attributes)
  *    never narrows it — the plan output is always the complete
  *    survivor set and the whole-table swap is exact. At 100 TB the
  *    group-granularity refinement is per-partition commits, which the
  *    manifest protocol already supports; COW semantics are unchanged.
  *
  *  - [[GraftDeltaOperation]] — MERGE-ON-READ, enabled by
  *    `TBLPROPERTIES ('graft.mor.key'='<pk>')`: Spark rewrites into a
  *    `WriteDelta` plan that feeds ONLY the touched rows to
  *    [[GraftDeltaWriter]] as per-row DELETE / INSERT ops (updates
  *    arrive split, `representUpdateAsDeleteAndInsert`). Executors
  *    stage new-data parquet + deleted-key parquet; the commit is ONE
  *    atomic [[Snapshots.commitStagedDelta]]: `#del` lines scoped
  *    below the commit version hide the old rows, `#seq` pins make
  *    the new rows shine through. Statement cost is O(touched rows)
  *    regardless of table size — the Hudi/Iceberg-v2 upsert shape,
  *    now reachable by typing SQL.
  *
  * Both scans route through the table's delete-aware scan builder, so
  * stacked statements (an UPDATE then a DELETE over its result) each
  * see the delete-applied current state.
  */
private[catalog] class GraftGroupOperation(cmd: RowLevelOperation.Command,
    table: GraftTable,
    // Some(name): the statement targets the branch's speculative log
    // (`t.branch_<name>` suffix table) — the scan reads the branch head
    // (the `table` handed in is pinned to it) and the commit publishes
    // a branch manifest, leaving main untouched until fast-forward
    branch: Option[String] = None) extends RowLevelOperation {

  override def command(): RowLevelOperation.Command = cmd

  /** The table scan, with `SupportsRuntimeV2Filtering` HIDDEN: Spark's
    * runtime group filtering would prune files with no matching rows
    * out of the scan — correct for connectors that replace only the
    * scanned groups (Iceberg tracks scanned files), DATA LOSS for this
    * whole-table-group commit, whose replacement must be the complete
    * survivor set. Static pushdown/pruning still run (they happen at
    * the builder, and for DELETE the pushed `NOT cond` only skips rows
    * that must not survive anyway). */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new NonRuntimeFilterableScanBuilder(table.newScanBuilder(options))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          // the statement's survivor set is computed against the
          // version this table instance resolved (Spark re-loads the
          // table per statement, so `snap` IS the scanned head; 0 = an
          // empty root) — threaded to the commit as its write-conflict
          // gate
          new GraftRewriteBatchWrite(table.root, info.schema(),
            basedOn = table.snap.map(_.version).getOrElse(0L),
            propsAtPlan = GraftTable.declaredMeta(table.root)._2,
            partCols = table.partCols, bucket = table.bucketSpec,
            transform = table.transformSpec.map(t =>
              (t, table.schema()(t.col).dataType)),
            branch = branch)
        override def description(): String =
          s"graft copy-on-write $cmd → ${table.root}" +
            branch.fold("")(b => s" (branch $b)")
      }
    }

  override def description(): String = s"graft COW $cmd"
}

private[catalog] class GraftDeltaOperation(cmd: RowLevelOperation.Command,
    table: GraftTable, keyCol: String,
    branch: Option[String] = None) extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def rowId(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(keyCol))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    table.newScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite = {
          val keySchema = info.rowIdSchema().orElse(
            StructType(Seq(table.schema()(keyCol))))
          new GraftDeltaBatchWrite(table.root, keyCol, info.schema(), keySchema,
            branch = branch, bucket = table.bucketSpec,
            transform = table.transformSpec.map(t =>
              (t, table.schema()(t.col).dataType)))
        }
        override def description(): String =
          s"graft merge-on-read $cmd → ${table.root}" +
            branch.fold("")(b => s" (branch $b)")
      }
    }

  override def description(): String = s"graft MOR $cmd (key=$keyCol)"
}

/** POSITIONAL merge-on-read row-level operation — the delete form that
  * needs NO key column: rows are identified by (file, ordinal) row ids
  * the scan synthesizes (`_gfile`/`_gpos` metadata columns, ordinals
  * generated by the parquet readers), and DELETE commits one deletion
  * vector per touched file while the table's data files never move — the
  * Iceberg-v2 position-delete shape, safe for tables whose rows have
  * no unique key at all (equality deletes by a non-unique key would
  * over-hide). UPDATE arrives as delete+insert. Enabled per table via
  * `TBLPROPERTIES ('graft.mor.positional'='true')`. */
private[catalog] class GraftPositionalOperation(cmd: RowLevelOperation.Command,
    table: GraftTable,
    branch: Option[String] = None) extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def rowId(): Array[NamedReference] = Array(
    org.apache.spark.sql.connector.expressions.Expressions.column(GraftRowId.FileCol),
    org.apache.spark.sql.connector.expressions.Expressions.column(GraftRowId.PosCol))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    table.newRowIdScanBuilder(options, allowPinned = branch.isDefined)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite =
          new GraftPosDeltaBatchWrite(table.root, info.schema(), branch = branch)
        override def description(): String =
          s"graft positional merge-on-read $cmd -> ${table.root}" +
            branch.fold("")(b => s" (branch $b)")
      }
    }

  override def description(): String = s"graft positional MOR $cmd"
}

/** Forwards column pruning to the delegate builder but wraps the built
  * scan in a plain [[org.apache.spark.sql.connector.read.Scan]] facade,
  * so optimizer rules keyed on `SupportsRuntimeV2Filtering` (runtime
  * group filtering, DPP) skip it — see
  * [[GraftGroupOperation.newScanBuilder]]. Filter pushdown interfaces
  * are deliberately NOT forwarded: for a whole-table-group rewrite the
  * only filter Spark places above this scan is DELETE's survivor
  * predicate, which it re-applies above the scan regardless. */
private[catalog] class NonRuntimeFilterableScanBuilder(delegate: ScanBuilder)
  extends ScanBuilder
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  override def pruneColumns(requiredSchema: StructType): Unit = delegate match {
    case p: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
      p.pruneColumns(requiredSchema)
    case _ => ()
  }

  override def build(): org.apache.spark.sql.connector.read.Scan = {
    val s = delegate.build()
    new org.apache.spark.sql.connector.read.Scan {
      override def readSchema(): StructType = s.readSchema()
      override def toBatch: org.apache.spark.sql.connector.read.Batch = s.toBatch
      override def description(): String = s"non-runtime-filterable(${s.description()})"
      override def columnarSupportMode():
          org.apache.spark.sql.connector.read.Scan.ColumnarSupportMode =
        s.columnarSupportMode()
    }
  }
}

/** Executor-side parquet writing shared by both commit shapes: the
  * driver seeds a Hadoop conf with the row schema and the session's
  * parquet write settings (the same keys Spark's own file sink sets),
  * and each task lazily opens a [[ParquetOutputWriter]] on first row —
  * a task with no rows stages no file. Staged files live in a
  * writer-unique `v00000000_dsv2_*` dir ([[Snapshots.newStagingDir]]):
  * orphans from failed/speculative attempts are invisible to readers
  * (manifests list files explicitly) and reclaimed by vacuum. */
private[catalog] object ExecParquet {

  def writerConf(schema: StructType): SerializableConfiguration = {
    val spark = SparkSession.active
    val sc = spark.sessionState
    val conf = sc.newHadoopConf()
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set("parquet.write.support.class", classOf[ParquetWriteSupport].getName)
    conf.set("parquet.compression", sc.conf.parquetCompressionCodec)
    // keys ParquetWriteSupport.init reads without defaults — seed them
    // from the session exactly as ParquetFileFormat.prepareWrite does
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sc.conf.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sc.conf.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sc.conf.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sc.conf.parquetInferTimestampNTZEnabled.toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sc.conf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sc.conf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sc.conf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    new SerializableConfiguration(conf)
  }

  def taskContext(conf: org.apache.hadoop.conf.Configuration,
      partitionId: Int, taskId: Long): org.apache.hadoop.mapreduce.TaskAttemptContext = {
    import org.apache.hadoop.mapreduce._
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graft-dsv2", 0), TaskType.MAP, partitionId),
      (taskId % Int.MaxValue).toInt)
    new TaskAttemptContextImpl(conf, attempt)
  }
}

/** Shared partition-path rendering for every dynamic-partitioning
  * writer (COW rewrite, streaming epoch): MUST stay consistent with
  * both `df.write.partitionBy`'s rendering and the scan index's parse
  * (`GraftScans.partitionSpecFor`), or one value lands in two dirs. */
private[catalog] object DynPart {
  import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
  def fragmentOf(row: InternalRow, ordinals: Array[Int],
      fields: Array[org.apache.spark.sql.types.StructField]): String =
    ordinals.indices.map { i =>
      val f = fields(i)
      val raw =
        if (row.isNullAt(ordinals(i))) null
        else row.get(ordinals(i), f.dataType)
      val rendered = raw match {
        // Spark's own rendering maps null AND the empty string to the
        // Hive default dir — matching it keeps one logical value in
        // one directory (they read back as NULL, Hive's documented
        // lossy edge, identically on both write paths)
        case null => ExternalCatalogUtils.DEFAULT_PARTITION_NAME
        case s if s.toString.isEmpty => ExternalCatalogUtils.DEFAULT_PARTITION_NAME
        case d: java.lang.Integer if f.dataType ==
          org.apache.spark.sql.types.DateType =>
          java.time.LocalDate.ofEpochDay(d.longValue()).toString
        case other => ExternalCatalogUtils.escapePathName(other.toString)
      }
      s"${ExternalCatalogUtils.escapePathName(f.name)}=$rendered"
    }.mkString("/")
}

/** Task-local DYNAMIC-PARTITIONING writer shared by the COW rewrite
  * and the streaming epoch writers: splits rows into `col=value`
  * subdirs (projected to the data columns), bounding simultaneously
  * OPEN parquet writers by LRU ROTATION — at the cap the
  * least-recently-written partition's file is sealed, and a partition
  * that recurs later opens a new file part. Memory stays O(cap ×
  * row-group buffer) however many distinct partition values a task
  * sees; the price is extra file parts under heavy interleaving
  * (Spark's sort-based fallback pays a sort for the same bound — at
  * scale, pre-sorting by partition columns upstream keeps one writer
  * live here too). */
private[catalog] class DynPartTaskWriter(dir: String,
    schema: org.apache.spark.sql.types.StructType, partCols: Seq[String],
    conf: org.apache.hadoop.conf.Configuration, fileName: String,
    partitionId: Int, taskId: Long, maxOpen: Int = 64,
    // BUCKET layout ((key ordinal, key type, n), [[SnapBucket]]): the
    // fragment is the DERIVED `_gbucket=<id>` segment — the key column
    // itself stays a data column, so nothing is projected away
    bucket: Option[(Int, org.apache.spark.sql.types.DataType, Int)] = None,
    // TRANSFORM layout ((source ordinal, source type, spec),
    // [[SnapTransform]]): the fragment appends the DERIVED
    // `_gtpart=<ordinal>` segment after any identity fragment — the
    // source column stays a data column
    transform: Option[(Int, org.apache.spark.sql.types.DataType,
      SnapTransform.Spec)] = None) {

  require(bucket.isEmpty || (partCols.isEmpty && transform.isEmpty),
    "bucket layout and identity/transform partitioning are mutually exclusive")
  private val partOrdinals = partCols.map(schema.fieldIndex).toArray
  private val partFields = partOrdinals.map(schema.fields)
  // LinkedHashMap + remove/re-insert = recency order; head = LRU
  private val open =
    scala.collection.mutable.LinkedHashMap.empty[String, ParquetRowDataWriter]
  private val closedFiles = scala.collection.mutable.ListBuffer.empty[String]
  private var fileSeq = 0
  private lazy val dataProj =
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
      schema.fields.zipWithIndex
        .filterNot { case (f, _) => partCols.contains(f.name) }
        .map { case (f, i) =>
          org.apache.spark.sql.catalyst.expressions
            .BoundReference(i, f.dataType, f.nullable)
            .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Expression]
        })

  def write(row: InternalRow): Unit = {
    val frag = bucket match {
      case Some((ord, dt, n)) =>
        val v = if (row.isNullAt(ord)) null else row.get(ord, dt)
        s"${graft.sources.Snapshots.bucketPathCol}=${SnapBucket.bucketIdOf(v, dt, n)}"
      case None =>
        val idFrag = DynPart.fragmentOf(row, partOrdinals, partFields)
        transform match {
          case Some((ord, dt, spec)) =>
            val v = if (row.isNullAt(ord)) null else row.get(ord, dt)
            val tFrag = SnapTransform.fragmentOf(
              SnapTransform.ordinalOf(v, dt, spec))
            if (idFrag.isEmpty) tFrag else s"$idFrag/$tFrag"
          case None => idFrag
        }
    }
    val w = open.remove(frag).getOrElse {
      if (open.size >= maxOpen) {
        val (lruFrag, lru) = open.head
        open.remove(lruFrag)
        closedFiles ++= lru.finish()
      }
      fileSeq += 1
      Files.createDirectories(Paths.get(s"$dir/$frag"))
      new ParquetRowDataWriter(s"$dir/$frag/r$fileSeq-$fileName", conf,
        partitionId, taskId)
    }
    open.put(frag, w) // re-insert: most recently written
    w.write(dataProj(row))
  }

  def finish(): Seq[String] = {
    closedFiles ++= open.values.flatMap(_.finish())
    open.clear()
    closedFiles.toSeq
  }

  def abort(): Unit = {
    open.values.foreach(_.abort())
    open.clear()
    closedFiles.foreach(f => Files.deleteIfExists(Paths.get(f)))
    closedFiles.clear()
  }
}

/** Lazily-opened single-file parquet writer for one task. */
private[catalog] class ParquetRowDataWriter(path: String,
    conf: org.apache.hadoop.conf.Configuration, partitionId: Int, taskId: Long) {
  private var writer: ParquetOutputWriter = _
  private var rows = 0L

  def write(row: InternalRow): Unit = {
    if (writer == null)
      writer = new ParquetOutputWriter(path,
        ExecParquet.taskContext(conf, partitionId, taskId))
    writer.write(row)
    rows += 1
  }

  /** Path if any row was written, else None (no empty files staged). */
  def finish(): Option[String] = {
    if (writer != null) writer.close()
    if (rows > 0) Some(path) else None
  }

  def abort(): Unit = {
    if (writer != null) {
      try writer.close() catch { case _: Exception => () }
      Files.deleteIfExists(Paths.get(path))
    }
  }
}

private[catalog] final case class StagedFilesMessage(dataFiles: Seq[String],
    delKeyFiles: Seq[String]) extends WriterCommitMessage

/** Materializes a COW rewrite's ROW-LEVEL DIFF — the `#changes:`
  * sidecar producer behind `graft.changes.rewriteDiff`: old state
  * (the `basedOn` version this statement scanned) exceptAll new state
  * → `delete` effects; the reverse → `insert` effects. Multiset
  * semantics make duplicate rows exact, and a row untouched by the
  * statement cancels — the sidecar is O(touched rows), zero for a
  * row-preserving rewrite (the caller then publishes rows-unchanged).
  * An UPDATE surfaces as delete + insert in the one commit, the same
  * contract as the feed's MOR paths. Staged under the sweep-safe DSv2
  * staging prefix; the commit's manifest references the files. */
private[graft] object RewriteDiff {

  /** Refuse shapes a row diff cannot compare/carry: map-typed columns
    * (not set-comparable) and physically-remapped re-added columns
    * (staged files spell them physically; the diff selects logical
    * names). Shared by the per-statement and squash-publish paths so
    * both fail with the same actionable message. */
  private[graft] def requireDiffable(root: String, schema: StructType): Unit = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType => ST}
    def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: MapType => true
      case s: ST => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    schema.fields.foreach(f => require(!hasMap(f.dataType),
      s"${GraftTable.rewriteDiffProp} does not support map-typed column " +
        s"'${f.name}' (row diffs compare full values; maps are not " +
        "comparable) — drop the property or restructure the column"))
    val phys = GraftTable.physOf(GraftTable.declaredMeta(root)._2)
    require(phys.isEmpty,
      s"${GraftTable.rewriteDiffProp} on $root is unsupported while " +
        s"re-added columns (${phys.keys.mkString(", ")}) carry a " +
        "physical-name remap")
  }

  /** One side of the diff projected to the DECLARED schema, so the
    * diff's two sides (and the sidecar files the feed later reads under
    * the declared schema) agree on types — the explicit cast pins every
    * column; a column the side's files predate reads NULL. Committed
    * states come from the store's read API, whose relation parses
    * identity-partition path values at their declared types
    * (inference would re-type '007'-style strings — lossy even through
    * a cast). */
  private def declared(df: org.apache.spark.sql.DataFrame,
      schema: StructType): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    df.select(schema.fields.map(f =>
      (if (df.columns.contains(f.name)) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name)).toSeq: _*)
  }

  def stage(root: String, schema: StructType, basedOn: Long,
      newFiles: Seq[String], newStagingDir: String): Seq[String] = {
    val spark = SparkSession.active
    requireDiffable(root, schema)
    if (basedOn == 0L && newFiles.isEmpty) return Nil
    import org.apache.spark.sql.functions.lit
    // the staged files carry col=value layout segments on partitioned
    // tables; the EXPLICIT schema re-attaches those columns at their
    // declared types (inference would re-type '007'-style values)
    val newState =
      if (newFiles.isEmpty)
        declared(Snapshots.readAt(spark, root, basedOn), schema).limit(0)
      else declared(spark.read.schema(schema)
        .option("basePath", newStagingDir).parquet(newFiles: _*), schema)
    val oldState =
      if (basedOn == 0L) newState.limit(0)
      else declared(Snapshots.readAt(spark, root, basedOn), schema)
    write(root, oldState, newState)
  }

  /** The squash-publish variant ([[Snapshots.fastForward]] of a
    * COW-repaired branch): diff the fork state against the branch
    * head, both projected to the table's declared schema. Returns the
    * staged sidecar files (possibly empty — a row-preserving rewrite). */
  private[graft] def stageBranchDiff(root: String, fork: Long,
      branch: String): Seq[String] = {
    val spark = SparkSession.active
    val schema = GraftTable.declaredMeta(root)._1
    requireDiffable(root, schema)
    write(root, declared(Snapshots.readAt(spark, root, fork), schema),
      declared(Snapshots.readBranch(spark, root, branch), schema))
  }

  private def write(root: String, oldState: org.apache.spark.sql.DataFrame,
      newState: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions.lit
    val effects = oldState.exceptAll(newState)
      .withColumn(SnapChanges.ChangeTypeCol, lit("delete"))
      .unionAll(newState.exceptAll(oldState)
        .withColumn(SnapChanges.ChangeTypeCol, lit("insert")))
    val dir = Snapshots.newStagingDir(root)
    effects.write.mode("append").parquet(dir)
    // An empty diff still stages one schema-preserving empty part file
    // (Spark leaves partition 0's file so the format keeps its schema).
    // A ROW-PRESERVING rewrite must return NO sidecars — that is what
    // lets the commit carry `#rowsunchanged:1` instead of a dead
    // `#changes:` pointer — so a staging whose files are all
    // footer-verified zero-row is dropped outright.
    val staged = Snapshots.listParquet(dir)
    if (staged.nonEmpty && staged.forall(Snapshots.footerRowCount(_) == 0L)) {
      staged.foreach(p => Files.deleteIfExists(Paths.get(p)))
      Nil
    } else staged
  }
}

/** COPY-ON-WRITE commit: executors stage the full replacement row set;
  * `commit` publishes ONE full-rewrite manifest (pending deletes
  * absorbed, every file seq-pinned at the new version). A statement
  * that deletes every row publishes an empty rewrite. `basedOn` is the
  * version the survivor set was scanned from — the publish REFUSES
  * (java.util.ConcurrentModificationException) if the head has moved
  * past it, because the staged list would silently drop rows a
  * concurrent commit added (see [[Snapshots.commitRewriteStaged]]). */
private[catalog] class GraftRewriteBatchWrite(root: String, schema: StructType,
    basedOn: Long, propsAtPlan: Map[String, String],
    partCols: Seq[String] = Nil, bucket: Option[(String, Int)] = None,
    transform: Option[(SnapTransform.Spec,
      org.apache.spark.sql.types.DataType)] = None,
    branch: Option[String] = None)
  extends BatchWrite {

  private val stagingDir = Snapshots.newStagingDir(root)
  Files.createDirectories(Paths.get(stagingDir))

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val dir = stagingDir
    val localSchema = schema // avoid capturing `this` in the task closure
    val width = localSchema.length
    val localPart = partCols
    val localBucket = bucket.map { case (c, n) =>
      (localSchema.fieldIndex(c), localSchema(c).dataType, n)
    }
    val localTransform: Option[(Int, org.apache.spark.sql.types.DataType,
        SnapTransform.Spec)] =
      transform.map { case (t, dt) => (localSchema.fieldIndex(t.col), dt, t) }
    val dataSchema =
      if (localPart.isEmpty) localSchema
      else StructType(localSchema.fields.filterNot(f => localPart.contains(f.name)))
    // remapped (re-added) columns keep writing under their physical
    // spelling through the rewrite — rows are positional, only the
    // parquet schema renames
    val conf = ExecParquet.writerConf(GraftTable.toPhysicalSchema(dataSchema,
      GraftTable.physOf(propsAtPlan)))
    (partitionId: Int, taskId: Long) => new DataWriter[InternalRow] {
      // PARTITIONED tables: split each task's rows into per-partition
      // files under col=value subdirs ([[DynPartTaskWriter]] — Hive-
      // style dynamic partitioning, open writers LRU-bounded), rows
      // projected to the DATA columns — the same layout
      // `df.write.partitionBy` stages, so the partition-aware scan
      // index parses it back. BUCKET tables route through the same
      // writer on the DERIVED `_gbucket=<id>` fragment (key column
      // stays a data column). Unpartitioned tables keep the
      // single-file fast path.
      private val single: ParquetRowDataWriter =
        if (localPart.isEmpty && localBucket.isEmpty && localTransform.isEmpty)
          new ParquetRowDataWriter(
            f"$dir/part-$partitionId%05d-$taskId.parquet", conf.value, partitionId, taskId)
        else null
      private val dyn: DynPartTaskWriter =
        if (single != null) null
        else new DynPartTaskWriter(dir, localSchema, localPart, conf.value,
          f"part-$partitionId%05d-$taskId.parquet", partitionId, taskId,
          bucket = localBucket, transform = localTransform)
      // Spark's group-based rewrite prepends a `__row_operation` INT
      // marker to the query, and with no metadata projection the plain
      // writing task delivers rows UNPROJECTED — the connector strips
      // the marker (every delivered row is a keeper for group-based
      // ops; the Filter already dropped deleted rows). Decided on the
      // first row: a plain INSERT-path write has no marker.
      private var strip: org.apache.spark.sql.catalyst.expressions.UnsafeProjection = _
      private var decided = false
      override def write(row: InternalRow): Unit = {
        if (!decided) {
          decided = true
          if (row.numFields == width + 1)
            strip = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
              localSchema.fields.zipWithIndex.map { case (f, i) =>
                org.apache.spark.sql.catalyst.expressions
                  .BoundReference(i + 1, f.dataType, f.nullable)
                  .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Expression]
              })
          else require(row.numFields == width,
            s"row has ${row.numFields} fields, write schema has $width")
        }
        val base = if (strip == null) row else strip(row)
        if (single != null) single.write(base) else dyn.write(base)
      }
      override def commit(): WriterCommitMessage =
        StagedFilesMessage(
          if (single != null) single.finish().toSeq else dyn.finish(), Nil)
      override def abort(): Unit =
        if (single != null) single.abort() else dyn.abort()
      override def close(): Unit = ()
    }
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect { case StagedFilesMessage(d, _) => d }.flatten.toSeq
    // a `graft.changes.rewriteDiff` table materializes this rewrite's
    // row-level effects BEFORE publishing; the sidecars ride the same
    // atomic manifest (`#changes:` lines), so commit and effects can
    // never diverge. A diff that proves the rewrite row-preserving
    // publishes with the rows-unchanged marker instead.
    val wantDiff = branch.isEmpty &&
      propsAtPlan.get(GraftTable.rewriteDiffProp).contains("true")
    val changeFiles =
      if (wantDiff) RewriteDiff.stage(root, schema, basedOn, files, stagingDir)
      else Nil
    Snapshots.commitRewriteStaged(root, files, allowEmpty = true,
      basedOn = Some(basedOn), branch = branch, changeFiles = changeFiles,
      rowsUnchanged = wantDiff && changeFiles.isEmpty)
    // a BRANCH rewrite must not clear main's rename ledger: main's
    // readers still serve pre-publish files under the prior spellings
    if (branch.isDefined) return
    // A full rewrite re-materializes every live row under the CURRENT
    // column names, so the rename ledger (prior spellings) and the
    // dropped-name tombstones no longer protect anything the head can
    // see — clear them, restoring the plain pushdown parquet scan
    // (the rename-aware coalescing scan trades pushdown away; this is
    // where that rent stops). Time-travel reads are unaffected: pinned
    // versions infer their schemas from their own files' footers, not
    // from the ledger. ATOMIC w.r.t. ALTER TABLE: the read-check-write
    // runs under the same per-root meta lock alterTable's fold holds
    // ([[GraftTable.withMetaLock]]), so an ALTER can never land inside
    // this window and be clobbered by the re-write; the propsAtPlan
    // guard then skips the clear when anything changed since the
    // statement was planned (a rename whose fresh prior entry this
    // clear would erase, silently nulling the column). The data commit
    // above is atomic and correct with the ledger still in place
    // either way — skipping is always safe.
    try GraftTable.withMetaLock(root) {
      val (sc, props) = GraftTable.declaredMeta(root)
      val stale = props.keys.filter(k =>
        k.startsWith(GraftTable.colPriorPrefix) ||
          k.startsWith(GraftTable.droppedChainPrefix) ||
          k.startsWith(GraftTable.dropTypePrefix) ||
          k == GraftTable.droppedProp)
      if (stale.nonEmpty && propsAtPlan == props)
        GraftTable.writeMeta(root, sc, props -- stale)
    } catch { case _: Exception => () }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case StagedFilesMessage(d, _) => d }.flatten
      .foreach(f => Files.deleteIfExists(Paths.get(f)))
}

/** MERGE-ON-READ commit: executors stage touched-row data files plus
  * deleted-key files; `commit` publishes ONE scoped-delta manifest
  * ([[Snapshots.commitStagedDelta]]). */
private[catalog] class GraftDeltaBatchWrite(root: String, keyCol: String,
    dataSchema: StructType, keySchema: StructType,
    branch: Option[String] = None,
    // DERIVED layout of the table (r20): the delta's INSERT halves
    // stage under the synthetic `_gbucket`/`_gtpart` segment like any
    // other write, so the layout's pruning/SPJ keeps holding for the
    // new rows once a rewrite absorbs the pending deletes. Delete-KEY
    // files stay flat (they are sidecars, not data).
    bucket: Option[(String, Int)] = None,
    transform: Option[(SnapTransform.Spec,
      org.apache.spark.sql.types.DataType)] = None) extends DeltaBatchWrite {

  private val stagingDir = Snapshots.newStagingDir(root)
  Files.createDirectories(Paths.get(stagingDir))

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    // remapped columns write under their physical spelling; delete-KEY
    // files keep the logical spelling (the #del line and the loaders
    // are self-consistent on it)
    val dataConf = ExecParquet.writerConf(GraftTable.toPhysicalSchema(
      dataSchema, GraftTable.physOf(GraftTable.declaredMeta(root)._2)))
    val keyConf = ExecParquet.writerConf(keySchema)
    val dir = stagingDir
    val localSchema = dataSchema
    // a DELETE-only statement's write schema is empty (no insert rows
    // ever arrive) — resolve the layout ordinals only when the source
    // column is present; absent → the (never-written) flat path
    val localBucket = bucket.filter(b =>
        localSchema.fieldNames.contains(b._1))
      .map { case (c, n) => (localSchema.fieldIndex(c), localSchema(c).dataType, n) }
    val localTransform: Option[(Int, org.apache.spark.sql.types.DataType,
        SnapTransform.Spec)] =
      transform.filter(t => localSchema.fieldNames.contains(t._1.col))
        .map { case (t, dt) => (localSchema.fieldIndex(t.col), dt, t) }
    (partitionId: Int, taskId: Long) =>
      new GraftDeltaWriter(dir, dataConf, keyConf, partitionId, taskId,
        localSchema, localBucket, localTransform)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: StagedFilesMessage => m }
    Snapshots.commitStagedDelta(root, keyCol,
      msgs.flatMap(_.dataFiles).toSeq, msgs.flatMap(_.delKeyFiles).toSeq,
      branch = branch)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case StagedFilesMessage(d, k) => d ++ k }.flatten
      .foreach(f => Files.deleteIfExists(Paths.get(f)))
}

/** Positional delta commit: DELETE halves stage one DELETION VECTOR
  * per touched data file ([[graft.sources.DeleteVectors]] — a roaring
  * bitmap of the file's deleted ordinals, >10× smaller than the
  * row-per-pair parquet it replaced), INSERT halves (updates) stage
  * ordinary data files; one atomic `#posdel` commit publishes both
  * ([[Snapshots.commitStagedPosDelete]] — parent data files unchanged,
  * concurrent-rewrite refusal inside). Each `#posdel` line now maps a
  * data file to EXACTLY the sidecars covering it (tasks report their
  * per-file DV paths), so a read of one affected file loads one small
  * bitmap, not the statement's whole delete set. */
private[catalog] class GraftPosDeltaBatchWrite(root: String,
    dataSchema: StructType,
    branch: Option[String] = None) extends DeltaBatchWrite {

  private val stagingDir = Snapshots.newStagingDir(root)
  Files.createDirectories(Paths.get(stagingDir))

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    val dataConf = ExecParquet.writerConf(GraftTable.toPhysicalSchema(
      dataSchema, GraftTable.physOf(GraftTable.declaredMeta(root)._2)))
    val dir = stagingDir
    (partitionId: Int, taskId: Long) =>
      new GraftPosDeltaWriter(dir, dataConf, partitionId, taskId)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: PosStagedMessage => m }
    // (data file -> its DV sidecars): several tasks may split one
    // file, so a file can carry one DV per task this commit — the
    // reader ORs them; compaction folds them to one
    val affected = msgs.flatMap(_.dvFiles).groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.toSeq).toMap
    Snapshots.commitStagedPosDelete(root, affected,
      msgs.flatMap(_.dataFiles).toSeq, branch = branch)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case PosStagedMessage(d, dv) => d ++ dv.map(_._2) }
      .flatten.foreach(f => Files.deleteIfExists(Paths.get(f)))
}

private[catalog] final case class PosStagedMessage(dataFiles: Seq[String],
  dvFiles: Seq[(String, String)]) extends WriterCommitMessage

/** Per-task positional writer: DELETE rows' (file, pos) ids
  * accumulate into one in-memory roaring bitmap per touched data file
  * (O(deleted rows / 8) bytes), flushed as `.dv` sidecars at task
  * commit; INSERT halves of updates go to a data file. */
private[catalog] class GraftPosDeltaWriter(dir: String,
    dataConf: SerializableConfiguration,
    partitionId: Int, taskId: Long) extends DeltaWriter[InternalRow] {

  private val data = new ParquetRowDataWriter(
    f"$dir/part-$partitionId%05d-$taskId.parquet", dataConf.value, partitionId, taskId)
  private val dvs = scala.collection.mutable.Map.empty[
    String, org.roaringbitmap.RoaringBitmap]

  override def insert(row: InternalRow): Unit = data.write(row)

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    val file = id.getUTF8String(0).toString
    val pos = id.getLong(1)
    require(pos >= 0L && pos <= Int.MaxValue,
      s"row ordinal $pos of $file exceeds the deletion-vector range")
    dvs.getOrElseUpdate(file, new org.roaringbitmap.RoaringBitmap)
      .add(pos.toInt)
  }

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new IllegalStateException(
      "updates arrive as delete+insert (representUpdateAsDeleteAndInsert)")

  override def commit(): WriterCommitMessage = {
    val dvFiles = dvs.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((file, bm), i) =>
        val p = f"$dir/dv-$partitionId%05d-$taskId-$i${graft.sources.DeleteVectors.extension}"
        graft.sources.DeleteVectors.write(p, file, bm)
        file -> p
    }
    PosStagedMessage(data.finish().toSeq, dvFiles)
  }

  override def abort(): Unit = data.abort()

  override def close(): Unit = ()
}

/** Per-task delta writer: INSERTs (and the insert half of updates) go
  * to a data file — under the table's derived layout segment when one
  * is declared ([[DynPartTaskWriter]], r20) — DELETEs (and the delete
  * half of updates) write the row's key to a flat delete-key file. */
private[catalog] class GraftDeltaWriter(dir: String,
    dataConf: SerializableConfiguration, keyConf: SerializableConfiguration,
    partitionId: Int, taskId: Long,
    dataSchema: StructType = null,
    bucket: Option[(Int, org.apache.spark.sql.types.DataType, Int)] = None,
    transform: Option[(Int, org.apache.spark.sql.types.DataType,
      SnapTransform.Spec)] = None) extends DeltaWriter[InternalRow] {

  private val flat: ParquetRowDataWriter =
    if (bucket.isEmpty && transform.isEmpty)
      new ParquetRowDataWriter(
        f"$dir/part-$partitionId%05d-$taskId.parquet", dataConf.value,
        partitionId, taskId)
    else null
  private val dyn: DynPartTaskWriter =
    if (flat != null) null
    else new DynPartTaskWriter(dir, dataSchema, Nil, dataConf.value,
      f"part-$partitionId%05d-$taskId.parquet", partitionId, taskId,
      bucket = bucket, transform = transform)
  private val keys = new ParquetRowDataWriter(
    f"$dir/delkeys-$partitionId%05d-$taskId.parquet", keyConf.value, partitionId, taskId)

  override def insert(row: InternalRow): Unit =
    if (flat != null) flat.write(row) else dyn.write(row)

  override def delete(metadata: InternalRow, id: InternalRow): Unit = keys.write(id)

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new IllegalStateException(
      "updates arrive as delete+insert (representUpdateAsDeleteAndInsert)")

  override def commit(): WriterCommitMessage =
    StagedFilesMessage(
      if (flat != null) flat.finish().toSeq else dyn.finish(),
      keys.finish().toSeq)

  override def abort(): Unit = {
    if (flat != null) flat.abort() else dyn.abort()
    keys.abort()
  }

  override def close(): Unit = ()
}
