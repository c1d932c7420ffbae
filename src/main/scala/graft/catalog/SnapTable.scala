package graft.catalog

import graft.sources.Snapshots
import graft.sources.Snapshots.{DeleteFile, Snapshot}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex, NoopCache, PartitionSpec}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.Collections
import scala.jdk.CollectionConverters._

/** A snapshot-store table as a DataSourceV2 [[Table]].
  *
  * READ: the head (or a time-travel-pinned) manifest's file list feeds
  * an [[InMemoryFileIndex]] + [[ParquetScanBuilder]] — Spark's own
  * vectorized parquet scan with full filter pushdown and column
  * pruning, planned over EXACTLY the manifest's files (no directory
  * listing, the store's metadata-only contract). When the snapshot
  * carries pending merge-on-read deletes, the scan switches to the
  * delete-applying wrapper ([[MorScan]]): one parquet scan whose
  * readers apply the delete-key covers row-level under each file's
  * sequence number — column pruning forwards, and rename-invariant
  * predicates forward to its parquet builder for scan-level skipping
  * (every predicate is still re-applied above the scan); only the
  * batches come back
  * row-based until the next rewrite absorbs the deletes (the same
  * transient degrade Iceberg v2 accepts for equality deletes).
  *
  * WRITE: INSERT INTO / CTAS / INSERT OVERWRITE go through a
  * [[org.apache.spark.sql.connector.write.V1Write]] fallback — the
  * staged write is still a fully distributed `df.write.parquet` into a
  * versioned staging dir; only the atomic manifest publish
  * ([[Snapshots.commitAppend]]/[[Snapshots.commit]]) runs on the
  * driver. DELETE / UPDATE / MERGE are NATIVE row-level operations
  * ([[GraftRowLevel]]): Spark's own analyzer rewrites the statement
  * and this table supplies the scan and the commit point.
  *
  * Schema: every root declares its schema in `_table.properties` —
  * CREATE TABLE writes it, and a root built through the direct
  * [[Snapshots]] API is declared by its first commit (footer schema,
  * `.partitionBy` path columns), widened by later commits that add a
  * column ([[GraftTable.admit]]). Reads never infer a head schema. The
  * direct API's own reads ([[Snapshots.read]] and friends) are this
  * table.
  */
class GraftTable(tableName: String, val root: String,
    val pinned: Option[Snapshot])
  extends Table with SupportsRead with SupportsWrite with SupportsRowLevelOperations
  with SupportsPartitionManagement
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** Row-id metadata columns (_gfile/_gpos) — exposed only in
    * positional merge-on-read mode, where they are what the row-level
    * rewrite identifies rows by. Outside row-level operations they are
    * served only while the scan routes through the MOR path (pending
    * deletes); a plain scan null-fills them — they are an operation
    * plumbing surface, not a general lineage feature. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (!positionalMor) Array.empty
    else Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftRowId.FileCol
        override def dataType(): DataType = org.apache.spark.sql.types.StringType
        override def isNullable: Boolean = false // row ids must be non-null
        override def comment(): String = "data file path of the row (row-id half 1)"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftRowId.PosCol
        override def dataType(): DataType = org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false // row ids must be non-null
        override def comment(): String = "ordinal of the row in its file (row-id half 2)"
      })

  private def spark = SparkSession.active

  /** The snapshot this table instance reads: pinned (time travel) or
    * resolved once per loadTable — Spark re-loads the table per query,
    * so a cached instance never goes stale across statements. */
  lazy val snap: Option[Snapshot] = pinned.orElse(Snapshots.resolve(root))

  /** The root's declared (schema, table properties) — every committed
    * root carries them ([[GraftTable.admit]]). */
  private lazy val meta: (StructType, Map[String, String]) =
    GraftTable.declaredMeta(root)

  private def props: Map[String, String] = meta._2

  override def name(): String = tableName

  /** Pinned (time-travel) name resolution: the footer-merged schema of
    * the pinned files with each RENAME chain collapsed to its newest
    * spelling present among those files, plus the prior-spelling map
    * the scan needs to coalesce the older ones into it. A version
    * whose files all predate a rename presents the historical name
    * untouched (empty map); a version whose files STRADDLE a rename
    * presents the newest spelling its own files carry, fully populated
    * — never a union schema with the column's values split across
    * half-null spellings. */
  private lazy val pinnedResolution: Option[(StructType, Map[String, Seq[String]], Map[String, String])] =
    pinned.filter(_.files.nonEmpty).map { p =>
      // per-file schemas from the footers' serialized Spark schema,
      // read on the DRIVER (µs per local file). When every pinned file
      // agrees — the overwhelmingly common case — the merge is the
      // identity and the scheduled mergeSchema inference job is skipped
      // outright; files that straddle an evolution keep Spark's own
      // merged inference (and its widening fallback) unchanged.
      val fileSchemas = p.files.map(
        graft.sources.Snapshots.footerSparkSchema)
      val merged0 = fileSchemas.head match {
        case Some(h) if fileSchemas.forall(_.contains(h)) => h
        case _ =>
          try spark.read.option("mergeSchema", "true").parquet(p.files: _*).schema
          catch {
            case e: org.apache.spark.SparkException
                if e.getMessage != null && e.getMessage.contains("CANNOT_MERGE") =>
              // the pinned version's files straddle an ALTER COLUMN
              // widening — parquet's merge refuses INT-vs-BIGINT footers;
              // re-merge under the safe-promotion matrix (fallback-only
              // path: one footer read per file, driver-side, and only for
              // time travel into a widening boundary)
              GraftTable.mergeWiden(p.files.map(f => spark.read.parquet(f).schema))
          }
      }
      // RE-ADDED columns: a pinned version whose files carry the
      // PHYSICAL spelling presents it under the LOGICAL name, and the
      // dropped column's dead bytes under that name stay hidden
      // (matching the head read). Versions predating the re-add (no
      // physical spelling in any footer) are untouched — their field
      // of that name is the OLD column, alive then.
      val physAll = GraftTable.physOf(props)
      val remap = physAll.filter { case (_, ph) => merged0.fieldNames.contains(ph) }
      val merged =
        if (remap.isEmpty) merged0
        else StructType(merged0.fields.flatMap { f =>
          if (remap.contains(f.name)) None // the first column's dead bytes
          else remap.collectFirst { case (l, ph) if ph == f.name =>
            f.copy(name = l) }.orElse(Some(f))
        })
      val present = merged.fieldNames.toSet
      // full spelling history per chain, oldest → newest (ledger from
      // the CURRENT meta — renames are metadata-only, so the ledger is
      // the only record of which names are spellings of one column).
      // DROPPED columns keep their chains too (droppedChainPrefix): a
      // pinned version predating the drop still owns the column, and
      // if its files straddle the column's earlier rename the same
      // coalesce rule applies — never a union schema.
      val chains = (GraftTable.priorsOf(props) ++ GraftTable.droppedChainsOf(props))
        .map { case (cur, ps) => ps :+ cur }
        .map(chain => chain.filter(present))
        .filter(_.length >= 2)
      if (chains.isEmpty) (merged, Map.empty[String, Seq[String]], remap)
      else {
        val newestOf = chains.map(c => c.head -> c.last).toMap // firstPresent → newest
        val laterSpellings = chains.flatMap(_.tail).toSet
        // the collapsed field's TYPE is the widest among the chain's
        // present spellings, not the oldest spelling's: a version whose
        // files straddle a RENAME and a later ALTER COLUMN widening
        // (amount INT → price, then price INT→BIGINT) merges under
        // distinct names, and the post-widening files physically carry
        // the wide type under the newest spelling — presenting the
        // narrow type would make the scan read int64 pages as INT
        val mergedByName = merged.fields.map(f => f.name -> f).toMap
        val chainField = chains.map { c =>
          val widest = c.map(mergedByName).reduceLeft { (a, b) =>
            if (GraftTable.widensTo(a.dataType, b.dataType))
              b.copy(nullable = a.nullable || b.nullable)
            else if (GraftTable.widensTo(b.dataType, a.dataType))
              a.copy(nullable = a.nullable || b.nullable)
            else throw new IllegalStateException(
              s"cannot collapse rename chain ${c.mkString("->")}: " +
                s"${a.dataType.simpleString} vs ${b.dataType.simpleString} " +
                "is not a safe widening")
          }
          c.head -> widest.copy(name = c.last)
        }.toMap
        val collapsed = StructType(merged.fields.flatMap { f =>
          if (laterSpellings.contains(f.name)) None // folded into the first occurrence
          else if (newestOf.contains(f.name)) Some(chainField(f.name))
          else Some(f)
        })
        val prior = chains.map(c => c.last -> c.init).toMap
        (collapsed, prior, remap)
      }
    }

  override def schema(): StructType = {
    // a time-travel-pinned read presents the schema AS OF that version
    // (inferred from its own footers, merged across its eras, rename
    // chains collapsed — see [[pinnedResolution]]); the declared meta
    // schema governs the head
    val declared = pinnedResolution match {
      case Some((sc, _, _)) =>
        // PARTITIONED tables: the pinned footers lack the partition
        // columns (they live in the path) — re-attach their declared
        // fields AT THEIR DECLARED ORDINALS, so a pinned SELECT *
        // lines up positionally with the head read (a tail-append
        // would silently swap columns under UNION/collect-by-index)
        val missing = partCols.filterNot(sc.fieldNames.contains)
        if (missing.isEmpty) sc
        else {
          val ms = meta._1
          val present = sc.fieldNames.toSet ++ missing
          // declared order for every field the declared schema knows;
          // footer-only fields (since dropped) keep their spot
          val declaredOrdered = ms.fields.filter(f =>
            present.contains(f.name)).map(f =>
            sc.fields.find(_.name == f.name).getOrElse(f))
          val extras = sc.fields.filterNot(f =>
            ms.fieldNames.contains(f.name))
          StructType(declaredOrdered ++ extras)
        }
      case None => meta._1
    }
    // a merge-on-read key is a primary key: Spark's delta rewrites
    // require the row-id attribute non-nullable (same contract as
    // Iceberg identifier fields), so pin it here regardless of how the
    // CREATE statement spelled it
    morKey match {
      case Some(k) => StructType(declared.fields.map(f =>
        if (f.name == k) f.copy(nullable = false) else f))
      case None => declared
    }
  }

  override def properties(): java.util.Map[String, String] =
    props.asJava

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  /** The merge-on-read key column, when this table is configured for
    * delta (Hudi/Iceberg-v2-style) row-level writes:
    * `TBLPROPERTIES ('graft.mor.key' = '<primary key col>')`. Absent →
    * copy-on-write row-level ops. */
  def morKey: Option[String] = props.get(GraftTable.morKeyProp)

  /** POSITIONAL merge-on-read mode
    * (`TBLPROPERTIES ('graft.mor.positional'='true')`): row-level ops
    * identify rows by (file, ordinal) row ids instead of a key column
    * — the delete form for tables with NO unique key. Mutually
    * exclusive with [[morKey]] and PARTITIONED BY (enforced at DDL). */
  def positionalMor: Boolean =
    props.get(GraftTable.posMorProp).contains("true")

  /** logical → physical file spelling of RE-ADDED columns
    * ([[GraftTable.colPhysPrefix]]); empty for the common case. */
  private[catalog] def physMap: Map[String, String] = GraftTable.physOf(props)

  /** Identity partition columns ([[GraftTable.partColsProp]]) — a
    * `PARTITIONED BY` table's, or the `.partitionBy` path columns a
    * direct-API commit declared; empty for unpartitioned. */
  def partCols: Seq[String] = GraftTable.partColsOf(props)

  /** Hash-bucket layout of a `PARTITIONED BY (bucket(n, col))` table
    * ([[SnapBucket]]); mutually exclusive with [[partCols]]. */
  def bucketSpec: Option[(String, Int)] = SnapBucket.of(props)

  /** Time/truncate transform layout ([[SnapTransform]]); composes with
    * [[partCols]], mutually exclusive with [[bucketSpec]]. */
  def transformSpec: Option[SnapTransform.Spec] = SnapTransform.of(props)

  /** RETIRED layouts ([[SnapBucket.retiredProp]] /
    * [[SnapTransform.retiredProp]]): committed files still carry the
    * synthetic segments — the scan keeps parsing (and pruning, while
    * the source column lives) — but writes stage flat and the table
    * reports no derived partitioning. */
  def retiredBucketSpec: Option[(String, Int)] = SnapBucket.ofRetired(props)

  def retiredTransformSpec: Option[SnapTransform.Spec] = SnapTransform.ofRetired(props)

  /** Declared type of the transform source column (needed wherever a
    * transform ordinal is computed). */
  private def transformSrcType: Option[org.apache.spark.sql.types.DataType] =
    transformSpec.flatMap(t => schema().fields.find(_.name == t.col))
      .map(_.dataType)

  /** Source type of a (possibly RETIRED) transform spec: the live
    * declared type, else — for a retired layout whose source column
    * was since DROPPED — the drop-time type from the droptype ledger
    * (committed segment values were rendered at it), else a parse-only
    * fallback (no pruning can reference a dropped name anyway). */
  private def srcTypeOfSpec(t: SnapTransform.Spec): org.apache.spark.sql.types.DataType =
    schema().fields.find(_.name == t.col).map(_.dataType)
      .orElse(GraftTable.dropTypesOf(props).get(t.col))
      .getOrElse(
        if (t.kind == "truncate") org.apache.spark.sql.types.StringType
        else org.apache.spark.sql.types.TimestampType)

  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    bucketSpec match {
      case Some((c, n)) =>
        Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c))
      case None =>
        import org.apache.spark.sql.connector.expressions.Expressions
        val idents = partCols.map(c => Expressions.identity(c))
        val trans = transformSpec.map { t =>
          t.kind match {
            case "years" => Expressions.years(t.col)
            case "months" => Expressions.months(t.col)
            case "days" => Expressions.days(t.col)
            case "hours" => Expressions.hours(t.col)
            case "truncate" =>
              Expressions.apply("truncate",
                Expressions.literal(t.width.toInt), Expressions.column(t.col))
          }
        }
        (idents ++ trans).toArray
    }

  // --- SupportsPartitionManagement (read-only: SHOW PARTITIONS) ---------
  //
  // Partitions are IMPLIED by data (Delta's model): they appear with
  // the first row written into them and vanish with the last rewrite
  // that drops them — ADD/DROP PARTITION as metadata operations have
  // nothing to mutate, so they refuse; the listing parses the head
  // manifest's col=value paths, metadata-only.
  override def partitionSchema(): StructType =
    GraftTable.partSchemaOf(schema(), partCols)

  override def listPartitionIdentifiers(names: Array[String],
      ident: InternalRow): Array[InternalRow] = {
    val ps = partitionSchema()
    require(names.forall(ps.fieldNames.contains),
      s"unknown partition column(s): ${names.mkString(",")}")
    val rows = GraftScans.partitionValuesFor(snap.map(_.files).getOrElse(Nil), ps)
    val nameOrds = names.map(ps.fieldIndex)
    rows.filter(r => nameOrds.indices.forall { i =>
      val dt = ps.fields(nameOrds(i)).dataType
      val a = r.get(nameOrds(i), dt)
      val b = ident.get(i, dt)
      (a == null && b == null) || (a != null && a == b)
    }).toArray
  }

  override def createPartition(ident: InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "partitions are implied by data — INSERT rows instead of ADD PARTITION")

  override def dropPartition(ident: InternalRow): Boolean =
    throw new UnsupportedOperationException(
      "partitions are implied by data — DELETE rows instead of DROP PARTITION")

  override def replacePartitionMetadata(ident: InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "snapshot tables carry no per-partition metadata")

  override def loadPartitionMetadata(ident: InternalRow): java.util.Map[String, String] =
    Collections.emptyMap()

  /** Prior physical names per presented column. HEAD reads use the
    * full RENAME ledger; a time-travel-pinned read presents that
    * version's own (historical) names and needs the map only when its
    * files straddle a rename — then the older present spellings
    * coalesce into the newest one ([[pinnedResolution]]). */
  private def priors: Map[String, Seq[String]] =
    pinnedResolution match {
      case Some((_, pr, _)) => pr
      case None if pinned.isDefined => Map.empty
      case None => GraftTable.priorsOf(props)
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val sc = schema()
    // bucket tables carry a SYNTHETIC single-int partition schema: the
    // _gbucket=<id> path segment drives the file index (grouping, and
    // the spec parse KeyGroupedBatch keys from) but is never a row
    // column — parquetBuilder's dataSchema subtraction leaves the full
    // declared schema untouched because the name is reserved
    val partSchema = (bucketSpec, retiredBucketSpec) match {
      case (Some(_), _) => SnapBucket.partSchema
      // retired bucket: segments still parse, NULLABLE (post-
      // retirement files stage flat and read a NULL id)
      case (None, Some(_)) => SnapBucket.partSchemaRetired
      case _ =>
        // a transform layout appends its synthetic ordinal field AFTER
        // any identity columns (matching the staged directory nesting);
        // a RETIRED transform keeps the field — its committed segments
        // still parse (and prune while the source column lives)
        val base = GraftTable.partSchemaOf(sc, partCols)
        transformSpec.orElse(retiredTransformSpec) match {
          case Some(t) =>
            StructType(base.fields ++
              SnapTransform.partSchema(t, srcTypeOfSpec(t)).fields)
          case None => base
        }
    }
    // drop ledger (chains + types) feeds the MOR scan's shadow-field
    // resolution for HEAD reads only: a pinned read's schema comes
    // from its own era's footers, where a "dropped" column is still
    // physically live — the shadow machinery would duplicate it
    val (dropChains, dropTypes) =
      if (pinned.isDefined) (Map.empty[String, Seq[String]], Map.empty[String, DataType])
      else (GraftTable.droppedChainsOf(props), GraftTable.dropTypesOf(props))
    // the streamable wrapper forwards every pushdown interface to the
    // inner builder and adds only toMicroBatchStream on the built scan
    // (plus manifest-size statistics where the inner scan reports none)
    // pruning specs: a RETIRED layout's committed directories still
    // prune (the pruning index resolves the key's type from the LIVE
    // schema, so a dropped source simply stops pruning); the streamable
    // wrapper gets the ACTIVE bucket spec only (SPJ/agg reporting)
    val phys =
      if (pinned.isDefined) pinnedResolution.map(_._3).getOrElse(Map.empty)
      else physMap
    // a retired source DROPPED and RE-ADDED under the same name is a
    // DIFFERENT column (physical remap): its predicates must never
    // prune the old column's directories
    val transSpec = transformSpec.orElse(
        retiredTransformSpec.filterNot(t => phys.contains(t.col)))
      .map(t => (t, srcTypeOfSpec(t)))
    val bucketForPrune = bucketSpec.orElse(
      retiredBucketSpec.filterNot(s => phys.contains(s._1)))
    new GraftStreamableScanBuilder(
      GraftScans.builder(spark, sc, snap, options, priors, partSchema,
        dropChains, dropTypes, bucketForPrune, transSpec, remapped = phys),
      root, sc, priors, pinned.isDefined, snap, options, partCols, bucketSpec)
  }

  /** The positional row-level operation's source scan: the MOR path
    * with row-id emission forced — every row arrives with its
    * (_gfile, _gpos) identity, pending equality AND position deletes
    * applied (a DELETE must not re-hide hidden rows; an UPDATE must
    * not resurrect them). */
  private[catalog] def newRowIdScanBuilder(options: CaseInsensitiveStringMap,
      allowPinned: Boolean = false): ScanBuilder = {
    // a BRANCH row-level op deliberately scans through a branch-head-
    // pinned instance (allowPinned); a time-travel pin stays refused
    require(pinned.isEmpty || allowPinned,
      s"cannot run row-level ops against a pinned read of $tableName")
    GraftScans.builder(spark, schema(), snap, options,
      emitRowId = true, remapped = physMap)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinned.isEmpty,
      s"cannot write to a time-travel-pinned read of $tableName")
    new GraftV1WriteBuilder(root, info, partCols, bucketSpec,
      (transformSpec, transformSrcType) match {
        case (Some(t), Some(dt)) => Some((t, dt))
        case _ => None
      }, physMap)
  }

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(pinned.isEmpty,
      s"cannot run ${info.command} against a time-travel-pinned read of $tableName")
    () => morKey match {
      case Some(key) => new GraftDeltaOperation(info.command, this, key)
      // positional MOR: rows identified by (file, ordinal) row ids —
      // O(matched rows) deletes with NO key column required
      case None if positionalMor =>
        new GraftPositionalOperation(info.command, this)
      // partitioned tables take the COW path too: the rewrite writer
      // splits each task's rows into col=value subdirs (dynamic
      // partitioning), preserving the layout through the full rewrite
      case None      => new GraftGroupOperation(info.command, this)
    }
  }

  override def toString: String = s"GraftTable($tableName @ $root)"
}

object GraftTable {
  val metaFile = "_table.properties"
  val morKeyProp = "graft.mor.key"
  /** Positional merge-on-read opt-in: 'true' routes row-level ops
    * through (file, ordinal) row ids ([[GraftPositionalOperation]]). */
  val posMorProp = "graft.mor.positional"
  /** Rewrite change-diff opt-in (r20, Delta's enableChangeDataFeed
    * analogue): 'true' makes every row-changing COW rewrite materialize
    * its row-level diff as `#changes:` sidecar parquet in the same
    * atomic commit, so the streaming `.changes` feed serves the
    * rewrite's effects instead of refusing. Off by default — the diff
    * costs one old-state + new-state comparison per statement. */
  val rewriteDiffProp = "graft.changes.rewriteDiff"
  /** Identity partition columns of a `CREATE TABLE … PARTITIONED BY`
    * table (comma-joined, in declaration order). Writes stage through
    * `partitionBy` (files carry `col=value` path segments inside their
    * version dirs); the scan rebuilds a partition-aware file index
    * from the manifest's paths, so partition pruning — static AND
    * runtime (DPP) — runs through Spark's own mechanism. */
  val partColsProp = "graft.partition.cols"
  def partColsOf(props: Map[String, String]): Seq[String] =
    props.get(partColsProp).toSeq.flatMap(_.split(','))
      .map(_.trim).filter(_.nonEmpty)
  /** THE partition-schema rule (declared order, declared types) —
    * shared by the table, the scan builder, and the streaming source
    * so the three can never drift. */
  def partSchemaOf(schema: StructType, partCols: Seq[String]): StructType =
    StructType(partCols.flatMap(c => schema.fields.find(_.name == c)))
  /** Prior-physical-name ledger for RENAME COLUMN evolution: one
    * property `graft.col.prior.<currentName>` per renamed column,
    * value = comma-joined prior names oldest→newest (see
    * [[GraftCatalog.alterTable]]). */
  val colPriorPrefix = "graft.col.prior."
  /** Tombstoned physical names of DROPped columns (comma-joined) —
    * blocks ADD/RENAME from resurrecting their file data. */
  val droppedProp = "graft.cols.dropped"
  /** Chain-STRUCTURED record of a dropped column's spelling history:
    * `graft.col.dropchain.<finalName>` = comma-joined prior names
    * oldest→newest (the colPriorPrefix value shape, preserved at DROP
    * time instead of flattened). The flat [[droppedProp]] list stays
    * the name-collision ledger; this keyed form is what a time-travel
    * pinned read needs to coalesce a dropped column's spellings when
    * the pinned version's files STRADDLE its rename — without it the
    * column would present split across two half-null spellings,
    * breaking the never-a-union-schema contract. */
  val droppedChainPrefix = "graft.col.dropchain."
  /** Declared type of a DROPped column at drop time (DataType JSON),
    * `graft.col.droptype.<finalName>`. Recorded so a column that keys
    * PENDING merge-on-read delete files can still be dropped: the MOR
    * scan keeps reading it as a hidden shadow field (filter-only,
    * never presented) and needs its declared width — the drop-time
    * type already includes any earlier widening, so staged narrow
    * delete keys keep upcasting exactly as they did pre-drop. */
  val dropTypePrefix = "graft.col.droptype."
  /** ANALYZE (NDV) ledger — `CALL snap.system.analyze` writes one
    * `graft.stats.ndv.<col>` entry per atomic column plus the row
    * count and the version analyzed at; the scan's reported column
    * statistics serve them to the cost-based optimizer. Stale-but-
    * present entries keep serving (the ANALYZE TABLE contract), but
    * the scan EXTRAPOLATES each NDV by live-rows / [[statsRowsProp]]
    * when the table has grown since the ANALYZE (capped at live rows);
    * [[statsVersionProp]] is the ledger's provenance, surfaced via
    * SHOW TBLPROPERTIES. */
  val ndvPrefix = "graft.stats.ndv."
  val statsRowsProp = "graft.stats.rows"
  val statsVersionProp = "graft.stats.version"
  private val schemaKey = "graft.schema.json"

  /** Per-root monitor serializing metadata READ-MODIFY-WRITE cycles —
    * ALTER TABLE's fold ([[GraftCatalog.alterTable]]) and the
    * post-rewrite ledger clear ([[GraftRewriteBatchWrite.commit]]).
    * Without it, a clear racing an ALTER between its readMeta and
    * writeMeta would republish the pre-ALTER schema and silently lose
    * the user's change. Metadata mutations run on the DRIVER — one JVM
    * per deployment — so a JVM-level stripe is the correct local
    * binding (the same reason the manifest commit point binds to an
    * atomic local link create); a multi-driver store would make
    * [[writeMeta]] a conditional PUT on a meta version stamp instead. */
  private val metaLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def withMetaLock[T](root: String)(f: => T): T = {
    val key =
      try Paths.get(root).toAbsolutePath.normalize.toString
      catch { case _: Exception => root }
    metaLocks.computeIfAbsent(key, _ => new Object).synchronized(f)
  }

  /** current column name → its prior physical names, oldest→newest. */
  /** PHYSICAL-SPELLING indirection for RE-ADDED columns (the narrow
    * form of Delta's column mapping / Iceberg's field ids):
    * `graft.col.phys.<logical>` = the spelling the column's data is
    * written under in files. Minted ONLY when ADD COLUMN re-uses a
    * tombstoned name — the logical name's old file bytes are dead, so
    * new data writes under a fresh physical spelling and reads
    * coalesce the physical spelling ONLY (never the logical — that
    * would resurface the dead bytes). Absent mapping = physical ==
    * logical, the zero-overhead common case. */
  val colPhysPrefix = "graft.col.phys."

  /** logical name → physical file spelling, for remapped columns. */
  def physOf(props: Map[String, String]): Map[String, String] =
    props.collect { case (k, v) if k.startsWith(colPhysPrefix) =>
      k.stripPrefix(colPhysPrefix) -> v
    }

  /** Rename a DataFrame's remapped columns to their physical spellings
    * (write-side; the one home of the logical→physical direction). */
  def toPhysical(df: org.apache.spark.sql.DataFrame,
      phys: Map[String, String]): org.apache.spark.sql.DataFrame =
    phys.foldLeft(df) { case (d, (l, p)) =>
      if (d.columns.contains(l)) d.withColumnRenamed(l, p) else d }

  /** Same direction on a schema (positional writers — rows untouched). */
  def toPhysicalSchema(schema: StructType,
      phys: Map[String, String]): StructType =
    StructType(schema.fields.map(f =>
      phys.get(f.name).map(p => f.copy(name = p)).getOrElse(f)))

  def priorsOf(props: Map[String, String]): Map[String, Seq[String]] =
    props.collect { case (k, v) if k.startsWith(colPriorPrefix) =>
      k.stripPrefix(colPriorPrefix) -> v.split(',').toSeq.filter(_.nonEmpty)
    }

  def droppedOf(props: Map[String, String]): Set[String] =
    props.get(droppedProp).toSeq
      .flatMap(_.split(',')).filter(_.nonEmpty).toSet

  /** Dropped column's final name → its prior physical names,
    * oldest→newest (the preserved rename chains of dropped columns). */
  def droppedChainsOf(props: Map[String, String]): Map[String, Seq[String]] =
    props.collect { case (k, v) if k.startsWith(droppedChainPrefix) =>
      k.stripPrefix(droppedChainPrefix) -> v.split(',').toSeq.filter(_.nonEmpty)
    }

  /** Dropped column's final name → its declared type at drop time. */
  def dropTypesOf(props: Map[String, String]): Map[String, DataType] =
    props.collect { case (k, v) if k.startsWith(dropTypePrefix) =>
      k.stripPrefix(dropTypePrefix) -> DataType.fromJson(v)
    }

  /** Iceberg's safe type-promotion matrix — the set of ALTER COLUMN
    * type changes that are metadata-only because every narrower value
    * maps losslessly into the wider type AND Spark's parquet readers
    * (vectorized included) natively upcast the narrow physical type
    * when the declared schema is wider: int→bigint, float→double,
    * decimal precision growth at fixed scale. Everything else (a
    * narrowing, a scale change, a re-type) needs a rewrite. */
  def widensTo(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (a, b) if a == b => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      // Iceberg v3's date -> timestamp (its `timestamp` is zoneless):
      // Spark's parquet readers natively promote INT32 date pages to
      // TIMESTAMP_NTZ, top-level and nested; the zone-adjusting
      // TimestampType is NOT safe (the reader refuses — a date has no
      // instant) and stays out of the matrix
      case (DateType, TimestampNTZType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale == a.scale && b.precision >= a.precision
      // struct evolution (nested ADD COLUMN): `to` carries every field
      // of `from` (each safely widened, order-free) plus only NULLABLE
      // additions — the shape a pinned read straddling an
      // `ADD COLUMN s.f` must merge
      case (a: StructType, b: StructType) =>
        a.fields.forall(fa => b.fields.find(_.name == fa.name)
          .exists(fb => widensTo(fa.dataType, fb.dataType))) &&
        b.fields.forall(fb => a.fieldNames.contains(fb.name) || fb.nullable)
      case _ => false
    }
  }

  /** Widening-aware schema merge for pinned (time-travel) reads whose
    * files STRADDLE an ALTER COLUMN widening: parquet's own mergeSchema
    * refuses to merge INT with BIGINT footers, so the conflict resolves
    * here under the [[widensTo]] matrix — the straddling version
    * presents the WIDER type and the scan's native upcast populates the
    * narrow files' values under it. Field order is first-occurrence,
    * matching mergeSchema's. */
  def mergeWiden(schemas: Seq[StructType]): StructType =
    schemas.reduceLeft { (a, b) =>
      val out = scala.collection.mutable.LinkedHashMap.empty[String, org.apache.spark.sql.types.StructField]
      a.fields.foreach(f => out(f.name) = f)
      b.fields.foreach { f =>
        out.get(f.name) match {
          case None => out(f.name) = f
          case Some(g) if widensTo(g.dataType, f.dataType) =>
            out(f.name) = f.copy(nullable = g.nullable || f.nullable)
          case Some(g) if widensTo(f.dataType, g.dataType) =>
            out(f.name) = g.copy(nullable = g.nullable || f.nullable)
          case Some(g) => throw new IllegalStateException(
            s"cannot merge pinned footer types for column '${f.name}': " +
              s"${g.dataType.simpleString} vs ${f.dataType.simpleString} is not " +
              "a safe widening")
        }
      }
      StructType(out.values.toSeq)
    }

  private def renderMeta(schema: StructType, props: Map[String, String]): Array[Byte] = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    p.setProperty(schemaKey, schema.json)
    val out = new java.io.StringWriter()
    p.store(out, null)
    out.toString.getBytes(UTF_8)
  }

  def writeMeta(root: String, schema: StructType, props: Map[String, String]): Unit = {
    // temp + ATOMIC_MOVE: ALTER TABLE rewrites this file while readers
    // may be loading the table — they must see old or new meta, never
    // a torn write
    val tmp = Paths.get(root,
      s".tmp_meta_${ProcessHandle.current().pid()}_${System.nanoTime()}")
    Files.write(tmp, renderMeta(schema, props))
    Files.move(tmp, Paths.get(root, metaFile),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def readMeta(root: String): Option[(StructType, Map[String, String])] = {
    val f = Paths.get(root, metaFile)
    if (!Files.exists(f)) None
    else {
      val p = new java.util.Properties()
      val in = Files.newBufferedReader(f, UTF_8)
      try p.load(in) finally in.close()
      val schema = Option(p.getProperty(schemaKey)).flatMap(j =>
          scala.util.Try(DataType.fromJson(j)).toOption)
        .collect { case st: StructType => st }
        .getOrElse(throw new IllegalStateException(
          s"$f: the '$schemaKey' key is missing or does not parse as a schema"))
      val props = p.stringPropertyNames().asScala
        .filterNot(_ == schemaKey).map(k => k -> p.getProperty(k)).toMap
      // an INT-keyed bucket layout (live or retired) without the
      // CREATE-time hash stamp has int-hash directories, which the
      // long-hash readers would prune wrongly — refused, never guessed
      val intBucket = SnapBucket.of(props).orElse(SnapBucket.ofRetired(props))
        .exists(b => schema.find(_.name == b._1).exists(_.dataType == IntegerType))
      if (intBucket && !props.get(SnapBucket.hashVerProp).contains(SnapBucket.hashVer))
        throw new IllegalStateException(s"$f: retired form: an INT-keyed bucket " +
          s"layout without the '${SnapBucket.hashVerProp}' stamp (int-hash " +
          "directories); recreate the table")
      Some((schema, props))
    }
  }

  /** [[readMeta]] of a root that must be declared — every committed
    * root is, from its first commit on ([[admit]]). */
  def declaredMeta(root: String): (StructType, Map[String, String]) =
    readMeta(root).getOrElse(throw new IllegalStateException(
      s"${Paths.get(root, metaFile)} is missing: $root has no declared " +
        "schema (a root is declared by CREATE TABLE or by its first commit)"))

  /** THE schema rule of every commit, run by the commit funnel
    * ([[Snapshots]]' `publishManifest`) over the data files the commit
    * adds, against the root's `meta` as the attempt read it
    * ([[readMeta]]), before its manifest links — footers read on the
    * driver, no Spark job. An undeclared root is DECLARED from them (Delta's
    * version-0 `metaData`): the footer schema, every field nullable,
    * then each identity `col=value` segment as a path column typed by
    * Spark's partition inference ([[GraftScans.pathTypes]]) — published
    * create-if-absent, so of two racing first commits one declares and
    * the other is checked against it. A declared root WIDENS, under
    * [[withMetaLock]] as ALTER TABLE ADD COLUMN does, by each new data
    * or path column (a new path column is partition evolution). Names go
    * through the ledger: a physical spelling or prior name is its
    * current column, and a tombstoned name never widens. Refused, naming
    * the column and the file: a type the declared one cannot read
    * ([[widensTo]]), a declared path column stored as data or staged
    * with a value its type cannot hold, a declared data column staged as
    * a path segment, and a file without a Spark footer schema. A branch
    * commit that would add a column is refused: the declaration is
    * table-wide, and an unpublished branch must not reshape main's reads.
    * Published BEFORE the manifest links, a declaration can outlive an
    * attempt that crashes or whose retry its `gate` or `build` refuses,
    * as a CREATE TABLE or ADD COLUMNS with no data would. */
  private[graft] def admit(root: String,
      meta: Option[(StructType, Map[String, String])], files: Seq[String],
      branch: Option[String] = None): Unit =
    if (files.nonEmpty) meta match {
      case None =>
        val (sc, props) = evolved(new StructType(), Map.empty, files)
        if (!Snapshots.createOnce(Paths.get(root), Paths.get(root, metaFile),
            renderMeta(sc, props)))
          admit(root, readMeta(root), files, branch) // a racing first commit declared first
      case Some((sc, props)) =>
        val wider = evolved(sc, props, files)._1
        if (wider != sc) branch match {
          case Some(b) => throw new IllegalArgumentException(
            s"commit refused: a commit to branch '$b' of $root adds column(s) " +
              s"${wider.fieldNames.diff(sc.fieldNames).mkString(", ")}; a branch " +
              "cannot change the table's declared schema — add them on main first " +
              "(ALTER TABLE ADD COLUMNS)")
          case None => withMetaLock(root) {
            val (cur, curProps) = declaredMeta(root)
            val (wider, widerProps) = evolved(cur, curProps, files)
            if (wider != cur) writeMeta(root, wider, widerProps)
          }
        }
    }

  /** `files` checked against a declaration (schema, props), which is
    * returned widened by the columns they add. */
  private def evolved(sc: StructType, props: Map[String, String],
      files: Seq[String]): (StructType, Map[String, String]) = {
    def refuse(why: String) = throw new IllegalArgumentException(
      s"commit refused: $why")
    val parts = partColsOf(props)
    val current = physOf(props).map(_.swap) ++
      priorsOf(props).flatMap { case (c, ps) => ps.map(_ -> c) }
    val dead = droppedOf(props)
    val fields = scala.collection.mutable.LinkedHashMap.from(sc.fields.map(f => f.name -> f))
    for (f <- files; g <- Snapshots.footerSparkSchema(f).getOrElse(refuse(
        s"$f is not readable parquet with a Spark schema in its footer")).fields) {
      val name = current.getOrElse(g.name, g.name)
      if (current.contains(g.name) || !dead(name)) fields.get(name) match {
        case _ if parts.contains(name) =>
          refuse(s"column $name is declared as a path segment but $f stores it as data")
        case Some(d) if !org.apache.spark.sql.catalyst.types.DataTypeUtils
            .sameType(g.dataType, d.dataType) && !widensTo(g.dataType, d.dataType) =>
          refuse(s"column $name is declared ${d.dataType.simpleString} but $f " +
            s"stores ${g.dataType.simpleString}")
        case Some(_) => ()
        case None => fields(name) = g.copy(name = name, nullable = true)
      }
    }
    val segs = files.map(f => f -> (GraftScans.segmentsOf(Paths.get(f).getParent.toString)
      -- Seq(Snapshots.bucketPathCol, Snapshots.transformPathCol)))
    // the strict form of [[GraftScans.partitionValuesOf]]'s cast
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
    for ((f, s) <- segs; (c, raw) <- s if parts.contains(c) && raw !=
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME;
        d <- fields.get(c) if Cast(Literal(org.apache.spark.unsafe.types.UTF8String
          .fromString(raw), org.apache.spark.sql.types.StringType), d.dataType,
          Some("UTC"), EvalMode.TRY).eval() == null)
      refuse(s"column $c is declared ${d.dataType.simpleString} but $f stages " +
        s"the path segment $c=$raw")
    val added = segs.flatMap { case (f, s) =>
      s.keys.filterNot(c => parts.contains(c) || dead(c)).map { c =>
        if (fields.contains(c))
          refuse(s"column $c is declared as data but $f stages it as a $c=<value> path segment")
        c
      }
    }.distinct
    if (added.isEmpty) (StructType(fields.values.toSeq), props)
    else {
      val types = GraftScans.pathTypes(files)
      (StructType(fields.values.toSeq ++ added.map(c => StructField(c, types(c), nullable = true))),
        props + (partColsProp -> (parts ++ added).mkString(",")))
    }
  }
}

/** INSERT INTO / INSERT OVERWRITE / CTAS write path: a V1 fallback
  * write whose `insert` receives the query's DataFrame on the driver
  * and runs ONE fully distributed parquet write into a fresh versioned
  * staging dir, then publishes atomically. Append → the manifest
  * carries the parent's files plus the staged ones (no data moves);
  * truncate/overwrite → a full-rewrite commit (pending MOR deletes
  * absorbed, exactly the store's rewrite contract).
  *
  * The SAME builder serves `writeStream.toTable(...)`: `toStreaming`
  * returns an exactly-once epoch-append sink — executors stage each
  * micro-batch's parquet ([[GraftStreamingWrite]]) and the epoch
  * commit is one idempotent `#txn`-tagged manifest publish
  * ([[Snapshots.commitAppendStagedTxn]]), so a crash-replayed batch
  * no-ops instead of double-appending. */
private[catalog] class GraftV1WriteBuilder(root: String, info: LogicalWriteInfo,
    partCols: Seq[String] = Nil, bucket: Option[(String, Int)] = None,
    transform: Option[(SnapTransform.Spec, DataType)] = None,
    phys: Map[String, String] = Map.empty,
    branch: Option[String] = None)
  extends WriteBuilder with SupportsTruncate {

  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      (data, overwriteArg) => {
        // a PARTITIONED table stages through partitionBy so every file
        // carries its col=value path segments inside the version dir —
        // what the partition-aware scan index parses back. A BUCKET
        // table derives the synthetic segment with the SAME function
        // the catalog's v2 bucket function computes (hash = murmur3
        // seed 42 — SnapBucket.bucketIdOf), then partitionBy routes it
        def stage(out: String): Unit = {
          // RE-ADDED columns write under their physical spelling — the
          // single logical→physical point of the V1 path (layout
          // columns can never be remapped: their drop is refused)
          val data2 = GraftTable.toPhysical(data, phys)
          val w = (bucket, transform) match {
            case (Some((c, n)), _) => SnapBucket.stageBucketed(data2, c, n)
            // a TRANSFORM table derives the synthetic ordinal segment
            // with the same exact-long-arithmetic expression the
            // row-level writer computes per row (SnapTransform) —
            // identity columns (if any) nest first, the ordinal last
            case (None, Some((t, dt))) =>
              SnapTransform.stageTransformed(data2, t, dt, partCols)
            case (None, None) if partCols.isEmpty => data2.write
            case (None, None) => data2.write.partitionBy(partCols: _*)
          }
          w.mode("append").parquet(out)
        }
        branch match {
          case Some(b) =>
            // branch writes are APPEND-ONLY speculative continuations
            // (the WAP staging shape) — overwrite would need a branch
            // rewrite commit nothing audits
            require(!overwrite && !overwriteArg,
              s"writes to branch '$b' of $root are append-only")
            Snapshots.commitToBranch(root, b)(stage)
          case None =>
            val wantDiff = (overwrite || overwriteArg) &&
              GraftTable.declaredMeta(root)._2.get(GraftTable.rewriteDiffProp)
                .contains("true")
            if (wantDiff) {
              // a `graft.changes.rewriteDiff` table's INSERT OVERWRITE
              // is a row-changing rewrite like any COW statement: stage
              // first, materialize the row diff, publish both in ONE
              // atomic manifest so the change feed can replay it. Same
              // semantics as the plain overwrite: an empty result
              // refuses (commit's staged-nonEmpty rule), and a lost
              // race RETRIES with the diff recomputed against the new
              // head — the staged files stay valid (an overwrite
              // replaces the table whatever the parent was); only the
              // diff is parent-relative.
              val stageDir = Snapshots.newStagingDir(root)
              java.nio.file.Files.createDirectories(
                java.nio.file.Paths.get(stageDir))
              stage(stageDir)
              val files = Snapshots.listParquet(stageDir)
              require(files.nonEmpty,
                s"overwrite staged no data files under $root")
              var attempt = 0
              var done = false
              while (!done) {
                val basedOn = Snapshots.maxCommitted(root)
                val changeFiles = RewriteDiff.stage(root, data.schema,
                  basedOn, files, stageDir)
                try {
                  Snapshots.commitRewriteStaged(root, files,
                    basedOn = Some(basedOn), changeFiles = changeFiles,
                    rowsUnchanged = changeFiles.isEmpty)
                  done = true
                } catch {
                  case e: java.util.ConcurrentModificationException =>
                    attempt += 1
                    if (attempt > 5) throw e
                }
              }
            }
            else if (overwrite || overwriteArg) Snapshots.commit(root)(stage)
            else Snapshots.commitAppend(root)(stage)
        }
      }
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(!overwrite,
        "streaming writes into snapshot-catalog tables are append-only")
      require(branch.isEmpty,
        s"streaming writes target the main log of $root, not a branch")
      new GraftStreamingWrite(root, info.schema(), info.queryId(), partCols,
        bucket, transform, phys)
    }
    override def description(): String =
      s"graft-snapshot ${if (overwrite) "overwrite" else "append"} $root" +
        branch.fold("")(b => s" (branch $b)")
  }
}

/** Iceberg's `t.branch_<name>` SUFFIX TABLE — the SQL write surface of
  * branch-based WAP: `INSERT INTO snap.ns.t.branch_audit SELECT …`
  * appends to the branch (one commit on its speculative log, layout
  * staging identical to a main write), and `SELECT … FROM
  * snap.ns.t.branch_audit` reads the branch HEAD (same resolution as
  * `VERSION AS OF 'audit'`). ROW-LEVEL statements (UPDATE / DELETE /
  * MERGE INTO, r20) target the branch too — the audit-repair loop: a
  * WAP audit that finds bad rows FIXES them on the branch in place,
  * re-audits, and only then publishes; main is untouched until
  * fast-forward. The statement scans the branch head and its commit
  * lands on the branch's speculative log in the table's own row-level
  * mode (COW rewrite / keyed MOR / positional MOR). INSERT OVERWRITE
  * stays refused; publish via `CALL snap.system.fast_forward`. */
private[catalog] class GraftBranchTable(fullName: String, root: String,
    branch: String)
  extends org.apache.spark.sql.connector.catalog.Table
  with org.apache.spark.sql.connector.catalog.SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  // reads delegate to a branch-head-pinned table — identical machinery
  // to `VERSION AS OF '<branch>'`, re-resolved per scan so a branch
  // commit between two queries is visible to the second
  private def pinnedDelegate = new GraftTable(fullName, root,
    pinned = Some(Snapshots.resolveBranch(root, branch)))

  override def name(): String = fullName

  override def schema(): StructType = pinnedDelegate.schema()

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    pinnedDelegate.newScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val t = pinnedDelegate // head meta carries the layout specs
    new GraftV1WriteBuilder(root, info, t.partCols, t.bucketSpec,
      (t.transformSpec, t.transformSpec.flatMap(ts =>
        GraftTable.declaredMeta(root)._1.fields.find(_.name == ts.col)
          .map(_.dataType))) match {
        case (Some(ts), Some(dt)) => Some((ts, dt))
        case _ => None
      },
      t.physMap, branch = Some(branch))
  }

  // positional-MOR row ids surface on the branch table exactly as on
  // the main table — the row-level rewrite resolves them from here
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    pinnedDelegate.metadataColumns()

  /** Row-level statements against the branch: same mode dispatch as
    * the main table (the mode is a TABLE property), scan pinned to the
    * branch head, commit into the branch's speculative log. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    val t = pinnedDelegate
    () => t.morKey match {
      case Some(key) =>
        new GraftDeltaOperation(info.command, t, key, branch = Some(branch))
      case None if t.positionalMor =>
        new GraftPositionalOperation(info.command, t, branch = Some(branch))
      case None =>
        new GraftGroupOperation(info.command, t, branch = Some(branch))
    }
  }
}

/** Exactly-once Structured Streaming sink for a snapshot-catalog
  * table: per-epoch, executors write their partitions' rows as parquet
  * into a writer-unique staging dir (the same
  * [[ParquetRowDataWriter]] path the row-level writes use), and the
  * driver publishes the epoch with ONE idempotent txn-tagged append
  * commit keyed on (streaming queryId, epochId). A replayed epoch
  * finds its tag and no-ops; its re-staged files are orphans vacuum
  * reclaims. Cost per micro-batch: the batch's files + one manifest —
  * O(delta), never O(table) — and incremental consumers tail the
  * store via `Snapshots.readChanges`. */
private[catalog] class GraftStreamingWrite(root: String,
    schema: org.apache.spark.sql.types.StructType, queryId: String,
    partCols: Seq[String] = Nil, bucket: Option[(String, Int)] = None,
    transform: Option[(SnapTransform.Spec, DataType)] = None,
    phys: Map[String, String] = Map.empty)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val stagingDir = Snapshots.newStagingDir(root)
  Files.createDirectories(Paths.get(stagingDir))

  override def createStreamingWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo): StreamingDataWriterFactory = {
    val localPart = partCols
    val localSchema = schema
    val localBucket = bucket.map { case (c, n) =>
      (localSchema.fieldIndex(c), localSchema(c).dataType, n)
    }
    val localTransform = transform.map { case (t, dt) =>
      (localSchema.fieldIndex(t.col), dt, t)
    }
    val dataSchema =
      if (localPart.isEmpty) localSchema
      else org.apache.spark.sql.types.StructType(
        localSchema.fields.filterNot(f => localPart.contains(f.name)))
    // remapped columns write under their physical spelling (schema
    // rename only — rows are positional)
    val conf = ExecParquet.writerConf(GraftTable.toPhysicalSchema(dataSchema, phys))
    val dir = stagingDir
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
          epochId: Long): org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
        new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
          // PARTITIONED tables: epoch rows split into col=value subdirs
          // ([[DynPartTaskWriter]] — the same LRU-bounded dynamic
          // partitioning the COW rewrite writer uses); BUCKET tables
          // route on the derived `_gbucket=<id>` fragment
          private val name =
            f"epoch-$epochId-part-$partitionId%05d-$taskId.parquet"
          private val single: ParquetRowDataWriter =
            if (localPart.isEmpty && localBucket.isEmpty && localTransform.isEmpty)
              new ParquetRowDataWriter(s"$dir/$name", conf.value, partitionId, taskId)
            else null
          private val dyn: DynPartTaskWriter =
            if (single != null) null
            else new DynPartTaskWriter(dir, localSchema, localPart, conf.value,
              name, partitionId, taskId, bucket = localBucket,
              transform = localTransform)
          override def write(row: InternalRow): Unit =
            if (single != null) single.write(row) else dyn.write(row)
          override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage =
            StagedFilesMessage(
              if (single != null) single.finish().toSeq else dyn.finish(), Nil)
          override def abort(): Unit =
            if (single != null) single.abort() else dyn.abort()
          override def close(): Unit = ()
        }
    }
  }

  override def commit(epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val files = messages.collect { case StagedFilesMessage(d, _) => d }.flatten.toSeq
    Snapshots.commitAppendStagedTxn(root, s"dsv2-$queryId", epochId, files)
  }

  override def abort(epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
    messages.collect { case StagedFilesMessage(d, _) => d }.flatten
      .foreach(f => Files.deleteIfExists(Paths.get(f)))
}

/** Scan construction for [[GraftTable]] — three shapes:
  *
  *  1. no committed data → a zero-partition empty scan;
  *  2. no pending deletes (the common case) → the raw
  *     [[ParquetScanBuilder]], i.e. Spark's own vectorized parquet
  *     scan with full pushdown over the manifest's file list;
  *  3. pending merge-on-read deletes → [[MorScanBuilder]]: one parquet
  *     scan over every live file, each tagged with its sequence number,
  *     and each key group's covers (key → newest delete version) apply
  *     ROW-LEVEL in wrapped readers ([[DeleteFile.coversBelow]], the
  *     sequence-number rule of Iceberg v2). Column pruning forwards
  *     (plus the forced key columns); rename-invariant predicates
  *     forward to the parquet builder for scan-level skipping, while
  *     Spark re-applies all predicates above the scan, so correctness
  *     never depends on the forwarded subset.
  *
  * The delete-key covers are in-memory hash maps — the per-JVM-memory
  * shape Iceberg uses for equality deletes — all loaded by
  * [[DeleteKeyCache]], so planning schedules no Spark job. Small sets
  * (on-disk bytes ≤ `spark.graft.mor.inlineDeleteBytes`) load on the
  * driver and ship inline with the plan; larger sets stay as file
  * paths and each EXECUTOR loads them lazily, O(keys) per JVM. The
  * DataFrame-level [[Snapshots]] read API plans through this same scan.
  */
private[catalog] object GraftScans {

  def builder(spark: SparkSession, tableSchema: StructType,
      snap: Option[Snapshot], options: CaseInsensitiveStringMap,
      priors: Map[String, Seq[String]] = Map.empty,
      partSchema: StructType = new StructType(),
      dropChains: Map[String, Seq[String]] = Map.empty,
      dropTypes: Map[String, DataType] = Map.empty,
      bucketSpec: Option[(String, Int)] = None,
      transformSpec: Option[(SnapTransform.Spec, DataType)] = None,
      emitRowId: Boolean = false,
      remapped: Map[String, String] = Map.empty): ScanBuilder = {
    val files = snap.map(_.files).getOrElse(Nil)
    if (files.isEmpty) new EmptyScanBuilder(tableSchema)
    else {
      val deletes = snap.map(_.deletes).getOrElse(Nil)
      val posDels = snap.map(_.posDeletes).getOrElse(Map.empty[String, Seq[String]])
      val statsRaw = snap.map(_.statsRaw).getOrElse(Map.empty[String, String])
      val blooms = snap.map(_.blooms).getOrElse(Map.empty[String, Seq[String]])
      if (deletes.isEmpty && posDels.isEmpty && !emitRowId) {
        if (priors.isEmpty && remapped.isEmpty)
          parquetBuilder(spark, files, tableSchema, options,
            statsRaw, blooms, partSchema, bucketSpec, transformSpec)
        else new RenameAwareScanBuilder(spark, tableSchema, priors,
          files, options, statsRaw, blooms, partSchema, bucketSpec,
          transformSpec, remapped)
      } else {
        // evolution composes with pending deletes through the ledger
        // indirection: renamed columns (key or not) coalesce prior
        // spellings, and a DROPPED delete-key column is still read as
        // a hidden filter-only shadow field (dropchain + droptype).
        // Pending POSITION deletes and row-id emission (the positional
        // row-level operation's scan) route here too. Identity partition
        // columns re-attach from paths; derived bucket/transform segments
        // stay unparsed (their source column is a data column)
        new MorScanBuilder(spark, tableSchema, snap.get, options, priors,
          dropChains, dropTypes, emitRowId = emitRowId, remapped = remapped,
          partSchema = StructType(partSchema.fields.filter(f =>
            tableSchema.fieldNames.contains(f.name))))
      }
    }
  }

  /** Status "cache" answering [[InMemoryFileIndex]]'s listing from ONE
    * driver stat call per manifest path. The manifest pins exact data
    * FILES (never directories), so Spark's listing machinery — which
    * above `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * (32) launches a whole Spark JOB to list them — degenerates to a
    * per-file getFileStatus anyway; answering from the cache keeps
    * that work on the driver (µs per local file) and removes one
    * scheduled listing job per table read. A directory or missing path
    * answers None and falls through to Spark's own listing, so only
    * the exact-file fast path is ever short-circuited. Stateless:
    * nothing is stored, so no invalidation surface. */
  private[catalog] object ManifestStatusCache extends FileStatusCache {
    override def getLeafFiles(path: org.apache.hadoop.fs.Path)
        : Option[Array[org.apache.hadoop.fs.FileStatus]] =
      try {
        val st = path.getFileSystem(Snapshots.hadoopConf).getFileStatus(path)
        if (st.isFile) Some(Array(st)) else None
      } catch { case _: java.io.IOException => None }
    override def putLeafFiles(path: org.apache.hadoop.fs.Path,
        files: Array[org.apache.hadoop.fs.FileStatus]): Unit = ()
    override def invalidateAll(): Unit = ()
  }

  private[catalog] def parquetBuilder(spark: SparkSession, files: Seq[String],
      schema: StructType, options: CaseInsensitiveStringMap,
      statsRaw: Map[String, String] = Map.empty,
      blooms: Map[String, Seq[String]] = Map.empty,
      partSchema: StructType = new StructType(),
      bucketSpec: Option[(String, Int)] = None,
      transformSpec: Option[(SnapTransform.Spec, DataType)] = None): ParquetScanBuilder = {
    // every identity `col=value` segment a committed file carries is a
    // declared partition column ([[GraftTable.admit]] refuses or
    // declares it at commit), so `partSchema` is the whole path layout
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val spec =
      if (partSchema.isEmpty) PartitionSpec.emptySpec
      else partitionSpecFor(files, partSchema)
    val index =
      if (statsRaw.isEmpty && blooms.isEmpty && partSchema.isEmpty &&
          bucketSpec.isEmpty && transformSpec.isEmpty)
        new InMemoryFileIndex(classic,
          files.map(f => new org.apache.hadoop.fs.Path(f)),
          Map.empty[String, String], Some(schema), ManifestStatusCache,
          Some(spec), None)
      else new StatsPruningIndex(classic,
        files.map(f => new org.apache.hadoop.fs.Path(f)),
        schema, statsRaw, blooms, spec,
        bucketSpec.flatMap { case (c, n) =>
          schema.fields.find(_.name == c).map(f => (c, f.dataType, n))
        },
        transformSpec.map { case (t, dt) =>
          (t, dt, spec.partitionColumns.fieldNames.indexOf(
            graft.sources.Snapshots.transformPathCol))
        }.filter(_._3 >= 0))
    // partition columns live in the path, not the footers: the file
    // scan's data schema excludes them and the values re-attach from
    // the partition directories (Spark's own mechanism, which also
    // carries static AND runtime (DPP) partition pruning)
    val dataSchema =
      if (partSchema.isEmpty) schema
      else StructType(schema.fields.filterNot(f =>
        partSchema.fieldNames.contains(f.name)))
    ParquetScanBuilder(classic, index, schema, dataSchema, options)
  }

  /** Partition spec rebuilt from the MANIFEST's paths: each pinned
    * file's `col=value` segments below its version dir parse to one
    * [[PartitionPath]] per distinct parent directory, values cast to
    * the declared partition types. Metadata-only — the manifest IS the
    * listing, exactly like the flat index. */
  private def partitionSpecFor(files: Seq[String],
      partSchema: StructType): PartitionSpec = {
    // qualify like the index qualifies its leaf dirs, or the
    // PartitionPath→children lookup misses on the scheme
    def qualified(dir: String): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(Snapshots.hadoopConf).makeQualified(p)
    }
    val partitions = files
      .groupBy(f => Paths.get(f).getParent.toString).toSeq.sortBy(_._1)
      .map { case (dir, _) =>
        org.apache.spark.sql.execution.datasources.PartitionPath(
          InternalRow.fromSeq(
            partitionValuesOf(dir, partSchema).toIndexedSeq),
          qualified(dir))
      }
    PartitionSpec(partSchema, partitions)
  }

  /** One partition directory's `col=value` segments below its version
    * dir, unescaped. */
  private[catalog] def segmentsOf(dir: String): Map[String, String] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
    dir.drop(baseDirOfPath(dir).length).split('/').filter(_.contains('=')).map { s =>
      val i = s.indexOf('=')
      unescapePathName(s.substring(0, i)) -> unescapePathName(s.substring(i + 1))
    }.toMap
  }

  /** Parse one partition directory's `col=value` segments into typed
    * catalyst values (declared order). A dir without a column's segment
    * reads NULL for it: its files predate the column's adoption as a
    * path column (partition evolution — the commit check refuses a file
    * that stores a declared path column as data), as a pre-evolution
    * file has no synthetic transform ordinal and a post-retirement file
    * no bucket id; pruning keeps such dirs conservatively. */
  private[catalog] def partitionValuesOf(dir: String,
      partSchema: StructType): Array[Any] = {
    val segs = segmentsOf(dir)
    partSchema.fields.map { f =>
      segs.get(f.name) match {
        case None => null
        case Some(raw) if raw ==
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME =>
          null
        case Some(raw) =>
          org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.catalyst.expressions.Literal(
              org.apache.spark.unsafe.types.UTF8String.fromString(raw),
              org.apache.spark.sql.types.StringType),
            f.dataType, Some("UTC")).eval()
      }
    }
  }

  /** DISTINCT partition value tuples of a file set — `SHOW PARTITIONS`.
    * Distinctness by the escaped fragment string (stable across eras);
    * metadata-only, like every other manifest-derived listing. */
  private[catalog] def partitionValuesFor(files: Seq[String],
      partSchema: StructType): Seq[InternalRow] =
    files.groupBy(f => Paths.get(f).getParent.toString).keys.toSeq
      .map(dir => dir.drop(baseDirOfPath(dir).length) -> dir).toMap
      .values.toSeq.sorted
      .map(dir => InternalRow.fromSeq(
        partitionValuesOf(dir, partSchema).toIndexedSeq))

  /** Types of the identity `col=value` segments of files a commit
    * adds ([[GraftTable.admit]]): each era (version) dir is inferred by
    * Spark's own partition discovery with that dir as `basePath` — the
    * typing a per-era `spark.read.option("basePath", era)` read applies —
    * and the eras merge by name, a conflicting type widened as a union
    * of those reads would widen it. The listing answers from
    * [[ManifestStatusCache]]: driver-only, no job. */
  private[catalog] def pathTypes(files: Seq[String]): Map[String, DataType] = {
    val classic = SparkSession.active.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    files.filter(f => f.drop(eraDirOf(f).length).contains("="))
      .groupBy(eraDirOf).toSeq.sortBy(_._1).flatMap { case (era, fs) =>
        new InMemoryFileIndex(classic, fs.map(new org.apache.hadoop.fs.Path(_)),
          Map("basePath" -> era), None, ManifestStatusCache).partitionSchema.fields
      }.foldLeft(Map.empty[String, DataType]) { (acc, f) =>
        acc.updated(f.name, acc.get(f.name).fold(f.dataType)(t =>
          org.apache.spark.sql.catalyst.analysis.TypeCoercion
            .findWiderTypeForTwo(t, f.dataType)
            .getOrElse(org.apache.spark.sql.types.StringType)))
      }
  }

  /** The era (version) dir a committed file was staged under. */
  private def eraDirOf(f: String): String =
    baseDirOfPath(Paths.get(f).getParent.toString)

  /** The version (staging) dir of a path; a path outside any version
    * dir is its own base. */
  private def baseDirOfPath(dir: String): String = (dir + "/x") match {
    case baseDirRe(b) => b
    case _ => dir
  }

  /** File-level DATA-SKIPPING for the catalog scan: the manifest's
    * per-file column bounds ([[Snapshots]] `#stats:` lines) prune files
    * whose recorded `[min, max]` cannot satisfy the PUSHED data
    * predicates — the same keep-rule as `Snapshots.readStatsPruned`,
    * wired into [[InMemoryFileIndex.listFiles]] so it composes with
    * every scan shape built on [[parquetBuilder]] (plain, rename-aware,
    * MOR) and with all of [[ParquetScanBuilder]]'s pushdown
    * interfaces untouched. The decision is metadata-only (manifest
    * header lines already in memory; zero file I/O) and one level above
    * parquet's row-group zone maps: at 100 TB a selective non-partition
    * predicate skips whole files before any footer is read. Files with
    * no recorded stats for a referenced column are always KEPT, and
    * Spark re-applies every predicate above the scan — pruning is an
    * I/O optimization, never the correctness carrier. */
  private[catalog] class StatsPruningIndex(
      classic: org.apache.spark.sql.classic.SparkSession,
      paths: Seq[org.apache.hadoop.fs.Path], schema: StructType,
      statsRaw: Map[String, String],
      blooms: Map[String, Seq[String]] = Map.empty,
      spec: PartitionSpec = PartitionSpec.emptySpec,
      // (key col, key type, n) of a bucket layout — point predicates
      // on the key prune whole bucket DIRECTORIES (Iceberg's bucket
      // pruning): bucket(v) is computable at planning time, so k = v
      // keeps 1/n of the table's files, metadata-only
      bucketSpec: Option[(String, DataType, Int)] = None,
      // (spec, source type, ordinal slot in the partition row) of a
      // time/truncate transform layout — range AND point predicates on
      // the SOURCE column prune whole ordinal directories because the
      // transforms are monotone ([[SnapTransform.admissibleOrdinals]])
      transformSpec: Option[(SnapTransform.Spec, DataType, Int)] = None)
    extends InMemoryFileIndex(classic, paths, Map.empty[String, String],
      Some(schema), GraftScans.ManifestStatusCache, Some(spec), None) {

    // manifest keys are plain local paths; listed statuses carry a
    // scheme — normalize both sides to the URI path. Bodies decode
    // ONCE per index (not per predicate per bound): at 1M files × a
    // few predicates that is the difference between one JSON pass and
    // millions per planning cycle
    private lazy val statsByPath: Map[String, Snapshots.FileStats] =
      statsRaw.flatMap { case (k, v) =>
        Snapshots.parseStats(v).map(
          new org.apache.hadoop.fs.Path(k).toUri.getPath -> _)
      }
    private lazy val bloomByPath: Map[String, Set[String]] = blooms.map {
      case (k, cols) =>
        new org.apache.hadoop.fs.Path(k).toUri.getPath -> cols.toSet
    }

    /** Buckets a conjunct provably confines the key to, or None when
      * it does not constrain the key at all. Only shapes whose value
      * set is FINITE translate (=, <=>, IN, IS NULL); everything else
      * keeps every bucket — pruning stays an I/O optimization, Spark
      * re-applies the predicate above the scan. */
    private def admissibleBuckets(
        e: org.apache.spark.sql.catalyst.expressions.Expression,
        col: String, dt: DataType, n: Int): Option[Set[Int]] = {
      import org.apache.spark.sql.catalyst.expressions._
      def ref(x: Expression): Boolean = x match {
        case a: Attribute => a.name == col
        case _ => false
      }
      // the literal must carry the column's own type: analysis inserts
      // casts so this always holds for well-formed pushed predicates,
      // but murmur3 of an int and a long DIFFER — a type-mismatched
      // literal must keep every bucket rather than hash wrongly
      def typed(l: Literal): Boolean = l.dataType == dt
      e match {
        case EqualTo(a, l @ Literal(v, _)) if ref(a) && typed(l) && v != null =>
          Some(Set(SnapBucket.bucketIdOf(v, dt, n)))
        case EqualTo(l @ Literal(v, _), a) if ref(a) && typed(l) && v != null =>
          Some(Set(SnapBucket.bucketIdOf(v, dt, n)))
        case EqualNullSafe(a, l @ Literal(v, _)) if ref(a) && typed(l) =>
          Some(Set(SnapBucket.bucketIdOf(v, dt, n)))
        case EqualNullSafe(l @ Literal(v, _), a) if ref(a) && typed(l) =>
          Some(Set(SnapBucket.bucketIdOf(v, dt, n)))
        case In(a, vs) if ref(a) &&
          vs.forall { case l: Literal => typed(l); case _ => false } =>
          Some(vs.map { case Literal(v, _) =>
            SnapBucket.bucketIdOf(v, dt, n) }.toSet)
        case InSet(a, vs) if ref(a) && a.dataType == dt =>
          Some(vs.map(SnapBucket.bucketIdOf(_, dt, n)))
        case IsNull(a) if ref(a) =>
          Some(Set(SnapBucket.bucketIdOf(null, dt, n)))
        case _ => None
      }
    }

    override def listFiles(
        partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
        dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
        : Seq[org.apache.spark.sql.execution.datasources.PartitionDirectory] = {
      val base = super.listFiles(partitionFilters, dataFilters)
      if (dataFilters.isEmpty ||
        (statsByPath.isEmpty && bloomByPath.isEmpty && bucketSpec.isEmpty &&
          transformSpec.isEmpty)) base
      else {
        // bucket-directory pruning first: intersect every conjunct's
        // admissible set; the partition row of a bucket layout is the
        // single synthetic _gbucket int
        val keepBuckets: Option[Set[Int]] = bucketSpec.flatMap {
          case (col, dt, n) =>
            dataFilters.flatMap(admissibleBuckets(_, col, dt, n))
              .reduceOption(_ intersect _)
        }
        // transform-ordinal pruning: AND of every conjunct's
        // admissibility on the directory's ordinal; a NULL ordinal
        // (pre-evolution file or null source value) is always kept
        val ordChecks: Seq[Any => Boolean] = transformSpec.toSeq.flatMap {
          case (t, dt, _) =>
            dataFilters.flatMap(SnapTransform.admissibleOrdinals(_, t, dt))
        }
        def ordAdmits(pd: org.apache.spark.sql.execution.datasources.PartitionDirectory): Boolean =
          ordChecks.isEmpty || transformSpec.forall { case (t, dt, slot) =>
            if (slot >= pd.values.numFields || pd.values.isNullAt(slot)) true
            else {
              val ord = pd.values.get(slot,
                if (dt == org.apache.spark.sql.types.StringType)
                  org.apache.spark.sql.types.StringType
                else org.apache.spark.sql.types.LongType)
              ordChecks.forall(_(ord))
            }
          }
        // an unexpected partition-row shape keeps the directory —
        // pruning never carries correctness. A NULL bucket id (a flat
        // file written after the layout RETIRED) is always kept.
        base.filter(pd => keepBuckets.forall(ks =>
          pd.values.numFields != 1 || pd.values.isNullAt(0) ||
            ks.contains(pd.values.getInt(0))))
          .filter(ordAdmits)
          .map { pd =>
            pd.copy(files = pd.files.filter { f =>
              val path = f.getPath.toUri.getPath
              val bloomOf: String => Option[org.apache.spark.util.sketch.BloomFilter] =
                col =>
                  if (bloomByPath.get(path).exists(_.contains(col)))
                    BloomCache.load(Snapshots.bloomSidecar(path, col))
                  else None
              dataFilters.forall(admits(statsByPath.get(path), bloomOf, _))
            })
          }
      }
    }
  }

  /** Driver-side soft cache of deserialized bloom sidecars — one small
    * read per (file, col) per JVM, shared across queries. */
  private[catalog] object BloomCache {
    private val cache = new java.util.concurrent.ConcurrentHashMap[
      String, java.lang.ref.SoftReference[org.apache.spark.util.sketch.BloomFilter]]()
    def load(path: String): Option[org.apache.spark.util.sketch.BloomFilter] = {
      val hit = Option(cache.get(path)).flatMap(r => Option(r.get()))
      hit.orElse {
        try {
          val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
          val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(bytes)
          cache.put(path, new java.lang.ref.SoftReference(bf))
          Some(bf)
        } catch { case _: Exception => None } // missing/corrupt sidecar → no prune
      }
    }
  }

  /** Can a file with recorded stats `body` and per-column bloom
    * sidecars (`bloomOf`) contain a row satisfying `e`? Conservative
    * three-valued logic collapsed to keep-on-unknown: only shapes the
    * recorded bounds or sketches can refute return `false`. Strict
    * comparisons use the inclusive range rule (admits a superset —
    * safe). Equality shapes compose BOTH refuters: the min/max
    * interval AND — when the file carries a sketch for the column —
    * Bloom membership of the literal's XxHash64 (the hash the writer
    * sketched; integral widths hash identically, so the check survives
    * int→bigint widening). */
  private[catalog] def admits(body: Option[Snapshots.FileStats],
      bloomOf: String => Option[org.apache.spark.util.sketch.BloomFilter],
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    def value(v: Any): Option[Any] = v match {
      case null => None
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
      case i: java.lang.Integer => Some(i)
      case l: java.lang.Long => Some(l)
      case f: java.lang.Float => Some(f)
      case d: java.lang.Double => Some(d)
      case s: java.lang.Short => Some(s)
      case b: java.lang.Byte => Some(b)
      case _ => None // decimal/binary/bool → no stats recorded for these
    }
    def range(col: String, v: Any, lower: Boolean, upper: Boolean): Boolean =
      body.forall(b => value(v).forall(x => Snapshots.statsAdmitsRange(b, col,
        if (lower) Some(x) else None, if (upper) Some(x) else None)))
    def bloomHas(col: String, v: Any, dt: org.apache.spark.sql.types.DataType): Boolean =
      v == null || {
        // canonical width, mirroring the writer (integral→long,
        // float→double, string as-is): XxHash64 of Int and Long
        // differ, and the literal's type follows the CURRENT declared
        // type while the sketch may predate a widening. Types WITHOUT
        // a canonical hash never refute: XxHash64 hashes
        // DECIMAL(<=18) as the unscaled long but wider decimals as
        // the unscaled byte array, so a sketch written before a
        // DECIMAL(18)→DECIMAL(19) widening would wrongly refute a
        // present key — the writer skips those types and the reader
        // keeps the file unconditionally.
        import org.apache.spark.sql.types._
        val canon: Option[(Any, DataType)] = dt match {
          case ByteType => Some((v.asInstanceOf[java.lang.Byte].longValue(), LongType))
          case ShortType => Some((v.asInstanceOf[java.lang.Short].longValue(), LongType))
          case IntegerType => Some((v.asInstanceOf[java.lang.Integer].longValue(), LongType))
          case LongType => Some((v, LongType))
          case FloatType => Some((v.asInstanceOf[java.lang.Float].doubleValue(), DoubleType))
          case DoubleType => Some((v, DoubleType))
          case StringType => Some((v, StringType))
          case _ => None // decimal/binary/bool/… → keep (no refutation)
        }
        canon.forall { case (cv, cdt) =>
          bloomOf(col).forall { bf =>
            try bf.mightContainLong(
              XxHash64(Seq(Literal(cv, cdt)), 42L).eval().asInstanceOf[Long])
            catch { case _: Exception => true }
          }
        }
      }
    def eq(a: Attribute, v: Any, dt: org.apache.spark.sql.types.DataType): Boolean =
      range(a.name, v, lower = true, upper = true) && bloomHas(a.name, v, dt)
    e match {
      case And(l, r) => admits(body, bloomOf, l) && admits(body, bloomOf, r)
      case Or(l, r) => admits(body, bloomOf, l) || admits(body, bloomOf, r)
      case EqualTo(a: Attribute, Literal(v, dt)) => eq(a, v, dt)
      case EqualTo(Literal(v, dt), a: Attribute) => eq(a, v, dt)
      case GreaterThan(a: Attribute, Literal(v, _)) => range(a.name, v, lower = true, upper = false)
      case GreaterThanOrEqual(a: Attribute, Literal(v, _)) => range(a.name, v, lower = true, upper = false)
      case LessThan(a: Attribute, Literal(v, _)) => range(a.name, v, lower = false, upper = true)
      case LessThanOrEqual(a: Attribute, Literal(v, _)) => range(a.name, v, lower = false, upper = true)
      case GreaterThan(Literal(v, _), a: Attribute) => range(a.name, v, lower = false, upper = true)
      case GreaterThanOrEqual(Literal(v, _), a: Attribute) => range(a.name, v, lower = false, upper = true)
      case LessThan(Literal(v, _), a: Attribute) => range(a.name, v, lower = true, upper = false)
      case LessThanOrEqual(Literal(v, _), a: Attribute) => range(a.name, v, lower = true, upper = false)
      case EqualNullSafe(a: Attribute, Literal(v, dt)) =>
        if (v == null) body.forall(Snapshots.statsAdmitsNull(_, a.name))
        else eq(a, v, dt)
      case EqualNullSafe(Literal(v, dt), a: Attribute) =>
        if (v == null) body.forall(Snapshots.statsAdmitsNull(_, a.name))
        else eq(a, v, dt)
      case In(a: Attribute, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists { case Literal(v, dt) => eq(a, v, dt) }
      case InSet(a: Attribute, vs) if vs.nonEmpty && vs.size <= 1000 =>
        // set elements are already catalyst values (UTF8String/Long/…)
        vs.exists(v => range(a.name, v, lower = true, upper = true) &&
          bloomHas(a.name, v, a.dataType))
      case IsNull(a: Attribute) => body.forall(Snapshots.statsAdmitsNull(_, a.name))
      case IsNotNull(a: Attribute) => body.forall(Snapshots.statsAdmitsNotNull(_, a.name))
      case StartsWith(a: Attribute, Literal(p: org.apache.spark.unsafe.types.UTF8String, _)) =>
        // LIKE 'abc%' → matching strings lie in [prefix, nextPrefix):
        // check the inclusive superset [prefix, nextPrefix] against the
        // recorded bounds (UTF-8 order preserves code-point order, so a
        // final-char increment is a valid upper bound; surrogate edges
        // give up the upper side — conservative)
        val pref = p.toString
        body.forall(b => Snapshots.statsAdmitsRange(b, a.name,
          Some(pref), prefixUpper(pref)))
      case _ => true // unknown shape → keep the file
    }
  }

  /** The smallest string above every string with prefix `p` (code-point
    * order = UTF-8 byte order): increment the last non-\uffff char,
    * truncating after it. None when no finite bound exists or the edge
    * touches a surrogate (keep-on-unknown). */
  private[catalog] def prefixUpper(p: String): Option[Any] = {
    var i = p.length - 1
    while (i >= 0 && p.charAt(i) == '\uffff') i -= 1
    if (i < 0) None
    else {
      val c = p.charAt(i)
      if (Character.isSurrogate(c) || Character.isSurrogate((c + 1).toChar)) None
      else Some(p.substring(0, i) + (c + 1).toChar)
    }
  }

  private val baseDirRe = """(.*?/v\d{8}_[^/]*)/.*""".r

  /** True when `f` sits below IDENTITY `col=value` segments inside its
    * version (staging) dir — the ones whose column exists solely in the
    * path. The synthetic derived segments (`_gbucket=`, `_gtpart=`)
    * don't make a flat scan lossy: their source column is a data column. */
  /** THE rename-resolution rule, shared by the head scan
    * ([[RenameAwareScanBuilder]]) and the MOR scan ([[MorScanBuilder]])
    * so they can never diverge: the physical union schema (each output
    * column followed by its prior spellings, newest first) and the
    * per-output-column coalesce expressions folding it back. */
  private[catalog] def renamePlan(schema: StructType,
      priors: Map[String, Seq[String]],
      remapped: Map[String, String] = Map.empty)
      : (StructType, Array[org.apache.spark.sql.catalyst.expressions.Expression]) = {
    // file spellings per presented field, NEWEST FIRST. A renamed
    // column coalesces its current spelling with its priors; a
    // RE-ADDED (remapped) column reads its PHYSICAL spelling ONLY —
    // its logical name also exists in old files as the dropped
    // column's DEAD bytes, which must never resurface under the new
    // meaning (the field-id rule, expressed as name indirection).
    def spellings(f: org.apache.spark.sql.types.StructField): Seq[String] =
      remapped.get(f.name) match {
        case Some(p) => Seq(p)
        case None => f.name +: priors.getOrElse(f.name, Nil).reverse
      }
    val phys = StructType(schema.fields.flatMap { f =>
      val sp = spellings(f)
      // a RENAMED column is physically absent from pre-rename files, so
      // its current spelling must be nullable in the UNION schema even
      // when the presented field is pinned non-null (the MOR key pin) —
      // the coalesce below restores the value from the prior spelling;
      // same for a remapped column's physical spelling (absent from
      // pre-re-add files)
      sp.map(name => org.apache.spark.sql.types.StructField(
        name, f.dataType,
        nullable = f.nullable || sp.length > 1 || remapped.contains(f.name)))
    })
    val exprs = schema.fields.map { f =>
      val ords = spellings(f).map(phys.fieldIndex)
      val refs = ords.map(o => BoundReference(o, f.dataType, nullable = true)
        : org.apache.spark.sql.catalyst.expressions.Expression)
      if (refs.size == 1) refs.head
      else org.apache.spark.sql.catalyst.expressions.Coalesce(refs)
    }
    (phys, exprs)
  }

  /** Row reader wrapped with a projection (rename coalesce / schema
    * narrowing) — shared by both rename-aware read paths. */
  private[catalog] def projectingReader(d: PartitionReader[InternalRow],
      exprs: Array[org.apache.spark.sql.catalyst.expressions.Expression])
      : PartitionReader[InternalRow] = {
    val proj = UnsafeProjection.create(exprs)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = d.next()
      override def get(): InternalRow = proj(d.get())
      override def close(): Unit = d.close()
    }
  }
}

/** Zero-partition scan for a created-but-never-written table. */
private[catalog] class EmptyScanBuilder(schema: StructType)
  extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required = schema
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] = Array.empty
    override def createReaderFactory(): PartitionReaderFactory =
      (_: InputPartition) => throw new IllegalStateException("empty scan has no partitions")
    override def description(): String = "graft-snapshot empty table"
  }
}

/** RENAME-COLUMN-aware head scan: resolves each renamed column across
  * file eras WITHOUT rewriting history. Files written before a rename
  * carry the column under a prior physical name; the scan reads the
  * UNION of current + prior names (the parquet reader surfaces a name
  * absent from a file as NULL) and emits, per output column,
  * `coalesce(current, prior_newest, …, prior_oldest)`. Exact, because
  * the ALTER TABLE ledger guarantees a physical name is never reused:
  * every file carries AT MOST ONE spelling of each logical column, so
  * the coalesce picks that spelling's value and legitimate NULLs stay
  * NULL (all other spellings are absent → NULL in that file).
  *
  * Cost model — the evolution tax is scoped to what actually evolved:
  *
  *  - a query touching NO renamed column takes the PLAIN pushdown
  *    vectorized parquet scan (the coalescing wrapper is elided
  *    entirely when the pruned schema needs no priors);
  *  - predicates on ERA-INVARIANT columns (no prior spellings) forward
  *    to the inner parquet builder for scan-level skipping — row-group
  *    stats, dictionary filtering — while Spark still re-applies every
  *    predicate above the scan, so correctness never depends on the
  *    forwarded subset. Predicates touching renamed columns are not
  *    forwarded: an old file lacks the current spelling, and a
  *    row-group stats decision on an absent column is undefined.
  *  - coalescing itself runs COLUMNAR for atomic/array/map columns
  *    ([[CoalescingColumnVector]] — a lazy first-non-null view over the
  *    spelling vectors, zero copies); only struct/interval coalesces
  *    (whose accessors are row-independent by API shape) drop to the
  *    row-based projecting reader.
  *
  * A full rewrite (compact) re-materializes current names and clears
  * the ledger, removing even the residual view. */
private[catalog] class RenameAwareScanBuilder(spark: SparkSession,
    tableSchema: StructType, priors: Map[String, Seq[String]],
    files: Seq[String], options: CaseInsensitiveStringMap,
    statsRaw: Map[String, String] = Map.empty,
    blooms: Map[String, Seq[String]] = Map.empty,
    partSchema: StructType = new StructType(),
    bucketSpec: Option[(String, Int)] = None,
    transformSpec: Option[(SnapTransform.Spec, DataType)] = None,
    remapped: Map[String, String] = Map.empty)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {

  // the inner builder is created EAGERLY over the full physical union
  // schema (every column + every prior spelling) so filter pushdown can
  // forward before column pruning settles; pruning narrows it at build
  // (partSchema: renamed non-partition columns on a PARTITIONED table
  // still plan over the partition-aware index — partition columns
  // themselves are rename-guarded, so they never carry priors; same for
  // the bucket column, so bucket-directory pruning survives renames of
  // OTHER columns)
  private val inner = GraftScans.parquetBuilder(spark, files,
    GraftScans.renamePlan(tableSchema, priors, remapped)._1, options,
    statsRaw, blooms, partSchema, bucketSpec, transformSpec)

  private var requested: StructType = tableSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    requested = requiredSchema

  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    // predicates on RENAMED columns don't forward (old files lack the
    // spelling); predicates on RE-ADDED columns MUST not forward — old
    // files carry the dropped column's DEAD bytes under the logical
    // name, and parquet row-group stats over them could wrongly refute
    val renamed = priors.keySet.map(_.toLowerCase) ++
      remapped.keySet.map(_.toLowerCase)
    val eraInvariant = filters.filter(f => f.deterministic &&
      f.references.forall(a => !renamed.contains(a.name.toLowerCase)))
    inner.pushFilters(eraInvariant)
    // EVERYTHING stays residual: the forwarded subset buys scan-level
    // skipping only, and Spark re-applies all predicates above
    filters
  }

  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    inner.pushedFilters

  override def build(): Scan = {
    // PARTITIONED tables: the file scan emits partition columns LAST
    // (readDataSchema ++ partitionSchema) regardless of requested
    // order, and the coalesce exprs bind by ORDINAL — so order the
    // requested schema partition-last before planning, matching the
    // delegate's actual row shape (Spark re-projects by name above)
    val ordered =
      if (partSchema.isEmpty) requested
      else StructType(
        requested.fields.filterNot(f => partSchema.fieldNames.contains(f.name)) ++
        requested.fields.filter(f => partSchema.fieldNames.contains(f.name)))
    // physical read schema (each requested column + its prior
    // spellings) and the folding coalesce — the shared rule
    val (physSchema, exprs) = GraftScans.renamePlan(ordered, priors, remapped)
    if (physSchema == ordered) {
      // no requested column is renamed → the wrapper is pure overhead;
      // hand back Spark's own vectorized pushdown scan untouched
      inner.pruneColumns(ordered)
      inner.build()
    } else {
      inner.pruneColumns(physSchema)
      new RenameScan(inner.build(), ordered, exprs)
    }
  }
}

/** The coalescing wrapper around the physical-schema parquet scan.
  * Columnar-first: batches pass through with each renamed column
  * replaced by a [[CoalescingColumnVector]] view (no copy, no row
  * materialization); pass-through columns keep their original vectors.
  * Falls back to the row-based projecting reader when the delegate
  * partition is row-based or a coalesced column's type needs
  * row-independent child access (struct/interval/variant). */
private[catalog] class RenameScan(delegate: Scan, requested: StructType,
    exprs: Array[org.apache.spark.sql.catalyst.expressions.Expression])
  extends Scan with Batch {

  override def readSchema(): StructType = requested
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-snapshot rename-aware scan over (${delegate.description()})"

  override def planInputPartitions(): Array[InputPartition] =
    delegate.toBatch.planInputPartitions()

  /** Per-output-column physical ordinals (head = newest spelling) —
    * recovered from the shared coalesce expressions so the columnar
    * and row paths can never disagree. */
  private def ordinalsOf(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Array[Int] = e match {
    case BoundReference(o, _, _) => Array(o)
    case c: org.apache.spark.sql.catalyst.expressions.Coalesce =>
      c.children.map { case BoundReference(o, _, _) => o }.toArray
    case other => throw new IllegalStateException(s"unexpected rename expr $other")
  }

  /** Columnar coalescing is exact only for types whose accessors are
    * row-addressed; struct (getChild), interval, and variant accessors
    * are row-independent by API shape and drop to the row path. */
  private def columnarCoalesceable(dt: DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.StructType => false
    case _: org.apache.spark.sql.types.CalendarIntervalType => false
    case _: org.apache.spark.sql.types.VariantType => false
    case _ => true
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val inner = delegate.toBatch.createReaderFactory()
    val localExprs = exprs
    val ordinals = exprs.map(ordinalsOf)
    val types = requested.fields.map(_.dataType)
    val columnarOk = ordinals.zip(types).forall { case (ords, dt) =>
      ords.length == 1 || columnarCoalesceable(dt)
    }
    new PartitionReaderFactory {
      override def supportColumnarReads(partition: InputPartition): Boolean =
        columnarOk && inner.supportColumnarReads(partition)
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        GraftScans.projectingReader(inner.createReader(partition), localExprs)
      override def createColumnarReader(partition: InputPartition)
          : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
        val d = inner.createColumnarReader(partition)
        new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
          override def next(): Boolean = d.next()
          override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
            val b = d.get()
            val cols = ordinals.zip(types).map { case (ords, dt) =>
              if (ords.length == 1) b.column(ords(0))
              else new CoalescingColumnVector(dt, ords.map(b.column))
            }
            val out = new org.apache.spark.sql.vectorized.ColumnarBatch(
              cols.toArray[org.apache.spark.sql.vectorized.ColumnVector])
            out.setNumRows(b.numRows())
            out
          }
          // the view batch borrows the delegate's vectors — closing the
          // delegate is the single ownership point
          override def close(): Unit = d.close()
        }
      }
    }
  }
}

/** Lazy first-non-null view over a renamed column's spelling vectors:
  * `coalesce(current, prior_newest, …)` evaluated per access, zero
  * copies. The ALTER ledger guarantees each FILE carries at most one
  * spelling, so within one batch at most one child is non-null per row
  * — the pick is a short null-scan, not a semantic merge. */
private[catalog] final class CoalescingColumnVector(dt: DataType,
    children: Array[org.apache.spark.sql.vectorized.ColumnVector])
  extends org.apache.spark.sql.vectorized.ColumnVector(dt) {

  private def pick(i: Int): org.apache.spark.sql.vectorized.ColumnVector = {
    var j = 0
    while (j < children.length) {
      if (!children(j).isNullAt(i)) return children(j)
      j += 1
    }
    null
  }

  /** Children belong to the delegate batch; it owns their lifecycle. */
  override def close(): Unit = ()

  /** A row is null iff EVERY spelling is null there — so any null-free
    * child makes the view null-free; otherwise report conservatively. */
  override def hasNull: Boolean = children.forall(_.hasNull)

  /** No exec-path consumer reads numNulls (they drive isNullAt);
    * report a cheap lower bound consistent with hasNull. */
  override def numNulls(): Int = if (!hasNull) 0 else children.map(_.numNulls()).min

  override def isNullAt(i: Int): Boolean = pick(i) == null

  override def getBoolean(i: Int): Boolean = pick(i).getBoolean(i)
  override def getByte(i: Int): Byte = pick(i).getByte(i)
  override def getShort(i: Int): Short = pick(i).getShort(i)
  override def getInt(i: Int): Int = pick(i).getInt(i)
  override def getLong(i: Int): Long = pick(i).getLong(i)
  override def getFloat(i: Int): Float = pick(i).getFloat(i)
  override def getDouble(i: Int): Double = pick(i).getDouble(i)
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    pick(i).getArray(i)
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    pick(i).getMap(i)
  override def getDecimal(i: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal =
    pick(i).getDecimal(i, precision, scale)
  override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
    pick(i).getUTF8String(i)
  override def getBinary(i: Int): Array[Byte] = pick(i).getBinary(i)

  /** Struct children need row-independent access — those types are
    * routed to the row-based reader before this view is ever built. */
  override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector =
    throw new UnsupportedOperationException(
      "struct coalescing runs on the row-based path")
}

/** One key group's pending equality deletes, ready for executor-side
  * application: the key columns' ordinals/types in the scan's read
  * schema plus the group's COVERS, a map from each deleted key to the
  * newest [[DeleteFile.coversBelow]] among the group's delete files
  * holding it. Keys are in CATALYST form (UTF8String/Long/…, binary via
  * [[DeleteKeyCache.setForm]]), so row values compare directly;
  * composite keys are `List(v1, v2, …)`. A row of a file with effective
  * sequence number `seq` is deleted iff its key's cover is above `seq`
  * ([[hides]]), so one map serves every file whatever its delete
  * history. The covers are either INLINE (loaded on the driver at plan
  * time) or LAZY (`files` non-empty: each executor loads them on first
  * use), both through [[DeleteKeyCache]]. */
private[catalog] final case class MorDeleteSet(keyOrdinals: Seq[Int],
    keyTypes: Seq[DataType], inline: Option[MorDeleteSet.Covers],
    files: Seq[(String, Long)], keyNames: Seq[String]) {

  def covers: MorDeleteSet.Covers =
    inline.getOrElse(DeleteKeyCache.load(files, keyNames, keyTypes))

  /** The row's key value in set form — null when ANY component is null
    * (SQL equality: a null key never matches a delete). */
  def keyOf(row: InternalRow): Any =
    if (keyOrdinals.length == 1) {
      if (row.isNullAt(keyOrdinals.head)) null
      else DeleteKeyCache.setForm(row.get(keyOrdinals.head, keyTypes.head))
    } else {
      var i = 0
      val b = List.newBuilder[Any]
      while (i < keyOrdinals.length) {
        if (row.isNullAt(keyOrdinals(i))) return null
        b += DeleteKeyCache.setForm(row.get(keyOrdinals(i), keyTypes(i)))
        i += 1
      }
      b.result()
    }

  /** Whether this group deletes `row` of a file with sequence `seq`;
    * `covers` is this set's [[covers]], resolved once by the caller. */
  def hides(row: InternalRow, covers: MorDeleteSet.Covers, seq: Long): Boolean = {
    val k = keyOf(row)
    k != null && (covers.get(k) match {
      case Some(cover) => MorDeleteSet.applies(cover, seq)
      case None => false
    })
  }
}

private[catalog] object MorDeleteSet {
  type Covers = scala.collection.immutable.Map[Any, Long]

  /** The one delete-scoping rule: a delete committed with cover
    * version `cover` applies to a file of effective sequence `seq`
    * iff the file was staged before it. */
  def applies(cover: Long, seq: Long): Boolean = seq < cover
}

/** The loader of delete-key covers for both sides of the inline gate
  * (driver at plan time, executors lazily): parquet-hadoop's example
  * Group API, so no Spark session, job or nested SQL execution. A
  * delete file is immutable once staged, so its key set is memoized per
  * JVM under its identity (path, size, mtime: a reused path misses)
  * plus the key spellings and DECLARED types it decodes to (after an
  * ALTER COLUMN widening it decodes again at the new width). Values
  * decode per the footer type into catalyst form; any other key type
  * fails loudly with a compact-first message. */
private[catalog] object DeleteKeyCache {
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
  import org.apache.spark.sql.types._

  private type KeySet = scala.collection.immutable.Set[Any]

  private final case class FileKey(path: String, size: Long, mtime: Long,
      cols: Seq[String], types: Seq[DataType])

  /** Each file's key set, softly held. */
  private val fileSets = new java.util.concurrent.ConcurrentHashMap[
    FileKey, java.lang.ref.SoftReference[KeySet]]()

  /** A group's covers under its (file, cover) list, weakly held:
    * shared while tasks use them, not kept for delete lists later
    * snapshots never form again. */
  private val groupCovers = new java.util.concurrent.ConcurrentHashMap[
    Seq[(FileKey, Long)], java.lang.ref.WeakReference[MorDeleteSet.Covers]]()

  private def keySet(k: FileKey): KeySet =
    Option(fileSets.get(k)).flatMap(r => Option(r.get())).getOrElse {
      val s = readFile(k)
      fileSets.put(k, new java.lang.ref.SoftReference(s))
      s
    }

  /** The covers of delete files given as (path, coversBelow) pairs. */
  def load(files: Seq[(String, Long)], cols: Seq[String],
      types: Seq[DataType]): MorDeleteSet.Covers = {
    val ks = files.distinct.sortBy(_.swap).map { case (p, cover) =>
      val path = new org.apache.hadoop.fs.Path(p)
      val st = path.getFileSystem(Snapshots.hadoopConf).getFileStatus(path)
      FileKey(p, st.getLen, st.getModificationTime, cols, types) -> cover
    }
    Option(groupCovers.get(ks)).flatMap(r => Option(r.get())).getOrElse {
      // ascending covers: a key in several files keeps the newest
      val b = Map.newBuilder[Any, Long]
      ks.foreach { case (k, cover) => keySet(k).foreach(key => b += key -> cover) }
      val covers = b.result()
      groupCovers.put(ks, new java.lang.ref.WeakReference(covers))
      covers
    }
  }

  /** Set form of a catalyst key component: binary wraps content-equal. */
  def setForm(v: Any): Any = v match {
    case b: Array[Byte] => scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
    case _ => v
  }

  private def readFile(k: FileKey): KeySet = {
    // materialized eagerly inside readGroups, which closes the file
    // even when a decoder throws mid-stream
    val out = Set.newBuilder[Any]
    Snapshots.readGroups(k.path) { schema =>
      val decs = k.cols.lazyZip(k.types).map(decoder(schema, _, _))
      if (decs.size == 1) g => out += decs.head(g)
      else g => out += decs.map(_(g)).toList
    }
    out.result()
  }

  /** Group → catalyst value (null when absent) for one key column,
    * resolved once per file from its footer type. */
  private def decoder(schema: GroupType, col: String,
      dt: DataType): Group => Any = {
    val idx = schema.getFieldIndex(col)
    val ft = schema.getType(idx)
    def refuse = throw new UnsupportedOperationException(
      s"delete-key column '$col' of type ${dt.simpleString} stored as " +
        s"'$ft' is not supported by the delete-key loader; compact the " +
        "table (full rewrite) to absorb the deletes")
    if (!ft.isPrimitive) refuse
    val pt = ft.asPrimitiveType()
    val read: Group => Any = (dt, pt.getPrimitiveTypeName) match {
      // a delete file staged BEFORE an int→bigint widening carries
      // INT32 physically — upcast by the footer type, mirroring the
      // native upcast the data scan applies to narrow base files
      case (LongType, INT32) => g => g.getInteger(idx, 0).toLong
      case (LongType, INT64) => g => g.getLong(idx, 0)
      case (IntegerType | DateType, INT32) => g => g.getInteger(idx, 0)
      case (ShortType, INT32) => g => g.getInteger(idx, 0).toShort
      case (ByteType, INT32) => g => g.getInteger(idx, 0).toByte
      // catalyst form is epoch MICROS; the file may carry INT96
      // (Spark's legacy parquet timestamp physical type) or annotated
      // INT64 in any unit
      case (TimestampType | TimestampNTZType, INT96) => g =>
        val buf = java.nio.ByteBuffer.wrap(g.getInt96(idx, 0).getBytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nanosOfDay = buf.getLong
        val julianDay = buf.getInt
        (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
      case (TimestampType | TimestampNTZType, INT64) =>
        val scale: Long => Long = pt.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MILLIS => _ * 1000L
              case LogicalTypeAnnotation.TimeUnit.MICROS => identity
              case LogicalTypeAnnotation.TimeUnit.NANOS => _ / 1000L
            }
          case _ => identity
        }
        g => scale(g.getLong(idx, 0))
      // a delete file staged BEFORE a date→timestamp_ntz widening
      // carries INT32 epoch DAYS — upcast to midnight micros, the same
      // promotion the data scan applies to narrow base files
      case (TimestampNTZType, INT32) => g => g.getInteger(idx, 0).toLong * 86400000000L
      case (StringType, BINARY) => g =>
        org.apache.spark.unsafe.types.UTF8String.fromBytes(g.getBinary(idx, 0).getBytes)
      // float→double widening: pre-widening delete files carry FLOAT
      case (DoubleType, FLOAT) => g => g.getFloat(idx, 0).toDouble
      case (DoubleType, DOUBLE) => g => g.getDouble(idx, 0)
      case (FloatType, FLOAT) => g => g.getFloat(idx, 0)
      case (BooleanType, BOOLEAN) => g => g.getBoolean(idx, 0)
      case (BinaryType, BINARY | FIXED_LEN_BYTE_ARRAY) => g =>
        setForm(g.getBinary(idx, 0).getBytes)
      // decimal precision growth keeps the scale, so a pre-widening
      // file's unscaled value (INT32/INT64 for narrow precisions, big-
      // endian bytes past 18 digits) reads at the declared precision
      case (d: DecimalType, phys) if (pt.getLogicalTypeAnnotation match {
          case a: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
            a.getScale == d.scale
          case _ => false
        }) => phys match {
        case INT32 => g => Decimal(g.getInteger(idx, 0).toLong, d.precision, d.scale)
        case INT64 => g => Decimal(g.getLong(idx, 0), d.precision, d.scale)
        case BINARY | FIXED_LEN_BYTE_ARRAY => g =>
          Decimal(new java.math.BigDecimal(
            new java.math.BigInteger(g.getBinary(idx, 0).getBytes), d.scale),
            d.precision, d.scale)
        case _ => refuse
      }
      case _ => refuse
    }
    g => if (g.getFieldRepetitionCount(idx) == 0) null else read(g)
  }
}

/** Merge-on-read catalog scan (shape 3 in [[GraftScans]]): ONE parquet
  * scan over the snapshot's plain files, plus at most one over the
  * files that need per-row (file, ordinal) identity, whatever the
  * delete history. Each file carries its effective sequence number and
  * each key group one cover map ([[MorDeleteSet]]), so the readers
  * scope deletes per file with no grouping of files by delete set.
  * `priors` composes RENAME COLUMN evolution into the same scan:
  * renamed columns — INCLUDING delete-key columns — resolve across
  * their spelling eras by the prior-name coalesce
  * ([[RenameAwareScanBuilder]]'s rule) before the delete filter runs,
  * and each `#del` line's commit-time spelling resolves to its current
  * name through the same ledger, so key ordinals always bind to the
  * presented schema. ALTER COLUMN widening composes too:
  * [[DeleteKeyCache]] decodes narrow staged key values at the declared
  * type. */
private[catalog] class MorScanBuilder(spark: SparkSession,
    tableSchema: StructType, snap: Snapshot, options: CaseInsensitiveStringMap,
    priors: Map[String, Seq[String]] = Map.empty,
    dropChains: Map[String, Seq[String]] = Map.empty,
    dropTypes: Map[String, DataType] = Map.empty,
    emitRowId: Boolean = false,
    remapped: Map[String, String] = Map.empty,
    partSchema: StructType = new StructType())
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {

  private var requested: StructType = tableSchema

  /** Files needing per-row (file, ordinal) identity: position-delete-
    * affected files, or EVERY file when this scan is the positional
    * row-level operation's source (emitRowId). */
  private def needsPos(f: String): Boolean =
    emitRowId || snap.posDeletes.contains(f)

  /** prior physical spelling → current (or final dropped) column name
    * (identity for un-renamed names) — the delete-key indirection.
    * Dropped columns' chains participate too: a delete file staged
    * under a pre-rename spelling of a later-DROPPED key still resolves
    * to the dropped column's final name, whose shadow field carries
    * the filter. */
  private val toCurrent: Map[String, String] =
    (priors ++ dropChains).flatMap { case (cur, ps) => ps.map(_ -> cur) }

  private def currentName(phys: String): String = toCurrent.getOrElse(phys, phys)

  /** Declared field for a CURRENT name: live columns from the table
    * schema; DROPPED delete-key columns from the droptype ledger (the
    * declared width at drop time — staged narrow keys upcast exactly
    * as pre-drop), always nullable (post-drop files lack the bytes). */
  private def declaredField(cur: String): org.apache.spark.sql.types.StructField =
    if (tableSchema.fieldNames.contains(cur)) tableSchema(cur)
    else org.apache.spark.sql.types.StructField(cur, dropTypes.getOrElse(cur,
      throw new IllegalStateException(
        s"pending delete files key column '$cur', which is neither " +
          "declared nor recorded in the droptype ledger")), nullable = true)

  private val (posFiles, plainFiles) = snap.files.partition(needsPos)

  // eager, so the builders exist when filter pushdown arrives; identity
  // partition columns re-attach from the plain files' paths
  private val plainBuilder =
    if (plainFiles.isEmpty) None
    else Some(GraftScans.parquetBuilder(spark, plainFiles, tableSchema, options,
      snap.statsRaw, snap.blooms, partSchema))

  private val rowIdxField = org.apache.spark.sql.types.StructField(
    GraftRowId.RowIdxTmp, org.apache.spark.sql.types.LongType, nullable = true)

  /** The pos files read through a schema carrying the parquet readers'
    * reserved row-index column (GENERATED with the true ordinal of each
    * row in its file — exact under splits and row-group skipping; the
    * machinery behind Spark's own _metadata.row_index). Flat: positional
    * MOR excludes PARTITIONED BY. */
  private val posBuilder =
    if (posFiles.isEmpty) None
    else Some(GraftScans.parquetBuilder(spark, posFiles,
      StructType(tableSchema.fields :+ rowIdxField), options,
      snap.statsRaw, snap.blooms))

  override def pruneColumns(requiredSchema: StructType): Unit =
    requested = requiredSchema

  /** Predicates that touch no renamed column (deterministic ones) read
    * the same under every spelling era, so they forward to the plain
    * parquet builder for scan-level skipping — the delete filter above
    * only removes MORE rows, so a pushed skip can never surface a row
    * the un-pushed scan would hide. All predicates stay residual; Spark
    * re-applies them above the scan, so correctness never rides on the
    * forwarded subset. */
  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    val renamed = priors.keySet.map(_.toLowerCase) ++
      remapped.keySet.map(_.toLowerCase)
    val eraInvariant = filters.filter(f => f.deterministic &&
      f.references.forall(a => !renamed.contains(a.name.toLowerCase)))
    // the pos scan takes NO pushed predicates: the row-index generator
    // is pushdown-exact, but ordinal-hiding is correctness-bearing, so
    // the conservative choice costs only pushdown on affected files
    // until compaction absorbs their posdels
    plainBuilder.foreach(_.pushFilters(eraInvariant))
    filters
  }

  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    plainBuilder.map(_.pushedFilters).getOrElse(Array.empty)

  override def build(): Scan = {
    // Inline-vs-lazy gate (dedicated conf, NOT the broadcast
    // threshold): small delete sets load on the driver (memoized, no
    // job) and ship inside the plan; past the gate the sets stay as
    // paths and each EXECUTOR loads them lazily — memory lands where
    // the work is (the Iceberg equality-delete shape). On-disk parquet
    // bytes understate the in-memory set, so the default is modest.
    val delBytes = snap.deletes.map { d =>
      try Files.size(Paths.get(d.path)) catch { case _: Exception => 0L }
    }.sum
    val gateStr = spark.conf.get(MorScanBuilder.InlineDeleteBytesKey,
      MorScanBuilder.InlineDeleteBytesDefault)
    val gate =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(gateStr.trim)
      catch { case _: Exception => 8L * 1024 * 1024 }
    val inlineMode = delBytes <= gate

    // the row-id METADATA columns (_gfile/_gpos) are never parquet
    // columns: the pos readers synthesize them — strip them from the
    // schema the files are read under
    val tableRequested = StructType(requested.fields.filterNot(f =>
      f.name == GraftRowId.FileCol || f.name == GraftRowId.PosCol))
    // the read schema must carry every delete key column even when the
    // query pruned it away — including the SHADOW field of a DROPPED
    // key column, which is never in `requested` by construction; the
    // wrapped readers project back down. Delete files are keyed by the
    // PHYSICAL spelling at delete-commit time — the rename ledger
    // resolves each to its CURRENT name, and the dropchain ledger to a
    // dropped column's FINAL name (the name-history equivalent of
    // Iceberg's field-id indirection), so a key column renamed or
    // dropped AFTER the delete still scopes exactly
    val keyCols = snap.deletes.flatMap(_.keyCols).map(currentName).distinct
    val wanted = tableRequested.fields ++
      keyCols.filterNot(k => tableRequested.fieldNames.contains(k))
        .map(declaredField)
    // a file scan emits data columns first, then partition columns in
    // partition-schema order — the read schema follows that shape
    val readSchema = StructType(
      wanted.filterNot(f => partSchema.fieldNames.contains(f.name)) ++
        partSchema.fields.flatMap(p => wanted.find(_.name == p.name)))

    // rename composition: the files are read under the PHYSICAL union
    // schema (each readSchema column followed by its prior spellings)
    // and a per-column coalesce projects it back to readSchema before
    // the delete filter — the SAME rule as the head scan
    // (GraftScans.renamePlan); an un-renamed table has no priors and
    // the projection is elided. Shadow fields of dropped key columns
    // coalesce through THEIR preserved chains, so a delete staged
    // under a pre-rename spelling still filters pre-rename files
    val shadowChains = dropChains.filter { case (fin, _) =>
      readSchema.fieldNames.contains(fin) && !tableSchema.fieldNames.contains(fin)
    }
    val (physSchema, exprs) = GraftScans.renamePlan(readSchema,
      priors ++ shadowChains, remapped)
    val coalesceExprs: Option[Array[org.apache.spark.sql.catalyst.expressions.Expression]] =
      if (physSchema.length == readSchema.length && remapped.isEmpty) None
      else Some(exprs)

    // pos variants: the physical schema gains the row-index field
    // LAST, and the coalesce projection (when present) carries it
    // through unchanged
    val posExprs = coalesceExprs.map(es => es :+
      (BoundReference(physSchema.length, org.apache.spark.sql.types.LongType,
        true): org.apache.spark.sql.catalyst.expressions.Expression))
    val delSets = snap.deletes.groupBy(_.keyCol).toSeq.sortBy(_._1).map { case (_, ds) =>
      // file-physical spellings load the staged parquet; CURRENT
      // names bind the row-side ordinals/types — the two sides of
      // the rename indirection
      val kcs = ds.head.keyCols
      val curs = kcs.map(currentName)
      val types = curs.map(declaredField(_).dataType)
      val files = ds.map(d => d.path -> d.coversBelow)
      MorDeleteSet(curs.map(readSchema.fieldIndex), types,
        if (inlineMode) Some(DeleteKeyCache.load(files, kcs, types)) else None,
        if (inlineMode) Nil else files, kcs)
    }
    val plainScan = plainBuilder.map { b =>
      b.pruneColumns(if (coalesceExprs.isDefined) physSchema else readSchema)
      b.build()
    }
    val posScan = posBuilder.map { b =>
      b.pruneColumns(StructType(
        (if (coalesceExprs.isDefined) physSchema else readSchema)
          .fields :+ rowIdxField))
      b.build()
    }
    new MorScan(plainScan, posScan, delSets,
      snap.files.map(f =>
        new org.apache.hadoop.fs.Path(f).toUri.getPath -> snap.seqOf(f)).toMap,
      snap.deletes.map(_.coversBelow).maxOption.getOrElse(Long.MinValue),
      requested, readSchema, coalesceExprs, posExprs,
      snap.posDeletes, emitRowId, snap.deletes.map(_.path).distinct.size,
      inlineMode)
  }
}

private[catalog] object MorScanBuilder {
  /** On-disk delete-file bytes up to which the key sets are loaded
    * driver-side and shipped inline with the plan; above, executors
    * load them lazily ([[DeleteKeyCache]]). */
  val InlineDeleteBytesKey = "spark.graft.mor.inlineDeleteBytes"
  val InlineDeleteBytesDefault = "8m"
}

/** Row-id metadata column names and the parquet readers' reserved
  * row-index temp column (populated by the readers with each row's
  * TRUE ordinal in its file — the machinery behind _metadata.row_index,
  * exact under splits, row-group skipping, and predicate pushdown). */
private[catalog] object GraftRowId {
  val FileCol = "_gfile"
  val PosCol = "_gpos"
  val RowIdxTmp = "_tmp_metadata_row_index"
}

/** The delete-applying scan: the plain files' delegate parquet scan
  * and the position-identity scan of the posdel-affected (or
  * row-id-emitting) files. Rows are filtered against every key group's
  * covers under their file's sequence number (and, for position-
  * delete-affected files, against their (file, ordinal) pair sets),
  * then projected back to the requested schema — optionally with the
  * synthesized _gfile/_gpos row-id columns (the positional row-level
  * operation's source). Row-based (no columnar batches) — the
  * documented transient degrade while deletes are pending; reporting
  * that up front means planning never asks for a reader factory, and
  * the one factory (one Hadoop-conf broadcast per delegate scan) is
  * built at execution. */
private[catalog] class MorScan(plain: Option[Scan], pos: Option[Scan],
    delSets: Seq[MorDeleteSet],
    // URI path → effective sequence number of every snapshot file
    seqOf: Map[String, Long],
    // the highest delete cover: a file at or above it skips the lookups
    coverCeiling: Long,
    requested: StructType, readSchema: StructType,
    coalesceExprs: Option[Array[org.apache.spark.sql.catalyst.expressions.Expression]] = None,
    posCoalesceExprs: Option[Array[org.apache.spark.sql.catalyst.expressions.Expression]] = None,
    posDeletes: Map[String, Seq[String]] = Map.empty,
    emitRowId: Boolean = false, deleteFiles: Int = 0,
    inlineKeys: Boolean = true)
  extends Scan with Batch {

  override def readSchema(): StructType = requested
  override def toBatch: Batch = this
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.UNSUPPORTED

  /** Names the MOR path taken: the equality-delete file count and
    * whether their key sets ship inline or load lazily on executors. */
  override def description(): String =
    s"graft-snapshot MOR scan ($deleteFiles delete file(s), " +
      s"${if (inlineKeys) "inline" else "lazy"} keys, delete-applying" +
      (if (posDeletes.nonEmpty) ", positional" else "") +
      (if (emitRowId) ", row-id-emitting" else "") + ") over (" +
      plain.orElse(pos).map(_.description()).getOrElse("empty") + ")"

  private def seqOfFile(pf: org.apache.spark.sql.execution.datasources.PartitionedFile): Long = {
    val path = pf.toPath.toUri.getPath
    seqOf.getOrElse(path, throw new IllegalStateException(
      s"MOR scan planned $path, which is not a file of its snapshot"))
  }

  private lazy val partitions: Array[InputPartition] =
    plain.toSeq.flatMap(_.toBatch.planInputPartitions().toSeq.map {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        MorPartition(fp, fp.files.map(seqOfFile)): InputPartition
      case other => throw new IllegalStateException(
        s"MOR scan planned a non-file partition: $other")
    }).toArray ++
    // pos partitions REPACK to one file (or file split) each, so a
    // reader always knows which single file its ordinals index —
    // same parallelism, partition-count inflation bounded by the
    // affected-file count
    pos.toSeq.flatMap(_.toBatch.planInputPartitions().toSeq.flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.toSeq.map { pf =>
          val path = pf.toPath.toUri.getPath
          PosMorPartition(
            org.apache.spark.sql.execution.datasources.FilePartition(0, Array(pf)),
            seqOfFile(pf), path, posDeletes.getOrElse(path, Nil)): InputPartition
        }
      case other => throw new IllegalStateException(
        s"pos scan planned a non-file partition: $other")
    })

  override def planInputPartitions(): Array[InputPartition] = partitions

  /** Files planned after partition and stats pruning. */
  private def numFiles: Long = partitions.flatMap {
    case MorPartition(fp, _) => fp.files.map(_.toPath.toUri.getPath).toSeq
    case p: PosMorPartition => Seq(p.file)
  }.distinct.length.toLong

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new MorNumFilesMetric)

  override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val n = numFiles
    Array(new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = "numFiles"
      override def value(): Long = n
    })
  }

  private lazy val factory: PartitionReaderFactory = {
    // ordinals of the requested TABLE columns inside the (wider) read
    // schema; the row-id metadata columns are synthesized (-1 / -2)
    val outOrdinals = requested.fields.map {
      case f if f.name == GraftRowId.FileCol => -1
      case f if f.name == GraftRowId.PosCol => -2
      case f => readSchema.fieldIndex(f.name)
    }
    val readFields = readSchema.fields
    new MorReaderFactory(plain.map(_.toBatch.createReaderFactory()),
      pos.map(_.toBatch.createReaderFactory()), delSets.toArray, coverCeiling,
      outOrdinals, readFields.map(_.dataType), readFields.map(_.nullable),
      coalesceExprs, posCoalesceExprs, readSchema.length)
  }

  override def createReaderFactory(): PartitionReaderFactory = factory
}

/** `numFiles` of a MOR scan node: the files it reads after pruning. */
private[catalog] class MorNumFilesMetric
  extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "numFiles"
  override def description(): String = "number of files read"
}

/** A delegate parquet file partition plus the effective sequence
  * number of each of its files, in order. */
private[catalog] final case class MorPartition(
  inner: org.apache.spark.sql.execution.datasources.FilePartition,
  seqs: Array[Long]) extends InputPartition

/** A single-file (or single-split) pos partition: the file every row's
  * ordinal indexes, its sequence number, and the pair files hiding its
  * rows. */
private[catalog] final case class PosMorPartition(
  inner: org.apache.spark.sql.execution.datasources.FilePartition,
  seq: Long, file: String, posFiles: Seq[String]) extends InputPartition

// NOTE: position-delete sidecar loading (deletion vectors) lives in
// [[graft.sources.DeleteVectors]] — one
// soft-cached, Spark-session-free loader shared by the executor-side
// partition readers here and delete-file compaction.

/** Reads a [[MorPartition]] one delegate per file, so each row is
  * checked against the key groups' covers under its own file's
  * sequence number; a file at or above every cover skips the lookups,
  * and a partition of only such files never resolves the covers. */
private[catalog] class MorReaderFactory(
    plainFactory: Option[PartitionReaderFactory],
    posFactory: Option[PartitionReaderFactory],
    dels: Array[MorDeleteSet], coverCeiling: Long,
    outOrdinals: Array[Int], readTypes: Array[DataType],
    readNullable: Array[Boolean],
    coalesceExprs: Option[Array[org.apache.spark.sql.catalyst.expressions.Expression]] = None,
    posCoalesceExprs: Option[Array[org.apache.spark.sql.catalyst.expressions.Expression]] = None,
    readLen: Int = 0)
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = false

  /** Read row → output row. `rowIdxSlot` >= 0 marks a pos row (the
    * generated per-file ordinal rides in that slot); `fileUtf8`
    * synthesizes the _gfile row-id column. */
  private def projector(rowIdxSlot: Int,
      fileUtf8: org.apache.spark.unsafe.types.UTF8String): InternalRow => InternalRow = {
    val identity = rowIdxSlot < 0 && outOrdinals.length == readTypes.length &&
      outOrdinals.zipWithIndex.forall { case (o, i) => o == i }
    val synthesize = outOrdinals.exists(_ < 0)
    // the row-id metadata columns are an operation-plumbing surface:
    // only pos readers (which carry the generated ordinal and the
    // partition's file) can fill them — a plain partition asked for
    // them means a direct SELECT of _gfile/_gpos outside a row-level
    // operation, which this scan shape does not serve
    if (synthesize && rowIdxSlot < 0) throw new IllegalStateException(
      s"${GraftRowId.FileCol}/${GraftRowId.PosCol} are row-id plumbing " +
        "for row-level operations and are not served on this scan shape")
    if (identity) r => r
    else if (!synthesize) {
      val proj = UnsafeProjection.create(outOrdinals.map(o =>
        BoundReference(o, readTypes(o), readNullable(o))
          .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Expression]))
      r => proj(r)
    } else { r =>
      // row-id emission: fill _gfile from the partition's file and
      // _gpos from the generated ordinal; table columns copy through
      val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        outOrdinals.length)
      var i = 0
      while (i < outOrdinals.length) {
        outOrdinals(i) match {
          case -1 => out.update(i, fileUtf8)
          case -2 => out.update(i, r.getLong(rowIdxSlot))
          case o => out.update(i,
            if (r.isNullAt(o)) null else r.get(o, readTypes(o)))
        }
        i += 1
      }
      out
    }
  }

  /** The delete filter + project loop over one file's rows. `covers`
    * is forced only for a file older than some delete; `posSet` holds
    * the ordinals hidden in a pos file. */
  private def wrap(delegate: PartitionReader[InternalRow], seq: Long,
      covers: => Array[MorDeleteSet.Covers], rowIdxSlot: Int,
      posSet: graft.sources.DeleteVectors.Ordinals,
      project: InternalRow => InternalRow): PartitionReader[InternalRow] = {
    val sets = if (seq >= coverCeiling) null else covers
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (delegate.next()) {
          val row = delegate.get()
          var deleted = rowIdxSlot >= 0 && !posSet.isEmpty &&
            posSet.contains(row.getLong(rowIdxSlot))
          if (sets != null) {
            var i = 0
            while (!deleted && i < dels.length) {
              deleted = dels(i).hides(row, sets(i), seq)
              i += 1
            }
          }
          if (!deleted) { current = project(row); return true }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = delegate.close()
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    // resolved at most ONCE per task — inline covers are already in
    // hand; lazy ones load through the executor-wide cache
    lazy val covers = dels.map(_.covers)
    partition match {
      case MorPartition(fp, seqs) =>
        val factory = plainFactory.getOrElse(throw new IllegalStateException(
          "plain partition for a MOR scan with no plain files"))
        val project = projector(-1, null)
        // rename composition: fold the physical row to the readSchema
        // shape (per-column coalesce over current + prior spellings)
        // BEFORE the delete filter — key ordinals bind to readSchema
        def open(i: Int): PartitionReader[InternalRow] = {
          val raw = factory.createReader(
            org.apache.spark.sql.execution.datasources.FilePartition(fp.index,
              Array(fp.files(i))))
          val delegate = coalesceExprs match {
            case None => raw
            case Some(exprs) => GraftScans.projectingReader(raw, exprs)
          }
          wrap(delegate, seqs(i), covers, rowIdxSlot = -1,
            graft.sources.DeleteVectors.Ordinals.empty, project)
        }
        new PartitionReader[InternalRow] {
          private var i = -1
          private var cur: PartitionReader[InternalRow] = _
          override def next(): Boolean = {
            while (cur == null || !cur.next()) {
              if (cur != null) { cur.close(); cur = null }
              i += 1
              if (i >= fp.files.length) return false
              cur = open(i)
            }
            true
          }
          override def get(): InternalRow = cur.get()
          override def close(): Unit = if (cur != null) cur.close()
        }
      case PosMorPartition(p, seq, file, posFiles) =>
        val raw = posFactory.getOrElse(throw new IllegalStateException(
          "pos partition for a MOR scan with no pos files")).createReader(p)
        val delegate = posCoalesceExprs match {
          case None => raw
          case Some(exprs) => GraftScans.projectingReader(raw, exprs)
        }
        val posSet: graft.sources.DeleteVectors.Ordinals =
          if (posFiles.isEmpty) graft.sources.DeleteVectors.Ordinals.empty
          else graft.sources.DeleteVectors.load(posFiles)
            .getOrElse(file, graft.sources.DeleteVectors.Ordinals.empty)
        wrap(delegate, seq, covers, rowIdxSlot = readLen, posSet,
          projector(readLen, org.apache.spark.unsafe.types.UTF8String.fromString(file)))
      case other => throw new IllegalStateException(s"unexpected partition $other")
    }
  }
}
