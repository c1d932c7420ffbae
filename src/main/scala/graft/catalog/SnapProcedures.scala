package graft.catalog

import graft.sources.Snapshots
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** SQL-first MAINTENANCE surface: the snapshot store's maintenance
  * operations exposed as DataSourceV2 stored procedures (Spark 4's
  * `ProcedureCatalog` — the Iceberg `CALL catalog.system.…` shape), so
  * the operational story is SQL like everything else:
  *
  * {{{
  *   CALL snap.system.compact('default.t')          -- bin-pack full rewrite,
  *                                                  -- absorbs pending MOR deletes
  *   CALL snap.system.compact_deletes('default.t')  -- merge delete files only
  *   CALL snap.system.vacuum('default.t', 4)        -- expire old versions
  * }}}
  *
  * `compact` reads the CURRENT table through the catalog scan (so
  * renames, widenings, and pending merge-on-read deletes all resolve),
  * bin-packs to ~128 MB target files, and publishes ONE atomic
  * rewrite commit stamped `#rowsunchanged` ([[Snapshots
  * .commitCompaction]]'s marker through [[Snapshots
  * .commitRewriteStaged]]) — change feeds stay O(delta) across it and
  * streams pass over it. The rewrite is guarded by `basedOn`: a
  * concurrent commit between planning and publish aborts with the
  * serializable-rewrite error instead of losing it. After the commit
  * the rename/tombstone ledgers are cleared under the meta lock when
  * unchanged since planning (same rule as the COW row-level writer) —
  * every surviving row re-materialized under current names.
  *
  * Each call returns a one-row report (versions, file/delete counts)
  * as a driver-local scan — metadata-sized, never data. */
private[catalog] object SnapProcedures {

  val Namespace: Array[String] = Array("system")

  def list(): Array[Identifier] =
    Array("analyze", "compact", "compact_deletes", "create_branch",
        "drop_branch", "fast_forward", "remove_orphan_files", "vacuum")
      .map(Identifier.of(Namespace, _))

  def load(cat: GraftCatalog, ident: Identifier): UnboundProcedure = {
    require(ident.namespace().sameElements(Namespace),
      s"unknown procedure namespace ${ident.namespace().mkString(".")}")
    ident.name() match {
      case "analyze" => new AnalyzeProcedure(cat)
      case "compact" => new CompactProcedure(cat)
      case "compact_deletes" => new CompactDeletesProcedure(cat)
      case "create_branch" => new CreateBranchProcedure(cat)
      case "drop_branch" => new DropBranchProcedure(cat)
      case "fast_forward" => new FastForwardProcedure(cat)
      case "vacuum" => new VacuumProcedure(cat)
      case "remove_orphan_files" => new RemoveOrphanFilesProcedure(cat)
      case other => throw new UnsupportedOperationException(
        s"unknown procedure: ${cat.name()}.system.$other " +
          "(available: analyze, compact, compact_deletes, create_branch, " +
          "drop_branch, fast_forward, remove_orphan_files, vacuum)")
    }
  }

  /** `'default.t'` (or `'t'`, default namespace) → catalog identifier.
    * Each part must be path-safe ([[GraftCatalog.requirePathSafe]] —
    * the one shared rule for every warehouse path join): a separator
    * or `..` segment in a CALL argument would resolve OUTSIDE the
    * warehouse, and vacuum/compact act destructively on whatever
    * snapshot-shaped directory the path lands on. Reject at parse
    * time. */
  private def identOf(table: String): Identifier = {
    val parts = table.split('.')
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"bad table argument: '$table'")
    GraftCatalog.requirePathSafe(parts.toSeq, s"table argument '$table'")
    if (parts.length == 1) Identifier.of(Array("default"), parts.head)
    else Identifier.of(parts.init, parts.last)
  }

  private def row(vals: Any*): InternalRow = new GenericInternalRow(vals.toArray)

  private def report(schema: StructType, r: InternalRow): java.util.Iterator[Scan] = {
    val scan: Scan = new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] = Array(r)
      override def description(): String = "graft maintenance report"
    }
    java.util.List.of(scan).iterator()
  }

  private abstract class OneTableProc(cat: GraftCatalog, procName: String)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    protected def rootOf(table: String): String = cat.tableRoot(identOf(table))
    protected def qualified(table: String): String = {
      val i = identOf(table)
      (cat.name() +: i.namespace().toSeq :+ i.name())
        .map(p => s"`$p`").mkString(".")
    }
  }

  private final class AnalyzeProcedure(cat: GraftCatalog)
    extends OneTableProc(cat, "analyze") {

    override def description(): String =
      "compute per-column distinct counts (one distributed pass) and " +
        "record them in the table's NDV ledger; the scan's reported " +
        "column statistics feed them to the cost-based optimizer " +
        "(the ANALYZE TABLE ... FOR ALL COLUMNS equivalent)"

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table name, e.g. 'default.t'").build())

    private val outSchema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("row_count", LongType, nullable = false),
      StructField("columns_analyzed", IntegerType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      import org.apache.spark.sql.functions.{approx_count_distinct, count, lit}
      import org.apache.spark.sql.types._
      val table = input.getUTF8String(0).toString
      val root = rootOf(table)
      val spark = SparkSession.active
      val df = spark.table(qualified(table))
      // atomic columns only: NDV over a map/array/struct has no CBO
      // consumer, and approx_count_distinct rejects maps outright
      val cols = df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[NumericType] ||
          f.dataType == StringType || f.dataType == DateType ||
          f.dataType == TimestampType || f.dataType == BooleanType => f.name
      }.toSeq
      val r = df.agg(count(lit(1)).as("_n"),
        cols.map(c => approx_count_distinct(org.apache.spark.sql.functions.col(c))
          .as(s"_ndv_$c")): _*).head()
      val rows = r.getLong(0)
      val version = Snapshots.maxCommitted(root)
      GraftTable.withMetaLock(root) {
        val (sc, props) = GraftTable.declaredMeta(root)
        val cleared = props.filterNot(_._1.startsWith(GraftTable.ndvPrefix))
        val entries = cols.zipWithIndex.map { case (c, i) =>
          s"${GraftTable.ndvPrefix}$c" -> r.getLong(i + 1).toString
        }.toMap
        GraftTable.writeMeta(root, sc, cleared ++ entries +
          (GraftTable.statsRowsProp -> rows.toString) +
          (GraftTable.statsVersionProp -> version.toString))
      }
      report(outSchema, row(version, rows, cols.size))
    }
  }

  private final class CompactProcedure(cat: GraftCatalog)
    extends OneTableProc(cat, "compact") {

    override def description(): String =
      "bin-pack full rewrite of a snapshot table; absorbs pending " +
        "merge-on-read deletes; commits atomically with the " +
        "rows-unchanged marker; optional z-order clustering"

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table name, e.g. 'default.t'").build(),
      ProcedureParameter.in("zorder", StringType).defaultValue("''")
        .comment("optional comma-joined columns to z-order cluster " +
          "(Morton-interleaved range partitioning)").build())

    private val outSchema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("files_before", IntegerType, nullable = false),
      StructField("files_after", IntegerType, nullable = false),
      StructField("deletes_absorbed", IntegerType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val zcols =
        if (input.numFields < 2 || input.isNullAt(1)) Nil
        else input.getUTF8String(1).toString.split(',')
          .map(_.trim).filter(_.nonEmpty).toSeq
      val root = rootOf(table)
      val spark = SparkSession.active
      val before = Snapshots.resolve(root).getOrElse(
        throw new IllegalStateException(s"no committed snapshot under $root"))
      val propsAtPlan = GraftTable.declaredMeta(root)._2
      // through the CATALOG scan: renames coalesce, deletes apply,
      // widened columns present at declared width
      val df = spark.table(qualified(table))
      val bytes = before.files.map { f =>
        try Files.size(Paths.get(f)) catch { case _: Exception => 0L }
      }.sum
      val targetFileBytes = 128L * 1024 * 1024
      val parts = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      val stage = Snapshots.newStagingDir(root)
      Files.createDirectories(Paths.get(stage))
      // z-order clustering: one range exchange on the Morton key, so
      // the rewritten files carry tight multi-dim bounds for the stats
      // index to skip on (the OPTIMIZE ZORDER BY shape). Values are
      // MIN/MAX-NORMALIZED into the 16-bit domain interleave_bits
      // consumes (it masks to the low 16 bits — raw keys in the
      // millions would cluster modulo 65536, silently meaningless);
      // one column degenerates to plain range clustering.
      val arranged =
        if (zcols.isEmpty) df.repartition(parts)
        else {
          import org.apache.spark.sql.functions.{col, expr, max, min}
          import org.apache.spark.sql.types.NumericType
          require(zcols.size <= 2,
            s"zorder supports 1 or 2 columns, got ${zcols.size} " +
              s"(${zcols.mkString(",")})")
          zcols.foreach { c =>
            require(df.columns.contains(c), s"no column '$c' to zorder by")
            require(df.schema(c).dataType.isInstanceOf[NumericType],
              s"zorder column '$c' must be numeric, is " +
                df.schema(c).dataType.simpleString)
          }
          val zc = "__graft_zorder_key"
          require(!df.columns.contains(zc),
            s"table carries a column named '$zc' — rename it to zorder")
          if (zcols.size == 1)
            df.repartitionByRange(parts, col(zcols.head))
              .sortWithinPartitions(zcols.head)
          else {
            graft.functions.BitExprs.register(spark)
            val bounds = df.agg(
              min(col(zcols(0))).cast("double"), max(col(zcols(0))).cast("double"),
              min(col(zcols(1))).cast("double"), max(col(zcols(1))).cast("double"))
              .head()
            def scaled(i: Int, lo: Int): String =
              if (bounds.isNullAt(lo) || bounds.isNullAt(lo + 1)) "0L" // all-null column
              else {
                val (mn, mx) = (bounds.getDouble(lo), bounds.getDouble(lo + 1))
                val span = mx - mn
                // non-finite bounds (a NaN or ±Infinity value in the
                // column) would render unparseable literals like 'NaN'
                // into the expression AND NaN fails the span<=0 guard —
                // degenerate to the all-null path (plain clustering on
                // the other key still happens)
                if (!java.lang.Double.isFinite(mn) ||
                    !java.lang.Double.isFinite(mx) ||
                    !java.lang.Double.isFinite(span) || span <= 0) "0L"
                else s"CAST((COALESCE(CAST(${zcols(i)} AS DOUBLE), $mn) - $mn) " +
                  s"* 65535.0 / $span AS BIGINT)"
              }
            df.withColumn(zc,
                expr(s"interleave_bits(${scaled(0, 0)}, ${scaled(1, 2)})"))
              .repartitionByRange(parts, col(zc))
              .sortWithinPartitions(zc).drop(zc)
          }
        }
      // a PARTITIONED table's rewrite must keep the col=value layout;
      // a BUCKET table's must re-derive the synthetic _gbucket segment
      // (same murmur3-seed-42 function as every other write path) and
      // a TRANSFORM table's the _gtpart ordinal segment — or compaction
      // would silently flatten the layout, breaking SPJ/ordinal pruning
      val partCols = GraftTable.partColsOf(propsAtPlan)
      val bucketSpec = SnapBucket.of(propsAtPlan)
      val transSpec = SnapTransform.of(propsAtPlan)
      // remapped (re-added) columns keep their physical spelling
      // through compaction
      val arranged2 = GraftTable.toPhysical(arranged,
        GraftTable.physOf(propsAtPlan))
      val writer = (bucketSpec, transSpec) match {
        case (Some((c, n)), _) => SnapBucket.stageBucketed(arranged2, c, n)
        case (None, Some(t)) => SnapTransform.stageTransformed(
          arranged2, t, arranged2.schema(t.col).dataType, partCols)
        case (None, None) if partCols.isEmpty => arranged2.write
        case (None, None) => arranged2.write.partitionBy(partCols: _*)
      }
      writer.mode("append").parquet(stage)
      val staged = {
        val walk = Files.walk(Paths.get(stage))
        try walk.iterator().asScala.map(_.toString)
          .filter(f => f.endsWith(".parquet") && !f.contains("/."))
          .toList.sorted
        finally walk.close()
      }
      val v = Snapshots.commitRewriteStaged(root, staged,
        allowEmpty = true, basedOn = Some(before.version),
        rowsUnchanged = true)
      // the rewrite re-materialized every row under CURRENT names —
      // clear the rename/tombstone ledgers when nothing changed since
      // planning (the COW row-level writer's rule)
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
      report(outSchema, row(v, before.files.size, staged.size,
        before.deletes.size))
    }
  }

  private final class CompactDeletesProcedure(cat: GraftCatalog)
    extends OneTableProc(cat, "compact_deletes") {

    override def description(): String =
      "merge scope-equivalent pending merge-on-read delete files; " +
        "touches no data files"

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table name, e.g. 'default.t'").build())

    private val outSchema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("deletes_before", IntegerType, nullable = false),
      StructField("deletes_after", IntegerType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val root = rootOf(table)
      val before = Snapshots.resolve(root).map(_.deletes.size).getOrElse(0)
      val v = Snapshots.compactDeletes(SparkSession.active, root)
      val after = Snapshots.resolve(root).map(_.deletes.size).getOrElse(0)
      report(outSchema, row(v, before, after))
    }
  }

  /** The branch-based WAP, SQL-first:
    * `CALL snap.system.create_branch('default.t', 'audit')`, write to
    * the branch via the direct API (or audit its head via
    * `VERSION AS OF 'audit'` — [[GraftCatalog.loadTable]] resolves
    * branch names after tags), then `fast_forward` to publish or
    * `drop_branch` to abandon. */
  private final class CreateBranchProcedure(cat: GraftCatalog)
    extends OneTableProc(cat, "create_branch") {

    override def description(): String =
      "create a named branch at the table's current head — a " +
        "speculative continuation of the commit log for " +
        "write-audit-publish (fast_forward publishes, drop_branch " +
        "abandons)"

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table name, e.g. 'default.t'").build(),
      ProcedureParameter.in("name", StringType)
        .comment("branch name ([A-Za-z0-9_-]+, at least one non-digit)").build())

    private val outSchema = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("fork_version", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      val fork = Snapshots.createBranch(rootOf(table), name)
      report(outSchema, row(
        org.apache.spark.unsafe.types.UTF8String.fromString(name), fork))
    }
  }

  private final class FastForwardProcedure(cat: GraftCatalog)
    extends OneTableProc(cat, "fast_forward") {

    override def description(): String =
      "publish a branch's commits into the main log (Iceberg's " +
        "fastForwardBranch): ONE atomic squash-manifest link — " +
        "all-or-nothing; refuses when main advanced past the fork"

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table name, e.g. 'default.t'").build(),
      ProcedureParameter.in("name", StringType)
        .comment("branch name").build())

    private val outSchema = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("head", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      val head = Snapshots.fastForward(rootOf(table), name)
      report(outSchema, row(
        org.apache.spark.unsafe.types.UTF8String.fromString(name), head))
    }
  }

  private final class DropBranchProcedure(cat: GraftCatalog)
    extends OneTableProc(cat, "drop_branch") {

    override def description(): String =
      "drop a branch: the ref and its unpublished manifests go; " +
        "staged files become unreferenced and age out under the " +
        "normal sweeps"

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table name, e.g. 'default.t'").build(),
      ProcedureParameter.in("name", StringType)
        .comment("branch name").build())

    private val outSchema = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("existed", BooleanType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      val root = rootOf(table)
      val existed = Snapshots.branchFork(root, name).isDefined
      Snapshots.dropBranch(root, name)
      report(outSchema, row(
        org.apache.spark.unsafe.types.UTF8String.fromString(name), existed))
    }
  }

  private final class VacuumProcedure(cat: GraftCatalog)
    extends OneTableProc(cat, "vacuum") {

    override def description(): String =
      "expire versions below the retention floor and reclaim " +
        "unreferenced data files (time-travel retention contract)"

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table name, e.g. 'default.t'").build(),
      ProcedureParameter.in("keep_last", IntegerType)
        .comment("number of trailing versions to retain (>= 1)").build())

    private val outSchema = StructType(Seq(
      StructField("head", LongType, nullable = false),
      StructField("oldest_retained", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val keepLast = input.getInt(1)
      val root = rootOf(table)
      Snapshots.vacuum(root, keepLast)
      report(outSchema,
        row(Snapshots.maxCommitted(root), Snapshots.minCommitted(root)))
    }
  }

  private final class RemoveOrphanFilesProcedure(cat: GraftCatalog)
    extends OneTableProc(cat, "remove_orphan_files") {

    override def description(): String =
      "reclaim data files no retained snapshot references (task-retry " +
        "and crashed-writer strays inside the retained version range); " +
        "only files quiet for older_than_hours are touched"

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table name, e.g. 'default.t'").build(),
      ProcedureParameter.in("older_than_hours", IntegerType)
        .comment("only reclaim files untouched for this many hours " +
          "(>= 24; the in-flight-commit guard — Iceberg defaults this " +
          "to 3 days; the window must exceed the longest plausible " +
          "stall between a writer staging files and publishing its " +
          "manifest)").build())

    private val outSchema = StructType(Seq(
      StructField("orphans_removed", LongType, nullable = false),
      StructField("bytes_reclaimed", LongType, nullable = false),
      StructField("head", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val hours = input.getInt(1)
      // a short grace window would make the quiet guard — the ONLY
      // protection against sweeping a commit that staged its files but
      // has not yet published its manifest — vacuous: a writer stalled
      // longer than the window between staging and publish would lose
      // its files and later commit a manifest referencing deleted
      // paths. Iceberg defaults this guard to 3 DAYS; a day is the
      // floor here (no legitimate sweep needs less — orphans are
      // reclaimed eventually, data loss is forever)
      require(hours >= 24, s"older_than_hours must be >= 24 (got $hours): " +
        "the quiet window is the only in-flight-commit guard and must " +
        "exceed the longest plausible write stall")
      val root = rootOf(table)
      val (removed, bytes) =
        Snapshots.removeOrphanFiles(root, hours.toLong * 3600 * 1000)
      report(outSchema, row(removed, bytes, Snapshots.maxCommitted(root)))
    }
  }
}
