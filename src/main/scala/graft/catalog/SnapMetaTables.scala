package graft.catalog

import graft.sources.Snapshots
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Iceberg-style METADATA TABLES for the snapshot catalog: appending a
  * reserved suffix to a table name queries the table's own metadata
  * as SQL —
  *
  * {{{
  *   SELECT * FROM snap.default.t.history   -- version, committed_at, n_files, n_deletes
  *   SELECT * FROM snap.default.t.files     -- version-pinned data file inventory
  *   SELECT * FROM snap.default.t.deletes   -- pending merge-on-read delete files
  *   SELECT * FROM snap.default.t.tags      -- named refs → versions
  *   SELECT * FROM snap.default.t.branches  -- branch refs → (fork, head)
  *   -- plus the reserved suffixes routed elsewhere:
  *   --   t.changes         the STREAMING change feed ([[SnapChanges]])
  *   --   t.branch_<name>   branch suffix table ([[GraftBranchTable]])
  * }}}
  *
  * Spark parses `snap.default.t.history` as namespace
  * `[default, t]` + name `history`; [[GraftCatalog.loadTable]] routes
  * the reserved names here when the parent table exists. Each table is
  * a [[LocalScan]]: the rows ARE the store's metadata — a few manifest
  * and tag files — so they materialize driver-side in one pass with
  * zero executor work, exactly proportional to the table's commit
  * count, never its data size. That is the same shape Iceberg's
  * metadata tables have (manifests in, rows out); at 100 TB the
  * manifest set is kilobytes while the data is not, which is the whole
  * point of asking the metadata instead of the data. */
private[catalog] object SnapMetaTables {

  // "changes" routes to [[SnapChanges]] (the streaming change feed) —
  // listed here so name reservation and loadTable routing share the set
  val names: Set[String] =
    Set("history", "files", "deletes", "tags", "branches", "changes")

  def apply(fullName: String, root: String, kind: String): Table =
    new MetaTable(fullName, root, kind)

  private val schemas: Map[String, StructType] = Map(
    "history" -> StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("committed_at", TimestampType, nullable = true),
      StructField("n_files", IntegerType, nullable = false),
      StructField("n_deletes", IntegerType, nullable = false))),
    "files" -> StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("seq", LongType, nullable = false),
      StructField("size_bytes", LongType, nullable = true))),
    "deletes" -> StructType(Seq(
      StructField("key_col", StringType, nullable = false),
      StructField("path", StringType, nullable = false),
      StructField("covers_below", LongType, nullable = false))),
    "tags" -> StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("version", LongType, nullable = false))),
    "branches" -> StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("fork_version", LongType, nullable = false),
      StructField("head_version", LongType, nullable = false))))

  private class MetaTable(fullName: String, root: String, kind: String)
    extends Table with SupportsRead {

    override def name(): String = fullName
    override def schema(): StructType = schemas(kind)
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)

    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      () => new LocalScan {
        override def readSchema(): StructType = schemas(kind)
        override def description(): String = s"graft metadata table $fullName"
        override def rows(): Array[InternalRow] = buildRows(root, kind)
      }
  }

  private def buildRows(root: String, kind: String): Array[InternalRow] = kind match {
    case "history" =>
      Snapshots.retainedVersions(root).map { v =>
        val s = Snapshots.resolveAt(root, v)
        InternalRow(v, s.ts, s.files.size, s.deletes.size)
      }.toArray
    case "files" =>
      val s = headOf(root)
      s.files.map { f =>
        val size = try Long.box(Files.size(Paths.get(f))) catch { case _: Exception => null }
        InternalRow(UTF8String.fromString(f),
          s.seqOf(f), size)
      }.toArray
    case "deletes" =>
      headOf(root).deletes.map(d => InternalRow(UTF8String.fromString(d.keyCol),
        UTF8String.fromString(d.path), d.coversBelow)).toArray
    case "branches" =>
      Snapshots.listBranches(root).map { case (n, fork, head) =>
        InternalRow(UTF8String.fromString(n), fork, head)
      }.toArray
    case "tags" =>
      val cd = Paths.get(root, "_commits")
      if (!Files.isDirectory(cd)) Array.empty
      else {
        val ls = Files.list(cd)
        try ls.iterator().asScala
          .map(_.getFileName.toString)
          .filter(_.endsWith(".tag"))
          .map(_.stripSuffix(".tag"))
          .toSeq.sorted
          .flatMap(n => Snapshots.tagVersion(root, n)
            .map(v => InternalRow(UTF8String.fromString(n), v)))
          .toArray
        finally ls.close()
      }
  }

  private def headOf(root: String): Snapshots.Snapshot =
    Snapshots.resolve(root).getOrElse(Snapshots.Snapshot(0L, Nil))
}
