package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Minimal snapshot-commit protocol for table maintenance — the atomic
  * half of the OPTIMIZE story ([[graft.operators.WarehouseOps]]).
  *
  * `layout_compact` / `sink_parquet_zordered` rewrite a table directory
  * with `mode("overwrite")`; at 100 TB with concurrent readers, a reader
  * that lists files mid-rewrite sees partial state. The fix (the
  * Delta/Iceberg answer) is a versioned-manifest commit: write new files
  * BESIDE the old ones, publish them with one atomic metadata operation,
  * and let readers pin a snapshot.
  *
  * Layout under a table root:
  * {{{
  *   root/v00000001_<writer>/part-*.parquet   immutable once committed
  *   root/v00000002_<writer>/part-*.parquet   (dir unique per writer
  *                                             ATTEMPT — racing writers
  *                                             can never touch each
  *                                             other's staged files)
  *   root/_commits/00000001.manifest    one line per committed data file,
  *   root/_commits/00000002.manifest    plus `#` headers ([[Manifest]])
  * }}}
  *
  * The COMMIT POINT is an atomic CREATE-IF-ABSENT of
  * `_commits/%08d.manifest`: data files are fully written and
  * fsync-closed before the manifest appears, are never mutated after, and
  * the resolved head is simply the highest committed manifest — so the
  * head "pointer" advances atomically with the manifest's appearance.
  * Locally the primitive is a hard-link create (`Files.createLink`),
  * which atomically fails with EEXIST when the target exists — NOT a
  * rename: POSIX rename(2) silently replaces an existing target, so a
  * racing loser would overwrite the winner's manifest (a lost commit;
  * caught by the racing-writers spec). Two writers racing the same
  * version collide on the exclusive create; the loser discards its own
  * staged dir and retries at the next version (optimistic concurrency,
  * exactly Delta's `_delta_log/N.json` protocol). A reader concurrently
  * resolving sees the old head or the new head, never a mix, and because
  * it reads the manifest's explicit file list — never a directory glob —
  * a half-written staging dir is invisible to it.
  *
  * Scale note: on HDFS the primitive is create(path, overwrite=false)
  * (atomic at the namenode); on S3 it is a conditional PUT
  * (If-None-Match) of the manifest object. The protocol needs exactly
  * one primitive — atomic create-if-absent of a small metadata file —
  * which every production store offers; the 100 TB of data files move
  * zero times at commit. Local java.nio is the test-scale binding.
  */
object Snapshots {

  /** A pending MERGE-ON-READ delete file: `path`'s parquet holds the
    * deleted values of `keyCol` — a single column name, or a
    * COMMA-JOINED composite key (`"l_orderkey,l_linenumber"` for a
    * table with no single-column key; [[keyCols]] splits it) whose
    * file carries one column per component. The delete COVERS only
    * base files staged at a version < `coversBelow` (the version the
    * delete committed at) — files appended later are NOT covered, so a
    * deleted key can be legitimately re-inserted by a later append or
    * upsert. This is the sequence-number scoping Iceberg v2 gives its
    * equality deletes. */
  final case class DeleteFile(keyCol: String, path: String, coversBelow: Long) {
    def keyCols: Seq[String] = keyCol.split(',').toSeq
  }

  /** A resolved table version: the immutable file set of one commit,
    * plus any pending merge-on-read delete files ([[commitDelete]],
    * [[commitStagedDelta]]). `fileSeq` maps CROSS-ROOT files (published by
    * reference from another root, [[publishFrom]]) to their EFFECTIVE
    * sequence number in THIS root — the version the publish committed
    * at. A published file's own `v########` path segment carries the
    * *staging* root's counter, which is meaningless against this
    * root's delete scoping; the manifest-recorded seq is what
    * [[DeleteFile.coversBelow]] compares against (Iceberg's
    * data-sequence-number rule, applied cross-root). Files absent from
    * the map use their path-parsed version as before. `statsRaw` maps
    * a data file to its `#stats:` header's JSON body (per-file column
    * bounds recorded at commit time — [[readStatsPruned]] parses them
    * on demand; files without recorded stats are never pruned). */
  final case class Snapshot(version: Long, files: Seq[String],
      deletes: Seq[DeleteFile] = Nil,
      fileSeq: Map[String, Long] = Map.empty,
      statsRaw: Map[String, String] = Map.empty,
      blooms: Map[String, Seq[String]] = Map.empty,
      // pending POSITION deletes: data file -> the `.dv` deletion
      // vectors hiding rows of it (`#posdel:` lines). Scope is
      // FILE IDENTITY, not a version number: a position names a row of
      // one immutable file, so rewrites absorb posdels naturally (the
      // file leaves the table) and re-inserts can never collide
      posDeletes: Map[String, Seq[String]] = Map.empty,
      // MATERIALIZED row-level effects of THIS commit (`#changes:`
      // lines, r20): parquet files holding the rewrite's row diff
      // (data columns + _change_type) — written by a row-changing
      // rewrite on a `graft.changes.rewriteDiff` table so the
      // streaming change feed serves O(touched) effects across it
      // instead of refusing. Not part of the table's data; referenced
      // for retention like delete sidecars
      changeFiles: Seq[String] = Nil,
      // commit timestamp, µs since epoch UTC (`#ts:`) — strictly
      // monotonic per log; 0 until the commit funnel stamps it
      ts: Long = 0L,
      // (appId, epoch) of an idempotent append ([[commitAppendTxn]])
      txn: Option[(String, Long)] = None,
      // the writer's ROWS-UNCHANGED declaration (Delta's
      // `dataChange=false`): this commit relocated bytes without
      // changing the logical row set (compaction, z-order, delete-file
      // merge), so change feeds pass over it. Trusted, like Delta —
      // stamping it on a row-changing commit is a writer bug
      rowsUnchanged: Boolean = false) {

    /** A file's effective sequence number: its `fileSeq` pin, else the
      * version its dir was staged at — what [[DeleteFile.coversBelow]]
      * is compared against. */
    def seqOf(file: String): Long = fileSeq.getOrElse(file, fileVersion(file))
  }

  private def commitsDir(root: String): Path = Paths.get(root, "_commits")

  private def manifestPath(root: String, v: Long): Path =
    commitsDir(root).resolve(f"$v%08d.manifest")

  /** Data dirs are WRITER-UNIQUE: `v<version>_<pid>_<seq>`. Two writers
    * racing the same version stage into different dirs, so neither can
    * ever list, append into, or delete the other's in-flight files —
    * the loser of the manifest race discards only its OWN dir. (Delta
    * gets the same property from UUID part-file names inside a shared
    * dir; per-attempt dirs are the same idea one level up.) */
  private[graft] def versionPrefix(v: Long): String = f"v$v%08d_"

  private val stageSeq = new java.util.concurrent.atomic.AtomicLong()

  private def newDataDir(root: String, v: Long): String =
    s"$root/${versionPrefix(v)}${ProcessHandle.current().pid()}_${stageSeq.incrementAndGet()}"

  private val dirVersionRe = """v(\d{8})_.*""".r

  /** All data dirs under the root staged at a version < `below` —
    * committed, expired, or orphaned by a crashed writer. */
  private def dataDirsBelow(root: String, below: Long): Seq[Path] = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) Nil
    else {
      val ls = Files.list(r)
      try ls.iterator().asScala.filter(Files.isDirectory(_)).filter { p =>
        p.getFileName.toString match {
          case dirVersionRe(v) => v.toLong < below
          case _               => false
        }
      }.toSeq
      finally ls.close()
    }
  }

  /** Highest committed version (0 = nothing committed yet). Scans the
    * manifest names only — a few hundred bytes of listing even after
    * thousands of commits, independent of data size. */
  def maxCommitted(root: String): Long = {
    val cd = commitsDir(root)
    if (!Files.isDirectory(cd)) 0L
    else {
      val ls = Files.list(cd)
      try ls.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.endsWith(".manifest") =>
          s.stripSuffix(".manifest").toLong }
        .foldLeft(0L)(math.max)
      finally ls.close()
    }
  }

  /** True iff `version` is committed AND retained (its manifest still
    * exists) — one metadata existence check. */
  def committed(root: String, version: Long): Boolean =
    version >= 1 && Files.exists(manifestPath(root, version))

  /** Oldest RETAINED committed version (0 = nothing committed).
    * [[vacuum]] expires manifests as a PREFIX of history, so the
    * retained set is always the contiguous suffix
    * [minCommitted, maxCommitted] — the streaming source leans on this
    * to know every per-version delta inside that range is resolvable. */
  def minCommitted(root: String): Long = {
    val cd = commitsDir(root)
    if (!Files.isDirectory(cd)) 0L
    else {
      val ls = Files.list(cd)
      val min =
        try ls.iterator().asScala
          .map(_.getFileName.toString)
          .collect { case s if s.endsWith(".manifest") =>
            s.stripSuffix(".manifest").toLong }
          .foldLeft(Long.MaxValue)(math.min)
        finally ls.close()
      if (min == Long.MaxValue) 0L else min
    }
  }

  /** The retained versions [[minCommitted]] to [[maxCommitted]], oldest
    * first; empty when nothing is committed. */
  def retainedVersions(root: String): Seq[Long] =
    math.max(minCommitted(root), 1L) to maxCommitted(root)

  /** Resolve the current head to its pinned file list, or None if no
    * commit has ever succeeded. The returned snapshot stays readable
    * even if later commits land (files are immutable; only [[vacuum]]
    * reclaims them). */
  def resolve(root: String): Option[Snapshot] = {
    val v = maxCommitted(root)
    if (v == 0L) None
    else Some(resolveAt(root, v))
  }

  /** Resolve a SPECIFIC committed version — time travel. Fails with a
    * clear retention error if the version was never committed or its
    * manifest has been [[vacuum]]ed (Delta's `VERSION AS OF` contract:
    * history is readable exactly as far back as retention keeps it). */
  def resolveAt(root: String, version: Long): Snapshot = {
    val m = manifestPath(root, version)
    if (!Files.exists(m)) throw new IllegalStateException(
      s"version $version of $root is not committed or is beyond retention")
    Manifest.read(m, version)
  }

  // --- per-file BLOOM FILTERS (point-lookup file skipping) ---------------
  //
  // Min/max bounds skip nothing on a high-cardinality key whose values
  // interleave across files (every file spans the whole domain). The
  // Hudi-bloom-index answer: an opt-in per-file Bloom filter over the
  // key's 64-bit hashes, written as a SIDECAR beside the data file
  // (`<file>.bloom-<col>`) and referenced by a manifest bloom line
  // ([[Manifest]]), so the catalog scan can refute `key = <literal>`
  // per file from a soft-cached ~90 KB sketch — no footer, no data
  // I/O. Opt-in via TBLPROPERTIES ('graft.bloom.cols'='k[,c2…]');
  // sizing via 'graft.bloom.items' (default 100k) / 'graft.bloom.fpp'
  // (default 0.03). Hashes are Spark's XxHash64 of the column value
  // (integral widths hash identically, so the sketch survives a later
  // int→bigint widening); membership bits OR-merge, so the sketch is
  // independent of row order — deterministic. The computation is ONE
  // distributed pass over the NEWLY STAGED files only; sidecars live
  // inside the staging dir, so vacuum reclaims them with their
  // version. Pruning is I/O optimization, never correctness: files
  // without a sketch are always kept, and Spark re-applies every
  // predicate above the scan.

  /** Sidecar path convention for a data file's per-column sketch. */
  def bloomSidecar(dataFile: String, col: String): String =
    s"$dataFile.bloom-$col"

  /** The bloom column list a root opted into (empty = feature off). */
  private def bloomColsOf(props: Map[String, String]): Seq[String] =
    // ':' delimits the bloom manifest line's col↔file split
    // ([[Manifest]]), so a column named with one would corrupt it on
    // read — the catalog refuses such properties and this reader
    // drops them defensively for direct-API writers
    props.get("graft.bloom.cols").toSeq
      .flatMap(_.split(',')).map(_.trim)
      .filter(c => c.nonEmpty && !c.contains(':'))

  /** One distributed pass per opted-in column over the staged files:
    * per-file XxHash64 sketches aggregated with a Dataset
    * [[org.apache.spark.sql.expressions.Aggregator]] (OR-merge —
    * order-independent), sidecars written beside the data files, one
    * `blooms` entry each (file -> sketched columns). No active session
    * (pure file-API callers) or a column absent from the staged schema
    * → skip silently; blooms are an optimization, never load-bearing. */
  private def newBlooms(props: Map[String, String],
      staged: Seq[String]): Map[String, Seq[String]] = {
    val cols = bloomColsOf(props)
    if (cols.isEmpty || staged.isEmpty) return Map.empty
    val spark = SparkSession.getActiveSession.getOrElse(return Map.empty)
    val items = props.getOrElse("graft.bloom.items", "100000").toLong
    val fpp = props.getOrElse("graft.bloom.fpp", "0.03").toDouble
    try {
      // one write's staged files share the writer schema — the first
      // footer serves the whole read, no scheduled inference job
      val df = footerSparkSchema(staged.head) match {
        case Some(sc) => spark.read.schema(sc).parquet(staged: _*)
        case None => spark.read.parquet(staged: _*)
      }
      val present = df.columns.toSet
      val sketched = cols.filter(present).sorted.flatMap { c =>
        import org.apache.spark.sql.functions.{col, input_file_name, xxhash64}
        import org.apache.spark.sql.types._
        import spark.implicits._
        // hash at CANONICAL width (integral→long, float→double):
        // XxHash64 of an Int and a Long differ, so sketches built at
        // the narrow width would wrongly refute present keys after an
        // ALTER COLUMN widening — the read side canonicalizes the
        // literal the same way. Types with NO canonical width are not
        // sketched at all: e.g. XxHash64 hashes DECIMAL(<=18) as the
        // unscaled long but wider decimals as the unscaled byte array,
        // so a DECIMAL(18)→DECIMAL(19) widening would flip the hash
        // scheme and a pre-widening sketch would wrongly refute
        // present keys. The read side mirrors this: only
        // canonicalizable types ever refute (see the catalog scan's
        // `bloomHas`).
        val canon = df.schema.fields.find(_.name == c).map(_.dataType) match {
          case Some(ByteType | ShortType | IntegerType | LongType) =>
            Some(col(c).cast(LongType))
          case Some(FloatType | DoubleType) => Some(col(c).cast(DoubleType))
          case Some(StringType) => Some(col(c))
          case _ => None // decimal/binary/bool/… → no stable hash → no sketch
        }
        canon.toSeq.flatMap { cc =>
          val hashed = df
            .select(input_file_name().as("_f"), xxhash64(cc).as("_h"))
            .as[(String, Long)]
          val agg = new BloomAgg(items, fpp)
          // sidecars are written EXECUTOR-SIDE by the task holding each
          // file's finished sketch; only the O(files) path STRINGS
          // travel to the driver for the manifest's bloom lines. (The
          // prior shape collected the raw sketch bytes — O(new files)
          // × ~90 KB through one JVM plus serial local I/O: fine for
          // incremental commits, a killer on the initial conversion of
          // a 1M-file 100 TB table ≈ 90 GB through the driver.)
          // `suffix` is captured as a plain string (derived from the
          // one [[bloomSidecar]] definition, driver-side) so the task
          // closure serializes no module state.
          val suffix = bloomSidecar("", c)
          val paths = hashed.groupByKey(_._1).agg(agg.toColumn)
            .map { case (uri, bytes) =>
              val path = new org.apache.hadoop.fs.Path(uri).toUri.getPath
              java.nio.file.Files.write(
                java.nio.file.Paths.get(path + suffix), bytes)
              path
            }.collect()
          paths.toSeq.map(_ -> c)
        }
      }
      sketched.groupMap(_._1)(_._2).view.mapValues(_.sorted: Seq[String]).toMap
    } catch { case _: Exception => Map.empty }
  }

  /** Per-file Bloom aggregation buffer: Spark's mergeable
    * [[org.apache.spark.util.sketch.BloomFilter]] over the column's
    * XxHash64 values. */
  private class BloomAgg(items: Long, fpp: Double)
    extends org.apache.spark.sql.expressions.Aggregator[
      (String, Long), org.apache.spark.util.sketch.BloomFilter, Array[Byte]] {
    override def zero: org.apache.spark.util.sketch.BloomFilter =
      org.apache.spark.util.sketch.BloomFilter.create(items, fpp)
    override def reduce(b: org.apache.spark.util.sketch.BloomFilter,
        a: (String, Long)): org.apache.spark.util.sketch.BloomFilter = {
      b.putLong(a._2); b
    }
    override def merge(x: org.apache.spark.util.sketch.BloomFilter,
        y: org.apache.spark.util.sketch.BloomFilter): org.apache.spark.util.sketch.BloomFilter = {
      x.mergeInPlace(y); x
    }
    override def finish(b: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      b.writeTo(bos); bos.toByteArray
    }
    override def bufferEncoder: org.apache.spark.sql.Encoder[org.apache.spark.util.sketch.BloomFilter] =
      org.apache.spark.sql.Encoders.javaSerialization[org.apache.spark.util.sketch.BloomFilter]
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  // --- per-file column statistics (file-skipping metadata) ----------------
  //
  // Every data-file-adding commit records, per staged file, the file's
  // top-level column bounds as one stats entry — JSON of the form
  // {"p":path,"rows":N,"cols":{c:{"min":v,"max":v,"nc":n}}} —
  // aggregated from the parquet footer's row-group statistics: ONE
  // small footer read per new file, of a footer the writer just wrote
  // (Delta/Iceberg record the same numbers from their writer tasks).
  // Carry-forward commits (appends, deltas, restore, delete
  // compaction) keep retained files' entries verbatim
  // ([[Manifest.retain]]); a rewrite drops replaced files' stats with
  // the files. [[readStatsPruned]]
  // uses the bounds to skip files a range predicate provably cannot
  // match — metadata-only, before any listing or footer I/O, the level
  // ABOVE parquet's own row-group zone maps.

  /** Stats JSON body for one freshly staged file: footer row-group
    * stats aggregated to file-level [min, max, nullCount] per SUPPORTED
    * top-level column (integral, floating, UTF8 string — decimals,
    * INT96, nested and annotated-exotic types are skipped, which only
    * costs pruning opportunity). Returns None (no entry, file never
    * pruned) on any read/shape trouble — stats are an optimization and
    * must never fail a commit. */
  /** One Hadoop conf for every parquet-hadoop read outside Spark's own
    * scans — footers here, delete-key files and position sidecars in the
    * MOR loaders, driver- or executor-side: `new Configuration()` costs
    * milliseconds (classpath resource scan) and those reads run per file
    * on commit and planning paths — read-only, so sharing is safe. */
  private[graft] lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** Opens a parquet file under [[hadoopConf]]. parquet-hadoop's
    * conf-less entry points (`ParquetFileReader.open(InputFile)`,
    * `ParquetReader.builder(readSupport, path)`) build a fresh
    * `Configuration` per open, which parses core-default.xml again on
    * its first read. */
  private[graft] def openParquet(path: String): org.apache.parquet.hadoop.ParquetFileReader =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), hadoopConf),
      org.apache.parquet.HadoopReadOptions.builder(hadoopConf).build())

  /** Every record of a parquet file as a parquet-hadoop example Group,
    * read through [[openParquet]]. `consumer` sees the file schema once
    * and returns the per-record callback; the file closes even when a
    * callback throws. */
  private[graft] def readGroups(path: String)(
      consumer: org.apache.parquet.schema.MessageType =>
        org.apache.parquet.example.data.Group => Unit): Unit = {
    val reader = openParquet(path)
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      val each = consumer(schema)
      val io = new org.apache.parquet.io.ColumnIOFactory().getColumnIO(schema)
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val records = io.getRecordReader(pages,
          new org.apache.parquet.example.data.simple.convert.GroupRecordConverter(schema))
        var i = 0L
        while (i < pages.getRowCount) { each(records.read()); i += 1 }
        pages = reader.readNextRowGroup()
      }
    } finally reader.close()
  }

  /** Spark schema of a SPARK-WRITTEN parquet file, read from the
    * footer's `org.apache.spark.sql.parquet.row.metadata` key on the
    * DRIVER — no scheduled inference job, no listing. Every data /
    * delete-key / sidecar file in a snap table is written by Spark, so
    * the key is always present; None (caller falls back to
    * `spark.read.parquet`) only on foreign or corrupt files. Spark's
    * own merged inference (`SchemaMergeUtils.mergeSchemasInParallel`)
    * prefers exactly this serialized schema per footer before merging,
    * so a caller that reduces these with `StructType.merge` reproduces
    * `option("mergeSchema", true)` bit-for-bit — at one local footer
    * read per file instead of a Spark job. */
  /** Optional pre-write clustering of a staged dynamic-partition write
    * (r21): REBALANCE by the partition-value columns — Iceberg's
    * `write.distribution-mode=hash`, with AQE splitting skewed values —
    * so each value writes one right-sized file instead of one file per
    * (map task × value). SCALE-DEPENDENT (see the callers' notes):
    * default OFF to keep the bench-comparable local shape; flip
    * `spark.graft.write.clusterStaged=true` (or env
    * SPARK_GRAFT_WRITE_CLUSTER=true) on real clusters, where writer
    * churn dwarfs one exchange of the staged rows. */
  private[graft] def clusterStaged(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): org.apache.spark.sql.DataFrame = {
    val on = df.sparkSession.conf.getOption("spark.graft.write.clusterStaged")
      .orElse(sys.env.get("SPARK_GRAFT_WRITE_CLUSTER"))
      .exists(_.equalsIgnoreCase("true"))
    if (on) df.hint("rebalance", cols: _*) else df
  }

  /** Footer metadata memos, keyed by path (r21): snapshot files are
    * WRITER-UNIQUE and immutable once staged (`v<version>_<pid>_<seq>`
    * data dirs — a path is written at most once per JVM) and the
    * testdata corpus is read-only for a run, so a successfully read
    * footer can never change under us. Only SUCCESSFUL reads memoize —
    * a probe racing a file's creation must observe the later success.
    * Schemas and row counts only, never data or results. */
  private val footerSchemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()
  private val footerRowsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private[graft] def footerSparkSchema(path: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    Option(footerSchemaMemo.get(path)).orElse {
      val read = try {
        val reader = openParquet(path)
        try {
          val kv = reader.getFooter.getFileMetaData.getKeyValueMetaData
          Option(kv.get("org.apache.spark.sql.parquet.row.metadata")).map(j =>
            org.apache.spark.sql.types.DataType.fromJson(j)
              .asInstanceOf[org.apache.spark.sql.types.StructType])
        } finally reader.close()
      } catch { case _: Exception => None }
      read.foreach(footerSchemaMemo.put(path, _))
      read
    }
  }

  /** Row count from a parquet footer, read on the driver (one local
    * footer open, no Spark job). -1 on foreign/corrupt files so callers
    * gating on `== 0` fail safe (treat as non-empty). */
  private[graft] def footerRowCount(path: String): Long = {
    val hit = footerRowsMemo.get(path)
    if (hit != null) hit.longValue()
    else {
      val r = try {
        val reader = openParquet(path)
        try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally reader.close()
      } catch { case _: Exception => -1L }
      if (r >= 0L) footerRowsMemo.put(path, java.lang.Long.valueOf(r))
      r
    }
  }

  private def statsBody(path: String): Option[String] =
    try {
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      import org.json4s._
      import org.json4s.JsonDSL._
      val reader = openParquet(path)
      try {
        val footer = reader.getFooter
        val schema = footer.getFileMetaData.getSchema
        val blocks = footer.getBlocks.asScala
        val rows = blocks.map(_.getRowCount).sum
        // per top-level primitive column: fold row-group stats
        val cols: Seq[(String, JObject)] = schema.getFields.asScala.toSeq.flatMap { f =>
          if (!f.isPrimitive) None
          else {
            val pt = f.asPrimitiveType()
            val name = f.getName
            val chunks = blocks.flatMap(_.getColumns.asScala.find(c =>
              c.getPath.size() == 1 && c.getPath.toDotString == name))
            if (chunks.isEmpty || chunks.exists(c =>
              c.getStatistics == null || !c.getStatistics.isNumNullsSet)) None
            else {
              val nc = chunks.map(_.getStatistics.getNumNulls).sum
              val withVals = chunks.filter(_.getStatistics.hasNonNullValue)
              def jval(v: Any): Option[JValue] = v match {
                case i: java.lang.Integer => Some(JLong(i.longValue()))
                case l: java.lang.Long => Some(JLong(l))
                case f: java.lang.Float if java.lang.Float.isFinite(f) =>
                  Some(JDouble(f.doubleValue()))
                case d: java.lang.Double if java.lang.Double.isFinite(d) =>
                  Some(JDouble(d))
                case b: org.apache.parquet.io.api.Binary
                    if pt.getLogicalTypeAnnotation != null &&
                      pt.getLogicalTypeAnnotation.isInstanceOf[
                        org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
                  Some(JString(b.toStringUsingUTF8))
                case _ => None
              }
              // DECIMAL-annotated ints and other exotica are excluded:
              // their raw physical values don't compare as the column
              val plain = pt.getPrimitiveTypeName match {
                case INT32 | INT64 =>
                  pt.getLogicalTypeAnnotation == null ||
                    pt.getLogicalTypeAnnotation.isInstanceOf[
                      org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation] ||
                    pt.getLogicalTypeAnnotation.isInstanceOf[
                      org.apache.parquet.schema.LogicalTypeAnnotation.DateLogicalTypeAnnotation] ||
                    pt.getLogicalTypeAnnotation.isInstanceOf[
                      org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
                case FLOAT | DOUBLE => true
                case BINARY => true // jval gates on the String annotation
                case _ => false
              }
              if (!plain) None
              else if (withVals.isEmpty) Some(name -> (("nc" -> JLong(nc)): JObject))
              else for {
                mn <- withVals.flatMap(c => jval(c.getStatistics.genericGetMin))
                  .reduceOption((a, b) => if (statsCmp(a, b) <= 0) a else b)
                mx <- withVals.flatMap(c => jval(c.getStatistics.genericGetMax))
                  .reduceOption((a, b) => if (statsCmp(a, b) >= 0) a else b)
                // a column where ANY chunk's bound failed to convert
                // (non-finite float/double, exotic type) → skip rather
                // than lie: a dropped +Inf/NaN max would understate the
                // file max and let pruning lose matching rows
                if withVals.forall(c => jval(c.getStatistics.genericGetMin).isDefined &&
                  jval(c.getStatistics.genericGetMax).isDefined)
              } yield name -> (("min" -> mn) ~ ("max" -> mx) ~ ("nc" -> JLong(nc)))
            }
          }
        }
        val json: JObject = ("p" -> path) ~ ("rows" -> rows) ~
          ("cols" -> JObject(cols.toList))
        Some(org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(json)))
      } finally reader.close()
    } catch { case _: Exception => None }

  /** Stats bodies for freshly staged data files (never delete-key
    * files), keyed by path. Footers read on a bounded daemon pool
    * (commit-time driver work; local-disk footer reads are I/O-bound,
    * so 8-wide cuts a 30-file partitioned commit's stats pass ~6×). */
  private def newStats(files: Seq[String]): Map[String, String] =
    if (files.sizeIs <= 2) files.flatMap(f => statsBody(f).map(f -> _)).toMap
    else {
      val out = new Array[Option[String]](files.size)
      graft.Qx.inParallel(files.zipWithIndex) { case (f, i) =>
        out(i) = statsBody(f)
      }
      files.zip(out).collect { case (f, Some(b)) => f -> b }.toMap
    }

  /** This commit's additions on top of `base` (a retained parent, or an
    * empty snapshot for a full rewrite): `staged` data files appended
    * with their fresh stats and — unless `sketch` is off — bloom
    * sketches; `pinAt` pins each one's `#seq` at the commit version
    * (staged paths whose own version segment must not be trusted). */
  private def withStaged(base: Snapshot, staged: Seq[String],
      props: Map[String, String], pinAt: Option[Long] = None,
      sketch: Boolean = true): Snapshot =
    base.copy(files = base.files ++ staged,
      fileSeq = base.fileSeq ++ pinAt.toSeq.flatMap(v => staged.map(_ -> v)),
      statsRaw = base.statsRaw ++ newStats(staged),
      blooms = base.blooms ++ (if (sketch) newBlooms(props, staged) else Map.empty))

  /** Total order used for both stats folding and pruning: integral
    * values compare exactly as longs, mixed numerics through
    * BigDecimal (no double-precision lies on large longs), strings in
    * UTF8 byte order (parquet's min/max order for annotated strings).
    * Incomparable pairs compare equal — the caller treats that as
    * overlap, i.e. keeps the file. */
  private[graft] def statsCmp(a: Any, b: Any): Int = {
    import org.json4s._
    def unwrap(v: Any): Any = v match {
      case JLong(l) => l
      case JInt(i) => i.longValue
      case JDouble(d) => d
      case JDecimal(d) => d.bigDecimal
      case JString(s) => s
      case other => other
    }
    (unwrap(a), unwrap(b)) match {
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: Number, y: Number) =>
        new java.math.BigDecimal(x.toString).compareTo(new java.math.BigDecimal(y.toString))
      case (x: String, y: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .binaryCompare(org.apache.spark.unsafe.types.UTF8String.fromString(y))
      case _ => 0
    }
  }

  /** The per-file stats admission rule, shared by [[readStatsPruned]]
    * and the catalog scan's stats-pruning file index: does the file's
    * recorded `[min, max]` for `col` intersect `[lower, upper]` (both
    * bounds optional, inclusive)? `true` on missing/undecodable stats —
    * pruning is an I/O optimization, never the correctness carrier. */
  /** Decoded per-column stats of one file (min/max kept as the parsed
    * JSON values [[statsCmp]] compares directly). */
  private[graft] final case class ColStat(min: Option[Any], max: Option[Any],
      nc: Option[Long])
  private[graft] final case class FileStats(rows: Option[Long],
      cols: Map[String, ColStat])

  /** Parse a `#stats:` body ONCE — callers evaluating many predicates
    * (the scan index) decode per file, not per (predicate × bound).
    * None on undecodable bodies (callers keep the file). */
  private[graft] def parseStats(body: String): Option[FileStats] = try {
    import org.json4s._
    def asLong(j: JValue): Option[Long] = j match {
      case JLong(n) => Some(n)
      case JInt(n) => Some(n.longValue)
      case _ => None
    }
    val doc = org.json4s.jackson.JsonMethods.parse(body)
    val cols = doc \ "cols" match {
      case JObject(fields) => fields.map { case (name, cstats) =>
        def opt(j: JValue): Option[Any] =
          if (j == JNothing) None else Some(j)
        name -> ColStat(opt(cstats \ "min"), opt(cstats \ "max"),
          asLong(cstats \ "nc"))
      }.toMap
      case _ => Map.empty[String, ColStat]
    }
    Some(FileStats(asLong(doc \ "rows"), cols))
  } catch { case _: Exception => None }

  private[graft] def statsAdmitsRange(fs: FileStats, col: String,
      lower: Option[Any], upper: Option[Any]): Boolean =
    fs.cols.get(col) match {
      case None => true // no stats for the column → never prune
      case Some(cs) => (cs.min, cs.max) match {
        case (Some(mn), Some(mx)) =>
          upper.forall(u => statsCmp(mn, u) <= 0) &&
            lower.forall(l => statsCmp(mx, l) >= 0)
        case _ =>
          // no recorded bounds: the file is provably all-null for the
          // column ONLY when the null count equals the row count —
          // parquet also omits chunk min/max for oversized binary
          // values while keeping null_count, and pruning on that
          // would silently lose matching rows
          val allNull = (for { rows <- fs.rows; nc <- cs.nc }
            yield nc >= rows).getOrElse(false)
          if (allNull) lower.isEmpty && upper.isEmpty else true
      }
    }

  private[graft] def statsAdmitsRange(body: String, col: String,
      lower: Option[Any], upper: Option[Any]): Boolean =
    parseStats(body).forall(statsAdmitsRange(_, col, lower, upper))

  /** May the file contain a NULL in `col`? `true` unless recorded
    * stats prove the null count is zero. */
  private[graft] def statsAdmitsNull(fs: FileStats, col: String): Boolean =
    fs.cols.get(col).flatMap(_.nc).forall(_ > 0)

  private[graft] def statsAdmitsNull(body: String, col: String): Boolean =
    parseStats(body).forall(statsAdmitsNull(_, col))

  /** May the file contain a non-NULL in `col`? `false` only when the
    * recorded null count equals the file's row count — airtight even
    * when min/max were omitted for convertibility reasons. */
  private[graft] def statsAdmitsNotNull(fs: FileStats, col: String): Boolean =
    (for { rows <- fs.rows; nc <- fs.cols.get(col).flatMap(_.nc) }
      yield nc < rows).getOrElse(true)

  private[graft] def statsAdmitsNotNull(body: String, col: String): Boolean =
    parseStats(body).forall(statsAdmitsNotNull(_, col))

  /** STATS-PRUNED head read: keep only the manifest files whose
    * recorded `[min, max]` for `col` intersects `[lower, upper]`
    * (either bound optional, both inclusive — SQL comparison
    * semantics, so an all-null file never matches a bounded range and
    * is pruned too). Files with NO recorded stats for the column are
    * always KEPT: pruning is an I/O optimization, never the
    * correctness carrier — the caller re-applies the real predicate on
    * the rows, exactly like [[readPartitionPruned]]. The decision is
    * METADATA-ONLY (manifest header lines; zero file I/O), one level
    * above parquet's row-group zone maps: at 100 TB a selective
    * non-partition predicate skips whole files before anything is
    * listed, opened, or footer-read. The kept files read as one pinned
    * relation ([[prunedFrame]]); pending merge-on-read deletes compose
    * on them as in every other read path. */
  def readStatsPruned(spark: SparkSession, root: String, col: String,
      lower: Option[Any], upper: Option[Any]): DataFrame = {
    val snap = resolve(root).getOrElse(throw new IllegalStateException(
      s"no committed snapshot under $root"))
    prunedFrame(spark, root, snap, snap.files.filter(f =>
      snap.statsRaw.get(f).forall(statsAdmitsRange(_, col, lower, upper))))
  }

  /** Commit timestamp (µs since epoch, UTC) of a committed version, read
    * from its manifest's `#ts:` header; None when the manifest is not
    * retained. One small metadata read — no data I/O. */
  def commitTimestamp(root: String, version: Long): Option[Long] =
    Manifest.readTs(manifestPath(root, version))

  /** NAMED TAG (Iceberg-style): pin a human name to a committed
    * version under `_commits/<name>.tag`. Re-tagging replaces the
    * pointer atomically (ATOMIC_MOVE — tags are mutable refs, unlike
    * manifests); the tagged version's manifest must exist at tag time.
    * A tag is one tiny metadata file: it pins nothing against
    * [[vacuum]] — reading a tag whose version fell out of retention
    * fails with the same clear error as any expired `VERSION AS OF`
    * (Iceberg's retain-refs nuance is a policy layer this protocol
    * leaves to the caller). */
  def tag(root: String, name: String, version: Long): Unit = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"tag name must be [A-Za-z0-9_-]+: $name")
    // an all-digit name would be UNREACHABLE through SQL: `VERSION AS
    // OF 2024` routes to numeric version resolution before tag lookup,
    // so the tag could never be addressed — reject it at creation
    require(name.exists(!_.isDigit),
      s"tag name must contain a non-digit (all-digit names collide with " +
        s"numeric VERSION AS OF resolution): $name")
    if (!Files.exists(manifestPath(root, version)))
      throw new IllegalStateException(
        s"cannot tag $name: version $version of $root is not committed")
    // one ref namespace: VERSION AS OF resolves tags before branches,
    // so a tag shadowing a branch (or vice versa) would silently
    // re-point readers — refuse the collision (legacy direct check),
    // then take the ATOMIC claim so a concurrent branch creator can't
    // slip through the check-then-act window ([[claimRef]])
    require(branchFork(root, name).isEmpty,
      s"'$name' is a BRANCH of $root; tags and branches share the " +
        "VERSION AS OF namespace")
    claimRef(root, name, "tag")
    val tmp = commitsDir(root).resolve(
      s".tmp_tag_${ProcessHandle.current().pid()}_${stageSeq.incrementAndGet()}")
    Files.write(tmp, version.toString.getBytes(UTF_8))
    Files.move(tmp, commitsDir(root).resolve(s"$name.tag"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The version a tag points at, or None if the tag doesn't exist. */
  def tagVersion(root: String, name: String): Option[Long] = {
    val p = commitsDir(root).resolve(s"$name.tag")
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p), UTF_8).trim.toLong)
  }

  private def refClaimPath(root: String, name: String): Path =
    commitsDir(root).resolve(s"$name.refkind")

  /** ATOMIC shared-namespace claim for ref `name` (r20): tags and
    * branches share the VERSION AS OF namespace, and the direct
    * existence checks are check-then-act — two CONCURRENT creators (a
    * tag and a branch of one name) could each pass and both land,
    * after which VERSION AS OF silently resolves the tag and shadows
    * the branch. Both creators now race on ONE claim file via
    * createLink (atomic create-if-absent), so the collision is
    * detected atomically: the loser reads the winner's kind and
    * refuses. Re-claiming the SAME kind succeeds (tags re-point;
    * duplicate-branch detection stays on the ref link itself), which
    * also makes a crash between claim and ref creation retryable.
    * Legacy refs created before claims existed are still caught by the
    * callers' direct checks — they already exist, so the concurrent-
    * creation window this closes never applied to them. */
  private def claimRef(root: String, name: String, kind: String): Unit = {
    Files.createDirectories(commitsDir(root))
    val p = refClaimPath(root, name)
    val tmp = commitsDir(root).resolve(
      s".tmp_claim_${ProcessHandle.current().pid()}_${stageSeq.incrementAndGet()}")
    Files.write(tmp, kind.getBytes(UTF_8))
    try Files.createLink(p, tmp)
    catch {
      case _: FileAlreadyExistsException =>
        val existing = new String(Files.readAllBytes(p), UTF_8).trim
        // a claim whose REF no longer exists is stale debris (a drop
        // that crashed between deleting the ref and the claim) — the
        // name is genuinely free, so take it over atomically instead
        // of blocking it forever
        val live = existing match {
          case "branch" => branchFork(root, name).isDefined
          case "tag" => tagVersion(root, name).isDefined
          case _ => false
        }
        if (existing != kind && live) throw new IllegalStateException(
          s"'$name' is a $existing of $root; tags and branches share the " +
            "VERSION AS OF namespace")
        if (existing != kind)
          Files.move(tmp, p,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  // --- NAMED BRANCHES (Iceberg-style refs, the branch-based WAP) ---------
  //
  // A branch is a SPECULATIVE CONTINUATION of the main commit log on
  // the SAME table: `_commits/<name>.branch` records the fork version
  // F (ATOMIC_MOVE ref discipline, like tags), and branch commits
  // write ordinary manifests — same format, same tmp+createLink
  // atomicity — numbered F+1, F+2, … under `_commits/branch_<name>/`.
  // Data files stage under the shared root exactly like main commits
  // (writer-unique `v<version>_` dirs), so ONE retention policy covers
  // both logs: vacuum/orphan sweeps count branch manifests' references
  // alongside main's, and a dropped branch's files age out like any
  // other unreferenced staging.
  //
  // FAST-FORWARD publish is ATOMIC (r20): the branch head's manifest —
  // which already carries the branch's full prospective state, every
  // commit folded in — is SQUASHED into ONE main commit at fork+1,
  // published by a single createLink. All-or-nothing by the filesystem
  // primitive: main is either at the fork or at the complete branch
  // state, never between (the r19 one-link-per-branch-commit loop
  // could crash or lose a race mid-publish having linked a prefix of
  // an audited-as-a-whole batch). Branch-staged files re-pin their
  // `#seq:` scoping into main's coordinates at squash time; Iceberg's
  // fastForwardBranch gets the same atomicity from a single ref CAS.
  // The gate is Iceberg's fast-forward rule: main's head must still
  // equal the fork version; a main commit landed meanwhile makes the
  // publish refuse — WITHOUT having linked anything — with a
  // concurrent-modification error (re-branch and re-stage to retry).
  // A write-audit-publish flow is then: createBranch → commitToBranch
  // (the risky batch) → audit readBranch (main + batch, the real
  // serving view, while main serves readers untouched) → fastForward,
  // or dropBranch when the audit fails.

  private def branchRefPath(root: String, name: String): Path =
    commitsDir(root).resolve(s"$name.branch")

  private def branchManifestsDir(root: String, name: String): Path =
    commitsDir(root).resolve(s"branch_$name")

  private def branchManifestPath(root: String, name: String, v: Long): Path =
    branchManifestsDir(root, name).resolve(f"$v%08d.manifest")

  private def requireRefName(name: String): Unit = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"ref name must be [A-Za-z0-9_-]+: $name")
    require(name.exists(!_.isDigit),
      s"ref name must contain a non-digit (all-digit names collide with " +
        s"numeric VERSION AS OF resolution): $name")
  }

  /** Create branch `name` at the current head (create-if-absent — an
    * existing branch refuses). Returns the fork version. */
  def createBranch(root: String, name: String): Long = {
    requireRefName(name)
    val head = maxCommitted(root)
    require(head > 0, s"cannot branch $root: nothing committed")
    require(tagVersion(root, name).isEmpty,
      s"'$name' is a TAG of $root; tags and branches share the " +
        "VERSION AS OF namespace")
    claimRef(root, name, "branch")
    Files.createDirectories(branchManifestsDir(root, name))
    val tmp = commitsDir(root).resolve(
      s".tmp_branch_${ProcessHandle.current().pid()}_${stageSeq.incrementAndGet()}")
    Files.write(tmp, head.toString.getBytes(UTF_8))
    try Files.createLink(branchRefPath(root, name), tmp)
    catch {
      case _: FileAlreadyExistsException =>
        throw new IllegalStateException(s"branch '$name' already exists under $root")
    } finally Files.deleteIfExists(tmp)
    head
  }

  /** The branch's fork version (main-log version it continues from),
    * or None when no such branch exists. */
  def branchFork(root: String, name: String): Option[Long] = {
    val p = branchRefPath(root, name)
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p), UTF_8).trim.toLong)
  }

  /** Newest version on the branch (its own manifests, else the fork). */
  def branchHead(root: String, name: String): Long = {
    val fork = branchFork(root, name).getOrElse(throw new IllegalStateException(
      s"no branch '$name' under $root"))
    val d = branchManifestsDir(root, name)
    if (!Files.isDirectory(d)) fork
    else {
      val ls = Files.list(d)
      try ls.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.endsWith(".manifest") =>
          s.stripSuffix(".manifest").toLong }
        .foldLeft(fork)(math.max)
      finally ls.close()
    }
  }

  /** Resolve version `v` as seen FROM the branch: at or below the fork
    * it is a main-log version; above it, a branch manifest. */
  def resolveBranchAt(root: String, name: String, v: Long): Snapshot = {
    val fork = branchFork(root, name).getOrElse(throw new IllegalStateException(
      s"no branch '$name' under $root"))
    if (v <= fork) resolveAt(root, v)
    else {
      val m = branchManifestPath(root, name, v)
      if (!Files.exists(m)) throw new IllegalStateException(
        s"version $v of branch '$name' under $root is not committed")
      Manifest.read(m, v)
    }
  }

  def resolveBranch(root: String, name: String): Snapshot =
    resolveBranchAt(root, name, branchHead(root, name))

  /** Resolve version `v` of the main log (branch = None) or as seen
    * from a branch (at or below the fork = main; above = branch). */
  private def resolveLogAt(root: String, branch: Option[String], v: Long): Snapshot =
    branch.map(b => resolveBranchAt(root, b, v)).getOrElse(resolveAt(root, v))

  /** Read the branch head — the audit view: main's rows plus every
    * batch committed to the branch, deletes applied with the same
    * version scoping as a main read. */
  def readBranch(spark: SparkSession, root: String, name: String): DataFrame =
    frame(spark, root, Some(resolveBranch(root, name)))

  /** APPEND commit targeting the branch: stage files via `write` into
    * a writer-unique data dir (under the shared root, at the branch's
    * next version — main's numbering continued), carry the branch
    * parent's files/deletes/stats/blooms forward, and publish through
    * the one commit funnel ([[publishManifest]]) with the same
    * atomicity as a main commit. Concurrent committers to one branch
    * race on the link and the loser restages, exactly like main. */
  def commitToBranch(root: String, name: String)(write: String => Unit): Long =
    commitImpl(root, carryForward = true, txn = None, branch = Some(name))(write)

  /** FAST-FORWARD publish, ATOMIC (r20): squash the branch's commits
    * into ONE main commit at fork+1, published by a single createLink —
    * all-or-nothing, so main is either at the fork or at the complete
    * branch state, never at an intermediate prefix of an
    * audited-as-a-whole batch. The squash commit is the branch HEAD
    * state (it already folds every branch commit's files,
    * deletes, stats, blooms and position deletes) with its scoping
    * renumbered into main's coordinates: branch-staged files pin
    * `#seq:` at the publish version (so a future main delete covers
    * them and fork-era deletes do not), and within-branch row-level
    * deletes re-scope to cover exactly what they covered on the branch.
    * Requires main's head to still equal the fork — a main commit
    * landed meanwhile refuses with ConcurrentModificationException
    * WITHOUT having linked anything (create a fresh branch from the new
    * head to retry). Afterwards the ref advances to the published
    * version and the branch keeps working (its next commit continues
    * from there). A crash between the link and the ref/cleanup
    * bookkeeping is detected on re-run (the head manifest parses to
    * the recomputed squash) and finished
    * idempotently. Returns the published main version (fork+1). */
  def fastForward(root: String, name: String): Long = {
    val fork = branchFork(root, name).getOrElse(throw new IllegalStateException(
      s"no branch '$name' under $root"))
    val bh = branchHead(root, name)
    require(bh > fork, s"branch '$name' has no commits to publish")
    val target = fork + 1
    val squash0 = squash(root, name, fork, bh)
    // race / crash-recovery gate FIRST — before any diff job runs: a
    // lost race must cost nothing, and a crash-recovery re-run must
    // not re-stage effects the LINKED manifest already owns (the
    // idempotency probe ignores change files for that reason)
    val head = maxCommitted(root)
    if (head != fork) {
      // our own crashed publish (linked, died before bookkeeping)?
      if (sameSquash(root, target, squash0)) {
        finishBranchPublish(root, name, fork, bh, target)
        return target
      }
      throw new java.util.ConcurrentModificationException(
        s"cannot fast-forward '$name' into $root: main's head ($head) moved " +
          s"past the fork ($fork) — NOTHING was published; branch from the " +
          "new head and re-stage")
    }
    // a REWRITE squash (the branch ran copy-on-write repairs, so
    // fork-era files left the state) on a `graft.changes.rewriteDiff`
    // table materializes its fork→branch-head row diff as change-file
    // sidecars in the squash manifest — the same contract as a
    // main-log COW commit, so a CDC consumer tailing main survives a
    // WAP publish of a COW-repaired batch. (MOR-repaired branches need
    // nothing: their squash carries the re-scoped delete lines the
    // feed already serves.) Guards and declared-type projection are
    // shared with the per-statement path ([[graft.catalog.RewriteDiff]]).
    val published = {
      val headFiles = squash0.files.toSet
      val rewrote = resolveAt(root, fork).files.exists(!headFiles(_))
      if (!rewrote || !graft.catalog.GraftTable.declaredMeta(root)._2
          .get(graft.catalog.GraftTable.rewriteDiffProp).contains("true")) squash0
      else {
        val sidecars =
          graft.catalog.RewriteDiff.stageBranchDiff(root, fork, name).sorted
        if (sidecars.isEmpty) squash0.copy(rowsUnchanged = true)
        else squash0.copy(changeFiles = sidecars)
      }
    }
    val commitTs = stampTs(Manifest.readTs(manifestPath(root, fork)))
    // idempotent only against OUR squash (a concurrent re-run);
    // anything else is a lost race and nothing of ours landed
    if (!link(root, manifestPath(root, target), published.copy(ts = commitTs)) &&
        !sameSquash(root, target, published))
      throw new java.util.ConcurrentModificationException(
        s"cannot fast-forward '$name' into $root: a concurrent commit " +
          s"took version $target — NOTHING was published; branch from " +
          "the new head and re-stage")
    finishBranchPublish(root, name, fork, bh, target)
    target
  }

  /** The squash commit that publishes branch `name`'s head into main
    * version fork+1: the branch head's state with (a) branch-staged
    * files pinned via `#seq` into main's scoping coordinates and (b)
    * within-branch delete versions re-scoped; its ts, change files and
    * rows-unchanged marker (which described bh vs bh-1) are not
    * carried. Deterministic for a given branch state — the
    * crash-recovery path recomputes it. */
  private def squash(root: String, name: String, fork: Long, bh: Long): Snapshot = {
    val snap = resolveBranchAt(root, name, bh)
    val branchFiles = snap.files.filter(snap.seqOf(_) > fork).toSet
    // within-branch row-level deletes
    val branchDels = snap.deletes.filter(_.coversBelow > fork)
    // representability: the squash has TWO file-sequence slots below
    // the next main version ({fork, fork+1} — every published file must
    // sit ≤ fork+1 so a future delete at fork+2 covers it, and ≥ fork
    // so fork-era deletes miss it) and TWO delete slots ({fork+1,
    // fork+2} — every branch delete must cover ALL fork-era files, so
    // its re-scoped version must exceed fork). That renumbers at most
    // two delete ERAS (groups of deletes distinguishing the same
    // branch-file coverage), and only when nothing was appended after
    // the second era (those files would need a slot a future delete
    // misses). More interleaving → publish between rounds instead.
    val eras = branchDels.map(_.coversBelow).distinct.sorted
      .groupBy(cb => branchFiles.filter(f => snap.seqOf(f) < cb))
      .toSeq.sortBy(_._2.min)
    require(eras.size <= 2,
      s"branch '$name' interleaves row-level deletes with later appends " +
        "across more than two rounds; a squash publish cannot renumber " +
        "that many delete eras into one commit — fast-forward between rounds")
    if (eras.size == 2) {
      val lastCb = eras.last._2.max
      val after = branchFiles.filter(f => snap.seqOf(f) >= lastCb)
      require(after.isEmpty,
        s"branch '$name' appended files after its second round of row-level " +
          "deletes; a squash publish cannot renumber a third era into one " +
          "commit — fast-forward between rounds")
    }
    // era-1 cover set pins at the fork (below BOTH re-scoped delete
    // slots; fork-era deletes still miss it since their coversBelow ≤
    // fork), everything else at fork+1; era-1 deletes re-scope to
    // fork+1, era-2 (covering all branch files) to fork+2. Future main
    // deletes (coversBelow ≥ fork+2) cover both file groups; future
    // files (seq ≥ fork+2) escape both delete groups.
    val covered = eras.headOption.map(_._1).getOrElse(Set.empty[String])
    val secondEraCbs = if (eras.size == 2) eras.last._2.toSet else Set.empty[Long]
    val deletes = snap.deletes.map { d =>
      if (d.coversBelow <= fork) d
      else d.copy(coversBelow = if (secondEraCbs(d.coversBelow)) fork + 2 else fork + 1)
    }
    val pins = snap.files.filter(branchFiles)
      .map(f => f -> (if (covered(f)) fork else fork + 1))
    Snapshot(fork + 1, snap.files, deletes, snap.fileSeq ++ pins,
      snap.statsRaw, snap.blooms, snap.posDeletes)
  }

  /** Is main's `target` manifest this squash? The publish-idempotency
    * probe: value equality with the timestamp, change files and
    * rows-unchanged marker cleared — the timestamp differs across
    * attempts, the LINKED manifest's effect sidecars are authoritative
    * (a re-run's re-staged effects are orphans the sweeps reclaim), and
    * a row-preserving rewrite squash on a rewriteDiff table links the
    * marker the recomputed squash never carries (spec: "crashed
    * rewrite-squash publish with an empty diff finishes idempotently").
    * A target manifest that does not parse raises its refusal. */
  private def sameSquash(root: String, target: Long, squash: Snapshot): Boolean = {
    def core(s: Snapshot) = s.copy(ts = 0L, changeFiles = Nil, rowsUnchanged = false)
    val m = manifestPath(root, target)
    Files.exists(m) && core(Manifest.read(m, target)) == core(squash)
  }

  /** Post-link bookkeeping of a fast-forward: advance the ref to the
    * published version and drop the now-redundant branch-log copies.
    * Idempotent — the crash-recovery path re-runs it. */
  private def finishBranchPublish(root: String, name: String, fork: Long,
      bh: Long, target: Long): Unit = {
    val tmp = commitsDir(root).resolve(
      s".tmp_branch_${ProcessHandle.current().pid()}_${stageSeq.incrementAndGet()}")
    Files.write(tmp, target.toString.getBytes(UTF_8))
    Files.move(tmp, branchRefPath(root, name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ((fork + 1) to bh).foreach(v =>
      Files.deleteIfExists(branchManifestPath(root, name, v)))
  }

  /** Drop the branch: ref and branch manifests go; its staged data
    * files become unreferenced and age out under the normal sweeps. */
  def dropBranch(root: String, name: String): Unit = {
    Files.deleteIfExists(branchRefPath(root, name))
    deleteRecursively(branchManifestsDir(root, name))
    // release the shared-namespace claim: the name is reusable, by
    // either kind
    Files.deleteIfExists(refClaimPath(root, name))
  }

  /** (name, fork, head) of every branch under the root. */
  def listBranches(root: String): Seq[(String, Long, Long)] = {
    val cd = commitsDir(root)
    if (!Files.isDirectory(cd)) Nil
    else {
      val ls = Files.list(cd)
      val names =
        try ls.iterator().asScala.map(_.getFileName.toString)
          .collect { case s if s.endsWith(".branch") => s.stripSuffix(".branch") }
          .toSeq.sorted
        finally ls.close()
      names.map(n => (n, branchFork(root, n).getOrElse(0L), branchHead(root, n)))
    }
  }

  /** Every file a branch manifest still references (data, delete-key,
    * and position-delete sidecars) — unioned into the sweeps'
    * referenced sets so branch-staged work survives retention exactly
    * like published work (one policy for both logs). */
  private def branchReferencedFiles(root: String): Set[String] =
    listBranches(root).flatMap { case (name, fork, head) =>
      ((fork + 1) to head).flatMap { v =>
        val m = branchManifestPath(root, name, v)
        if (!Files.exists(m)) Nil
        else {
          val s = Manifest.read(m, v)
          s.files ++ s.deletes.map(_.path) ++ s.posDeletes.values.flatten ++
            s.changeFiles
        }
      }
    }.toSet

  /** `TIMESTAMP AS OF` resolution: the newest retained version whose
    * commit timestamp is <= `tsMicros` (Delta's rule). Fails clearly
    * when the timestamp predates every retained commit — same contract
    * as a vacuumed `VERSION AS OF`. */
  def versionAtTimestamp(root: String, tsMicros: Long): Long =
    versionAtOrBefore(root, tsMicros).getOrElse(throw new IllegalStateException(
      s"no commit at or before timestamp $tsMicros under $root " +
        "(predates retained history)"))

  /** [[versionAtTimestamp]], None when `tsMicros` predates retained
    * history. Commit timestamps are strictly monotonic per log
    * ([[stampTs]]), so the walk stops at the first retained commit
    * stamped after the literal. Cost: one header per manifest walked,
    * metadata-only. */
  def versionAtOrBefore(root: String, tsMicros: Long): Option[Long] =
    retainedVersions(root).iterator
      .takeWhile(v => commitTimestamp(root, v).exists(_ <= tsMicros))
      .reduceOption((_, v) => v)

  /** THE commit point, shared by every manifest publisher (plain/append
    * commits, branch commits, staged rewrites and deltas, txn-tagged
    * appends, restore, by-reference publish, delete compaction): per
    * attempt it takes the next version, lets `gate` veto or
    * short-circuit, resolves the parent and reads the root's
    * declaration once, has `build` produce that attempt's [[Snapshot]]
    * FRESH (a lost race means the parent changed — content must
    * re-derive, never replay), applies the reserved-segment rules,
    * checks the data files it adds against the declaration — declaring
    * an undeclared root, widening by added columns, refusing a conflict
    * ([[graft.catalog.GraftTable.admit]]) — stamps the timestamp
    * clamped strictly above the parent's (TIMESTAMP AS OF stays
    * monotonic under clock skew), renders it ([[Manifest.render]]) and
    * publishes it with [[link]]'s atomic create-if-absent.
    *
    *  - `gate(v)`: runs first each attempt at candidate version `v`;
    *    return false to no-op with the current head (txn idempotence),
    *    throw to abort the statement (write-conflict `basedOn`).
    *  - `build(v, parent, props)`: the commit at version `v` (its
    *    `version` and `ts` are the funnel's to set) over `parent`, the
    *    log's version v-1 (an empty version 0 for a first commit), with
    *    the root's table properties; may stage data as a side effect.
    *  - `onLost()`: cleanup after a lost race, before the retry
    *    (discard the attempt's own staged dir — never anyone else's).
    */
  private def publishManifest(root: String, what: String,
      gate: Long => Boolean = _ => true,
      onLost: () => Unit = () => (),
      // target log: None = main, Some(name) = the branch's speculative
      // continuation (manifests under `_commits/branch_<name>/`, head
      // resolved via branchHead — versions continue main's numbering)
      branch: Option[String] = None)(
      build: (Long, Snapshot, Map[String, String]) => Snapshot): Long = {
    Files.createDirectories(commitsDir(root))
    branch.foreach { b =>
      require(branchFork(root, b).isDefined, s"no branch '$b' under $root")
      Files.createDirectories(branchManifestsDir(root, b))
    }
    def headOf: Long =
      branch.map(branchHead(root, _)).getOrElse(maxCommitted(root))
    def targetPath(v: Long): Path =
      branch.map(branchManifestPath(root, _, v)).getOrElse(manifestPath(root, v))
    var attempt = 0
    while (true) {
      val head = headOf
      if (!gate(head + 1)) return head
      val v = head + 1
      val parent = if (head > 0L) resolveLogAt(root, branch, head) else Snapshot(0L, Nil)
      // the first commit declares the root, so a committed root must
      // be declared
      val meta =
        if (head > 0L) Some(graft.catalog.GraftTable.declaredMeta(root))
        else graft.catalog.GraftTable.readMeta(root)
      val props = meta.map(_._2).getOrElse(Map.empty[String, String])
      val snap = build(v, parent, props)
      // '_gbucket' is a RESERVED path segment (SnapBucket layouts):
      // every path-recovering read drops it, so a direct-API writer
      // staging a GENUINE partition column by that name would silently
      // lose it on read. Refuse at the one commit funnel unless the
      // root declares a bucket layout in _table.properties (the
      // catalog DDL path already refuses the column name at CREATE).
      def declared(k: String) = props.get(k).exists(_.nonEmpty)
      if (snap.files.exists(_.contains(s"/$bucketPathCol=")) &&
          !declared(graft.catalog.SnapBucket.prop) &&
          // a RETIRED layout's rewrites list surviving bucketed files
          !declared(graft.catalog.SnapBucket.retiredProp))
        throw new IllegalArgumentException(
          s"'$bucketPathCol' is a reserved path segment (hash-bucket " +
            s"layouts derive it; reads never surface it) — a table under " +
            s"$root without a declared '${graft.catalog.SnapBucket.prop}' " +
            "property must not stage files under it. Rename the partition " +
            "column.")
      if (snap.files.exists(_.contains(s"/$transformPathCol=")) &&
          !declared(graft.catalog.SnapTransform.prop) &&
          !declared(graft.catalog.SnapTransform.retiredProp))
        throw new IllegalArgumentException(
          s"'$transformPathCol' is a reserved path segment (time/truncate " +
            s"transform layouts derive it; reads never surface it) — a " +
            s"table under $root without a declared " +
            s"'${graft.catalog.SnapTransform.prop}' property must not " +
            "stage files under it. Rename the partition column.")
      val known = parent.files.toSet
      graft.catalog.GraftTable.admit(root, meta, snap.files.filterNot(known), branch)
      val ts = stampTs(if (head > 0L) Some(parent.ts) else None)
      if (link(root, targetPath(v), snap.copy(version = v, ts = ts)))
        return v
      onLost()
      attempt += 1
      if (attempt > 5) throw new IllegalStateException(
        s"lost the $what race $attempt times under $root")
    }
    throw new IllegalStateException("unreachable")
  }

  /** A commit timestamp (µs since epoch, UTC) clamped strictly above
    * the parent's. */
  private def stampTs(parentTs: Option[Long]): Long =
    math.max(java.time.Instant.now().toEpochMilli * 1000L, parentTs.getOrElse(-1L) + 1L)

  /** Write `snap` to a writer-unique tmp file and publish it at
    * `target` with an atomic hard-link create-if-absent; false when the
    * target already exists (a lost race). NOT a rename: POSIX rename(2)
    * silently REPLACES an existing target, so a racing loser would
    * overwrite the winner's manifest; link creation is the primitive
    * that atomically fails (EEXIST) when the target exists, and the
    * link appears only fully formed — readers can never see a partial
    * manifest. */
  private def link(root: String, target: Path, snap: Snapshot): Boolean =
    createOnce(commitsDir(root), target, Manifest.render(snap).getBytes(UTF_8))

  /** `bytes` written to a writer-unique tmp file in `tmpDir` (same file
    * system) and published at `target` by an atomic hard-link
    * create-if-absent; false when `target` already exists. The commit
    * point of manifests ([[link]]) and of a root's first declaration
    * ([[graft.catalog.GraftTable.admit]]). */
  private[graft] def createOnce(tmpDir: Path, target: Path, bytes: Array[Byte]): Boolean = {
    val tmp = tmpDir.resolve(
      s".tmp_${ProcessHandle.current().pid()}_${stageSeq.incrementAndGet()}")
    Files.write(tmp, bytes)
    try { Files.createLink(target, tmp); true }
    catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  private val fileVersionRe = """.*/v(\d{8})_[^/]*/.*""".r

  /** The version a data file was staged (= committed) at, parsed from
    * its `v########_writer` dir segment; 0 if unrecognizable (treated
    * as oldest, i.e. covered by every delete). */
  private def fileVersion(path: String): Long = path match {
    case fileVersionRe(v) => v.toLong
    case _                => 0L
  }

  /** Load a delete group's DISTINCT key set — the row-level change
    * feed's key diff ([[readChangesRows]]). Per-file reads +
    * unionByName, NOT one multi-path read: delete files staged on
    * either side of an ALTER COLUMN widening carry different physical
    * widths, which a multi-path read would mis-bind; the union resolves
    * them with Spark's own type coercion. */
  private def deleteKeys(spark: SparkSession, ds: Seq[DeleteFile],
      cols: Seq[String]): DataFrame =
    ds.map(_.path).sorted.map { p =>
      // driver-side footer schema: one scheduled inference job saved
      // per delete file per read (guide §7.3 driver work)
      val rd = footerSparkSchema(p) match {
        case Some(sc) => spark.read.schema(sc).parquet(p)
        case None => spark.read.parquet(p)
      }
      rd.select(cols.map(org.apache.spark.sql.functions.col): _*)
    }.reduce(_.unionByName(_)).distinct()

  /** Reserved path-segment name for hash-bucket layouts
    * ([[graft.catalog.SnapBucket]]): files of a `PARTITIONED BY
    * (bucket(n, col))` table stage under `_gbucket=<id>/`. The segment
    * is DERIVED (id = pmod(murmur3(col, 42), n)), so unlike identity
    * partition columns it is never part of the row schema — every
    * path-recovering read drops it. */
  val bucketPathCol = "_gbucket"

  /** Reserved path-segment name for time/truncate transform layouts
    * ([[graft.catalog.SnapTransform]]): files of a `PARTITIONED BY
    * (days(ts))`-style table stage under `_gtpart=<ordinal>/`. Like
    * `_gbucket` the segment is DERIVED (the source column stays in the
    * data files), so every path-recovering read drops it. */
  val transformPathCol = "_gtpart"

  /** THE read primitive: every `read*` function below is this one
    * relation — [[graft.catalog.GraftTable]] at `root`, planned through
    * DataSource V2 exactly like a `snap.` statement, so merge-on-read
    * application (version-scoped equality deletes, position deletes),
    * partition-column recovery and pushdown exist once, in the catalog
    * scan ([[graft.catalog.MorScan]] when deletes are pending).
    * `pinned = None` is the catalog's head table (declared schema, the
    * RENAME ledger), resolved NOW: the frame reads the head of this
    * call, never a later one. A pinned snapshot is `VERSION AS OF`: the
    * footer-merged schema of its own files, any subset of a resolved
    * snapshot included (a zero-file one reads empty under the declared
    * schema). */
  private def frame(spark: SparkSession, root: String,
      pinned: Option[Snapshot]): DataFrame = {
    val table = new graft.catalog.GraftTable(root, root, pinned)
    if (table.snap.isEmpty) throw new IllegalStateException(
      s"no committed snapshot under $root")
    org.apache.spark.sql.classic.GraftSqlBridge.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        .create(table, None, None))
  }

  /** `snap` narrowed to `files` (a subset of its own): the pending
    * deletes stay, scoped per file as in the full snapshot. */
  private def narrowed(snap: Snapshot, files: Seq[String]): Snapshot = {
    val keep = files.toSet
    snap.copy(files = files,
      posDeletes = snap.posDeletes.filter { case (f, _) => keep(f) },
      blooms = snap.blooms.filter { case (f, _) => keep(f) })
  }

  /** A pruned read of `snap`: the kept files as a pinned relation. Rows
    * are not filtered — the caller re-applies its predicate; zero kept
    * files is a VALID empty result shaped from the unpruned snapshot
    * (limit 0 folds to an empty relation before any data I/O). */
  private def prunedFrame(spark: SparkSession, root: String, snap: Snapshot,
      kept: Seq[String]): DataFrame =
    if (kept.isEmpty) frame(spark, root, Some(snap)).limit(0)
    else frame(spark, root, Some(narrowed(snap, kept)))

  /** Read the current head through its manifest (merge-on-read deletes
    * applied with version scoping — see [[commitDelete]]): the catalog
    * head table's read, under the root's DECLARED schema — a commit
    * that added a column widened it, so the files that predate the
    * column read NULL for it (the Delta/Iceberg add-column contract),
    * while a time-travel [[readAt]] of an earlier version presents the
    * schema its own files carry. */
  def read(spark: SparkSession, root: String): DataFrame =
    frame(spark, root, None)

  /** Time travel: read version `v` through ITS manifest — `VERSION AS
    * OF v`. That version's own pending deletes (if any) apply; deletes
    * committed AFTER it do not, exactly like any other later commit. */
  def readAt(spark: SparkSession, root: String, version: Long): DataFrame =
    frame(spark, root, Some(resolveAt(root, version)))

  /** PARTITION-PRUNED head read: keep only the manifest files whose
    * path carries `partCol=<one of values>` as a directory segment —
    * i.e. files written through `.partitionBy(partCol)` inside a
    * [[commit]]/[[commitAppend]] staging dir. The pruning is METADATA-
    * ONLY: the manifest file list is filtered before Spark ever lists,
    * opens, or footer-reads anything, so at 100 TB a 2-of-N-partition
    * query plans over exactly the matching files — the store never
    * relists the table, and non-matching partitions cost zero I/O. The
    * partition column re-attaches from each kept file's path.
    *
    * Pending MERGE-ON-READ deletes COMPOSE with pruning: the kept
    * files go through the same version-scoped delete application as a
    * full [[read]] ([[DeleteFile.coversBelow]] per file, in one MOR scan),
    * so a pruned read over a table with stacked pending deletes returns
    * exactly the delete-applied rows of the requested partitions. The
    * delete-key sets are not pruned, because equality-delete files are
    * not partition-aligned (Iceberg v2 has the same shape: partition-
    * scoped delete files are an optimization, not a correctness
    * requirement). At 100 TB this matters: MOR deletes are
    * near-permanently pending, and pruned reads are the default read
    * path — refusing the combination would force a table rewrite
    * before every pruned read.
    *
    * Partition values are matched AS SPARK WRITES THEM: `partitionBy`
    * escapes special characters in path segments (space, ':', '%', …
    * via `ExternalCatalogUtils.escapePathName`), so the wanted set is
    * built from the escaped form — a raw-value match would silently
    * drop every partition whose value needs escaping. */
  def readPartitionPruned(spark: SparkSession, root: String,
      partCol: String, values: Seq[String]): DataFrame = {
    val snap = resolve(root).getOrElse(throw new IllegalStateException(
      s"no committed snapshot under $root"))
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    val wanted = values
      .map(v => s"/${escapePathName(partCol)}=${escapePathName(v)}/").toSet
    prunedFrame(spark, root, snap, snap.files.filter(f => wanted.exists(f.contains)))
  }

  /** PARTITION-EVOLVED pruned read — the multi-spec generalization of
    * [[readPartitionPruned]] (Iceberg's partition-spec evolution): a
    * table's partition layout may CHANGE across commits (era A staged
    * `.partitionBy(priority)`, era B `.partitionBy(priority, band)`),
    * and a pruned read must stay correct over both. The rule, per
    * Iceberg: a filter on a partition column prunes exactly the files
    * whose own spec carries that column — a file with NO `col=` path
    * segment predates the column's introduction, cannot be proven
    * non-matching from metadata, and is KEPT for scanning. So:
    *
    *   keep(file) = ∀ (col, values): file has no `col=` segment
    *                OR file carries `col=<one of values>`
    *
    * The caller re-applies the residual predicate on the rows (for
    * pre-evolution files the partition value is derived from its
    * source column, exactly Iceberg's transform-on-read) — pruning is
    * an I/O optimization, never the correctness carrier. Pre-evolution
    * rows surface the new partition column as null; pending MOR deletes
    * compose as in every other read path. Cost: metadata-only filtering
    * of the manifest list, zero I/O for provably-non-matching files. */
  def readPartitionPrunedEvolved(spark: SparkSession, root: String,
      filters: Map[String, Seq[String]]): DataFrame = {
    val snap = resolve(root).getOrElse(throw new IllegalStateException(
      s"no committed snapshot under $root"))
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    val wanted = filters.map { case (c, vs) =>
      s"/${escapePathName(c)}=" ->
        vs.map(v => s"/${escapePathName(c)}=${escapePathName(v)}/").toSet
    }
    prunedFrame(spark, root, snap, snap.files.filter { f =>
      wanted.forall { case (seg, vals) =>
        !f.contains(seg) || vals.exists(f.contains)
      }
    })
  }

  /** What one commit did to the table's rows, as every reader of the
    * log classifies it ([[Step.kind]]). */
  sealed trait StepKind
  object StepKind {
    /** The writer's `#rowsunchanged` marker (compaction, z-order,
      * delete-file merge): bytes moved, the row set did not. */
    case object RowsUnchanged extends StepKind
    /** A rewrite whose row effects are materialized `#changes:`
      * sidecars ([[Snapshot.changeFiles]]). */
    case object Materialized extends StepKind
    /** Files added and nothing else: no file removed, delete lines and
      * position deletes unchanged. Its rows are exactly the added
      * files read raw. */
    case object Append extends StepKind
    /** Anything else: a file removed, a delete line added or dropped,
      * or a file's position deletes changed. */
    case object Change extends StepKind
  }

  /** One version step of the log: `current` against its `parent`. The
    * INITIAL chunk — the oldest retained state, read as one step
    * against the empty table — has a version-0 parent; it is never
    * rows-unchanged or materialized, since its rows are the whole
    * state. */
  final case class Step(parent: Snapshot, current: Snapshot) {
    def version: Long = current.version
    def initial: Boolean = parent.version == 0L
    lazy val added: Seq[String] = {
      val p = parent.files.toSet
      current.files.filterNot(p)
    }
    lazy val removed: Seq[String] = {
      val c = current.files.toSet
      parent.files.filterNot(c)
    }
    lazy val addedDels: Seq[DeleteFile] = current.deletes.filterNot(parent.deletes.toSet)
    lazy val droppedDels: Seq[DeleteFile] = parent.deletes.filterNot(current.deletes.toSet)
    /** Files whose position deletes differ between the two states. */
    lazy val posTouched: Seq[String] =
      (parent.posDeletes.keySet ++ current.posDeletes.keySet).toSeq.sorted.filter(f =>
        parent.posDeletes.getOrElse(f, Nil) != current.posDeletes.getOrElse(f, Nil))
    lazy val kind: StepKind =
      if (!initial && current.rowsUnchanged) StepKind.RowsUnchanged
      else if (!initial && current.changeFiles.nonEmpty) StepKind.Materialized
      else if (removed.isEmpty && addedDels.isEmpty && droppedDels.isEmpty &&
          posTouched.isEmpty) StepKind.Append
      else StepKind.Change
  }

  /** The version steps of `(s0, e]` — the one tailer both micro-batch
    * streams, the batch `.changes` scan and [[readChangesRows]] read
    * the log through. The start is EXCLUSIVE (`s0` = "after version
    * s0"); `s0 = 0` starts with the initial chunk at the oldest
    * retained version, so a partially vacuumed history still reads
    * whole. [[vacuum]] expires manifests as a prefix, so every parent
    * inside the retained suffix resolves; a start that fell below it
    * fails with the retention error. Lazy: each manifest is read once,
    * when its step is reached. */
  def steps(root: String, s0: Long, e: Long): Iterator[Step] = {
    if (e <= s0) return Iterator.empty
    val oldest = minCommitted(root)
    require(oldest > 0, s"no committed snapshot under $root")
    if ((s0 > 0 && s0 < oldest) || e < oldest) throw new IllegalStateException(
      s"start version $s0 of $root is beyond retention (oldest retained " +
        s"version is $oldest). Starts are exclusive — a read from version v " +
        "covers the commits after v, unlike Delta's inclusive table_changes " +
        "— so a start must be 0 (the initial snapshot) or a retained version; " +
        "a stream that lagged past vacuum restarts from a fresh checkpoint")
    var parent = if (s0 == 0L) Snapshot(0, Nil) else resolveAt(root, s0)
    (math.max(s0 + 1, oldest) to e).iterator.map { v =>
      val cur = resolveAt(root, v)
      val st = Step(parent, cur)
      parent = cur
      st
    }
  }

  /** File-level change feed between two committed versions: the files
    * present in `toVersion`'s manifest but not in `fromVersion`'s
    * (`fromVersion = 0` means "since the beginning"). For append
    * commits ([[commitAppend]]) this is exactly the rows added in
    * `(fromVersion, toVersion]` — manifests are explicit file lists, so
    * the diff is a metadata-only set difference; an incremental
    * consumer never re-lists or re-scans the base data. A REWRITE
    * commit ([[commit]]) republishes every row it keeps as new files,
    * so its whole output shows up here (the same caveat Delta's CDF has
    * for copy-on-write rewrites without per-row tracking); row-level
    * diffing across rewrites is `cdc_snapshot_diff`'s job. */
  def changedFiles(root: String, fromVersion: Long, toVersion: Long): Seq[String] = {
    require(fromVersion >= 0 && fromVersion <= toVersion,
      s"bad change range ($fromVersion, $toVersion]")
    val before =
      if (fromVersion == 0L) Set.empty[String]
      else resolveAt(root, fromVersion).files.toSet
    resolveAt(root, toVersion).files.filterNot(before)
  }

  /** Read only the files added in `(fromVersion, toVersion]`. A range
    * that added no files (delete-only, compaction, restore — all
    * metadata-only commits) reads as an EMPTY frame shaped by the
    * to-version's schema, so an incremental consumer's tail loop
    * survives every valid commit kind. */
  def readChanges(spark: SparkSession, root: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    val to = resolveAt(root, toVersion)
    val changed = changedFiles(root, fromVersion, toVersion)
    if (changed.nonEmpty) frame(spark, root, Some(rawFiles(to, changed)))
    else frame(spark, root, Some(rawFiles(to, to.files))).limit(0)
  }

  /** `snap` narrowed to `files` read RAW — the file-level feed's view:
    * every row the files hold, no pending delete applied. */
  private def rawFiles(snap: Snapshot, files: Seq[String]): Snapshot =
    narrowed(snap, files).copy(deletes = Nil, posDeletes = Map.empty)

  /** ROW-LEVEL change feed between two committed versions — the
    * rewrite-spanning completion of [[readChanges]]'s file-level feed
    * (Delta CDF semantics, without per-row tracking metadata): output
    * is the table's columns plus `_change_type` ∈ insert | delete |
    * update_pre | update_post, comparing the STATE at `fromVersion`
    * against the STATE at `toVersion`, keyed by `keyCols` (a primary
    * key — null keys never match, the MOR delete contract).
    *
    * The range is classified step by step through [[steps]], the same
    * rule the streaming source and the `.changes` feed tail the log
    * with. Fast path: a range whose every step is an append or carries
    * the writer's `#rowsunchanged` marker ([[commitCompaction]] —
    * Delta's `dataChange=false`) is exactly the appends' added files
    * read once, all `insert` — O(delta) I/O, never O(table), EVEN
    * ACROSS a marked rewrite. Any other step — an UNMARKED rewrite, a
    * MOR delete, a restore that drops delete lines — breaks per-file
    * attribution (a rewrite republished every surviving row), and the
    * feed compares the two states ROW-LEVEL — but scoped by the
    * manifest file diff, O(TOUCHED) not O(table): only removed files,
    * added files, and delta-key candidates from shared files whose
    * delete scope changed enter the full-outer key join; untouched
    * rows cancel by construction and are never scanned. (Delta needs materialized
    * row tracking for this; here the manifests' explicit file lists
    * plus the feed's key contract carry the same information.) All
    * paths emit the same schema, so a consumer tails mixed histories
    * with one sink. */
  def readChangesRows(spark: SparkSession, root: String,
      fromVersion: Long, toVersion: Long, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "readChangesRows needs at least one key column")
    require(fromVersion >= 0 && fromVersion <= toVersion,
      s"bad change range ($fromVersion, $toVersion]")
    val rangeSteps = steps(root, fromVersion, toVersion).toSeq
    val to = resolveAt(root, toVersion)
    val from =
      if (fromVersion == 0L) Snapshot(0, Nil) else resolveAt(root, fromVersion)
    val toFiles = to.files.toSet
    if (rangeSteps.forall(s => s.kind == StepKind.Append || s.kind == StepKind.RowsUnchanged)) {
      val added = rangeSteps.filter(_.kind == StepKind.Append).flatMap(_.added)
      if (added.nonEmpty) frame(spark, root, Some(rawFiles(to, added)))
        .withColumn("_change_type", lit("insert"))
      else readAt(spark, root, toVersion).limit(0)
        .withColumn("_change_type", lit("insert"))
    } else {
      // O(TOUCHED) state diff — never O(table). Rows can differ between
      // the two states only in
      //   (a) files REMOVED from the from-manifest (an unmarked rewrite
      //       dropped or re-materialized their rows),
      //   (b) files ADDED to the to-manifest,
      //   (c) SHARED files whose applicable merge-on-read delete sets
      //       changed — and there only rows whose DELETE KEY sits in
      //       the symmetric difference of the two key sets (delta-sized
      //       by construction).
      // A row in an untouched file with unchanged delete scope is
      // byte-identical in both states and cancels in the diff, so the
      // join sides below scan touched files plus delta-key candidates
      // only — the manifest file diff plays the role Delta's row
      // tracking plays, with the caller's keyCols as the row identity
      // (this feed is keyed by contract; Delta needs materialized ids
      // because its CDF is not). A full unmarked rewrite still costs
      // O(table) — correctly, since every row may have moved.
      val fromFileSet = from.files.toSet
      val removedFiles = from.files.filterNot(toFiles)
      val addedFiles = to.files.filterNot(fromFileSet)
      val sharedFiles = from.files.filter(toFiles)
      // POSITION-delete shifts: a shared file whose posdel entry
      // differs between the two states may have flipped row
      // visibility — treat it as touched on BOTH sides (the keyed
      // diff downstream cancels unchanged rows). O(affected files),
      // never O(table): a posdel names exactly the files it hides in.
      val posShifted = sharedFiles.filter(f =>
        from.posDeletes.getOrElse(f, Nil) != to.posDeletes.getOrElse(f, Nil))
      def touchedSide(files: Seq[String], s: Snapshot): Option[DataFrame] =
        if (files.isEmpty) None
        else Some(frame(spark, root, Some(narrowed(s, files))))
      // (c): per shared-file era, compare the applicable delete sets;
      // where they differ, candidate rows are fetched by a semi join
      // against the delta keys and re-checked against the FULL other
      // set (a key can be hidden through a second delete group)
      val shiftGroups = sharedFiles
        .groupBy(f => (from.deletes.filter(d => from.seqOf(f) < d.coversBelow),
          to.deletes.filter(d => to.seqOf(f) < d.coversBelow)))
        .toSeq.sortBy(_._2.min)
        .flatMap { case ((df_, dt_), fs) =>
          if (df_.map(d => (d.keyCol, d.path)).toSet ==
              dt_.map(d => (d.keyCol, d.path)).toSet) Nil
          else (df_ ++ dt_).map(_.keyCol).distinct.sorted.flatMap { g =>
            val fromG = df_.filter(_.keyCol == g)
            val toG = dt_.filter(_.keyCol == g)
            if (fromG.map(_.path).toSet == toG.map(_.path).toSet) Nil
            else {
              val kcols = (fromG ++ toG).head.keyCols
              val empty = frame(spark, root, Some(rawFiles(to, fs.take(1))))
                .select(kcols.map(org.apache.spark.sql.functions.col): _*).limit(0)
              val kf = if (fromG.isEmpty) empty else deleteKeys(spark, fromG, kcols)
              val kt = if (toG.isEmpty) empty else deleteKeys(spark, toG, kcols)
              val newlyHidden = kt.except(kf) // visible at from, gone at to
              val unHidden = kf.except(kt)    // hidden at from, back at to
              // FILE-prune the candidate scan against the delta keys
              // when they are enumerable: with the manifests' per-file
              // `#stats:` bounds (always recorded), a delta whose keys
              // are localized plans only the files that can hold them —
              // the feed's plan stays O(touched) even though the delete
              // lines are table-scoped. Large/multi-column deltas fall
              // back to scanning the era's shared files once with the
              // semi join applied during the scan (the standard MOR
              // read tax, never a two-state shuffle join).
              def pruned(keysDf: DataFrame): Seq[String] =
                if (kcols.size != 1) fs
                else {
                  val sample = keysDf.limit(4097).collect()
                  if (sample.length > 4096) fs
                  else if (sample.isEmpty) Nil
                  else {
                    val vals = sample.map(_.get(0)).filter(_ != null)
                    fs.filter { f =>
                      to.statsRaw.get(f).flatMap(parseStats) match {
                        case None => true // no recorded stats → keep
                        case Some(st) => vals.exists(v =>
                          statsAdmitsRange(st, kcols.head, Some(v), Some(v)))
                      }
                    }
                  }
                }
              // candidate rows as visible in state `s` (its deletes
              // applied, era-scoped, by the one read path)
              def sideOf(keysDf: DataFrame, s: Snapshot): Option[DataFrame] = {
                val cand = pruned(keysDf)
                if (cand.isEmpty) None // no candidate rows — contribute nothing
                else Some(frame(spark, root, Some(narrowed(s, cand)))
                  .join(keysDf, kcols, "left_semi"))
              }
              Seq((sideOf(newlyHidden, from), sideOf(unHidden, to)))
            }
          }
        }
      val preShift = shiftGroups.flatMap(_._1)
      val postShift = shiftGroups.flatMap(_._2)
      // an absent side (no touched files, no shift candidates) shapes
      // itself from the to-state WITHOUT referencing its files in the
      // plan (limit 0 — optimized to an empty relation); a present
      // side references touched files only
      def side(touched: Option[DataFrame], shifts: Seq[DataFrame]): DataFrame = {
        val parts = touched.toSeq ++ shifts
        if (parts.isEmpty) readAt(spark, root, toVersion).limit(0)
        else parts.reduce(_.unionByName(_, allowMissingColumns = true))
      }
      val preRaw = side(touchedSide(removedFiles ++ posShifted, from), preShift)
      val postRaw = side(touchedSide(addedFiles ++ posShifted, to), postShift)
      // a key reachable through two delete groups may surface twice in
      // the shift union; each STATE holds at most one row per key (the
      // feed's primary-key contract), so dedup is exact
      val pre =
        if (fromVersion == 0L) readAt(spark, root, toVersion).limit(0)
        else if (shiftGroups.size > 1) preRaw.dropDuplicates(keyCols)
        else preRaw
      val post =
        if (shiftGroups.size > 1) postRaw.dropDuplicates(keyCols) else postRaw
      val cols = post.columns.toSeq
      require(keyCols.forall(cols.contains),
        s"key columns ${keyCols.mkString(",")} must exist in the table: $cols")
      val others = cols.filterNot(keyCols.contains)
      def pack(df: DataFrame) = df.select(
        struct(keyCols.map(col): _*).as("_k"),
        struct(cols.map(col): _*).as("_r"),
        if (others.isEmpty) lit(0).as("_v") else struct(others.map(col): _*).as("_v"))
      def unpack(side: String, tag: String)(df: DataFrame) =
        df.select(cols.map(c => col(side).getField(c).as(c)) :+
          lit(tag).as("_change_type"): _*)
      val a = pack(pre).withColumnRenamed("_r", "_ra").withColumnRenamed("_v", "_va")
      val b = pack(post).withColumnRenamed("_r", "_rb").withColumnRenamed("_v", "_vb")
      val j = a.join(b, Seq("_k"), "full_outer")
      val ins = unpack("_rb", "insert")(j.filter(col("_ra").isNull && col("_rb").isNotNull))
      val del = unpack("_ra", "delete")(j.filter(col("_rb").isNull && col("_ra").isNotNull))
      val chg = j.filter(col("_ra").isNotNull && col("_rb").isNotNull &&
        !(col("_va") <=> col("_vb")))
      ins.unionByName(del)
        .unionByName(unpack("_ra", "update_pre")(chg))
        .unionByName(unpack("_rb", "update_post")(chg))
    }
  }

  /** Commit one new table version: `write(stagingDir)` materializes the
    * full new file set (any number of Spark writes into that dir), then
    * the manifest publish makes it visible atomically. Returns the
    * committed version. On a writer race, the staged files are discarded
    * and the write re-runs against the next version (bounded retries). */
  def commit(root: String)(write: String => Unit): Long =
    commitImpl(root, carryForward = false, txn = None)(write)

  /** ROW-PRESERVING full rewrite — [[commit]] stamped with the
    * `#rowsunchanged` marker (Delta's `dataChange=false`): the caller
    * declares the staged files hold EXACTLY the logical rows of the
    * parent state (compaction, z-order clustering, MOR-delete
    * absorption). Change-feed readers then attribute zero row changes
    * to this commit ([[readChangesRows]] stays O(delta) across it) and
    * the streaming source passes over it instead of refusing. */
  def commitCompaction(root: String)(write: String => Unit): Long =
    commitImpl(root, carryForward = false, txn = None,
      rowsUnchanged = true)(write)

  /** APPEND commit: like [[commit]], but the published manifest is the
    * previous head's file list PLUS the newly staged files — the table
    * grows without touching (or re-listing) a byte of existing data.
    * This is the ingest-side commit shape: at 100 TB, appending a
    * micro-batch moves only the new files and one small manifest, and
    * [[changedFiles]] hands incremental consumers exactly the delta. */
  def commitAppend(root: String)(write: String => Unit): Long =
    commitImpl(root, carryForward = true, txn = None)(write)

  /** IDEMPOTENT append — the streaming-sink commit shape (Delta's
    * `txnAppId`/`txnVersion`): the committed manifest carries a
    * `#txn:<appId>:<epoch>` header, and a commit whose (appId, epoch)
    * is already present in a retained manifest is SKIPPED (returns the
    * current head untouched). This is what makes a `foreachBatch` sink
    * exactly-once: after a crash between the snapshot commit and the
    * checkpoint write, the restarted query REPLAYS the last micro-batch
    * with the same batchId — the replay must be a no-op, not a
    * double-append. Epochs must be monotonic per appId (Spark batchIds
    * are). Retention caveat, same as Delta's: [[vacuum]] drops expired
    * manifests and their txn tags with them, so `keepLast` must exceed
    * the deepest possible replay window (a restarting stream replays at
    * most its last batch, so any keepLast >= 2 is safe). */
  def commitAppendTxn(root: String, appId: String, epoch: Long)(
      write: String => Unit): Long =
    commitImpl(root, carryForward = true, txn = Some((appId, epoch)))(write)

  /** MERGE-ON-READ delete commit: `write(stagingDir)` materializes a
    * parquet of DELETED KEY VALUES (single column `keyCol`), and the
    * published manifest carries the parent's data files UNCHANGED plus
    * a scoped `#del` line per staged file (prior pending
    * deletes carry forward too). Readers apply the deletes inside the
    * catalog's MOR scan ([[read]]): the delete costs O(deleted keys)
    * written — never a rewrite of the 100 TB base (contrast the
    * copy-on-write DELETE, which republishes every surviving row).
    * Any full rewrite [[commit]] (compaction, a COW statement)
    * publishes no `#del` lines, so it absorbs and clears pending
    * deletes once the survivors are materialized.
    *
    * Contract: `keyCol` must identify rows (a primary key). The delete
    * is SCOPED to the files present when it committed
    * ([[DeleteFile.coversBelow]], the sequence-number rule of Iceberg
    * v2 equality deletes): a later append or [[commitStagedDelta]] that
    * re-adds the key IS visible — no rewrite needed first. */
  def commitDelete(root: String, keyCol: String)(write: String => Unit): Long =
    commitDelete(root, Seq(keyCol))(write)

  /** Composite-key form of [[commitDelete]] for tables with no
    * single-column key (e.g. lineitem's (l_orderkey, l_linenumber)):
    * the staged parquet carries one column per key component and a row
    * is deleted when ALL components match. Same version scoping. */
  def commitDelete(root: String, keyCols: Seq[String])(write: String => Unit): Long = {
    require(keyCols.nonEmpty, "commitDelete needs at least one key column")
    // refused BEFORE staging — [[Manifest.render]] re-checks the joined form
    keyCols.foreach(Manifest.requireKeyName)
    commitImpl(root, carryForward = true, txn = None,
      stagedAsDeletes = Some(keyCols.mkString(",")))(write)
  }

  /** RESTORE (Delta's `RESTORE TABLE ... TO VERSION AS OF`): publish a
    * NEW commit whose file list (and pending-delete lines) are exactly
    * those of `version` — the head rolls back, history rolls forward.
    * No data file moves: the restore is one manifest write referencing
    * the old version's immutable files, so restoring a 100 TB table
    * costs the same few kilobytes as any commit. The rolled-back-over
    * versions stay readable via time travel until vacuum expires them
    * (their files are still referenced by *their* manifests), and the
    * restore itself is a version like any other — re-restoring forward
    * works the same way. Races with concurrent writers resolve through
    * the same atomic create-if-absent commit point. */
  def restore(root: String, version: Long): Long = {
    val snap = resolveAt(root, version) // throws clearly if expired
    publishManifest(root, "restore")((_, _, _) => Manifest.retain(snap, snap.files))
  }

  /** WRITE-AUDIT-PUBLISH (Iceberg's WAP pattern): append the AUDITED
    * head of a staging root into `mainRoot` as one atomic commit, BY
    * REFERENCE — the published manifest lists the staging files in
    * place, so publishing a validated batch moves zero bytes of data
    * no matter its size. The staging root stays independently
    * readable (its own manifests still pin its files), and a failed
    * audit simply never publishes — main never saw the batch.
    *
    * Contract: the staging head must be delete-free (audit against
    * the final rewritten state, then publish), and the staging root
    * must not be vacuumed below the published version while main
    * retains the publish commit — cross-root references are pinned by
    * main's manifest, not by staging's retention (the same lifetime
    * rule Iceberg applies to WAP-staged files before cherry-pick).
    *
    * Delete interplay, both directions correct via `#seq:` pinning:
    * the publish records each staging file's EFFECTIVE sequence number
    * in main (= the publish commit's version), so a main-side MOR
    * delete pending BEFORE the publish does NOT cover the published
    * rows (they weren't in the table when it committed), and a delete
    * committed AFTER the publish DOES — the staging root's own
    * `v########` counters never leak into main's scoping. */
  def publishFrom(mainRoot: String, stagingRoot: String): Long = {
    val snap = resolve(stagingRoot).getOrElse(throw new IllegalStateException(
      s"nothing committed under staging root $stagingRoot"))
    require(snap.deletes.isEmpty && snap.posDeletes.isEmpty,
      s"staging head of $stagingRoot carries pending merge-on-read deletes; " +
        "rewrite (compact) before publishing")
    // by reference: the staging files are listed in place (no data
    // movement), each pinned at the publish version; they belong to the
    // staging root, so no sketches are built for them here
    publishManifest(mainRoot, "publish") { (v, parent, props) =>
      withStaged(carried(parent), snap.files, props,
        pinAt = Some(v), sketch = false)
    }
  }

  /** The parent retained whole — the base of every carry-forward
    * commit. The funnel re-resolves the parent per attempt: after a
    * lost race it is the winner's head, not the one this writer started
    * from. */
  private def carried(parent: Snapshot): Snapshot = Manifest.retain(parent, parent.files)

  /** Writer-unique staging dir for the DataSource-V2 write path, where
    * executors materialize files BEFORE the commit's version is known
    * (a v2 `BatchWrite` stages during the job, commits at the end —
    * the reverse of [[commit]]'s write-inside-callback shape). The
    * `v00000000_` prefix keeps the dir inside [[vacuum]]'s sweep
    * discipline (version 0 = below every retention floor, reclaimed
    * once unreferenced); delete scoping NEVER trusts the path version
    * of these files — [[commitRewriteStaged]]/[[commitStagedDelta]]
    * pin each one with a `#seq:` line at its true commit version. */
  def newStagingDir(root: String): String =
    s"$root/${versionPrefix(0L)}dsv2_${ProcessHandle.current().pid()}_${stageSeq.incrementAndGet()}"

  /** Publish PRE-STAGED files as a FULL-REWRITE commit: the manifest
    * lists exactly `files` (no parent carry, pending deletes cleared —
    * the rewrite materialized the surviving rows), each pinned with a
    * `#seq:` line at the committed version so later MOR deletes scope
    * correctly over them. The v2 copy-on-write commit point
    * (`ReplaceData`).
    *
    * `basedOn` is the WRITE-CONFLICT gate: the version the survivor
    * set was computed against. A full rewrite REPLACES the table, so
    * any commit that lands between that scan and this publish — a
    * concurrent INSERT, streaming append, another statement — holds
    * rows the staged file list has never seen, and publishing over it
    * would silently drop them. When the head has advanced past
    * `basedOn`, the statement aborts with a concurrent-modification
    * error (Delta/Iceberg's serializable-rewrite rule) instead of
    * retrying at a higher version with the stale list; the caller
    * re-runs the whole statement against the new head. Append commits
    * ([[commit]]/[[publishFrom]]) keep their optimistic retry —
    * they re-derive the parent file list inside the loop, so they
    * compose with any interleaving; only the replace path must
    * fail. */
  def commitRewriteStaged(root: String, files: Seq[String],
      allowEmpty: Boolean = false, basedOn: Option[Long] = None,
      rowsUnchanged: Boolean = false, branch: Option[String] = None,
      // materialized row-level effects of this rewrite (`#changes:`
      // sidecars — data columns + _change_type parquet): listed in the
      // SAME manifest, so commit and effects are one atomic unit and
      // retention keeps them while the version is retained
      changeFiles: Seq[String] = Nil): Long = {
    // a direct-API empty rewrite is almost always a bug (a write job
    // that produced nothing) — but a catalog DELETE matching every row
    // legitimately replaces the table with zero files, so the v2 path
    // opts in explicitly
    require(allowEmpty || files.nonEmpty, s"rewrite staged no files under $root")
    publishManifest(root, "staged-rewrite",
      gate = { v =>
        basedOn.foreach { b =>
          if (v != b + 1) throw new java.util.ConcurrentModificationException(
            s"copy-on-write rewrite of $root${branch.fold("")(n => s" (branch $n)")} " +
              s"was planned against version $b but the head is now ${v - 1}: a " +
              "concurrent commit added rows the staged survivor set does not " +
              "contain. Re-run the statement against the current head.")
        }
        true
      }, branch = branch) { (v, _, props) =>
      withStaged(Snapshot(v, Nil), files.sorted, props, pinAt = Some(v))
        .copy(changeFiles = changeFiles.sorted, rowsUnchanged = rowsUnchanged)
    }
  }

  /** Publish a PRE-STAGED merge-on-read delta as ONE atomic commit —
    * the v2 delta-write commit point (`WriteDelta`): the manifest
    * carries the parent's files plus `dataFiles` (new/updated rows),
    * a scoped `#del` line per `delKeyFiles` entry hiding the touched
    * keys' OLD versions, and `#seq:` pins placing the new data files
    * AT this commit's version so the delete lines (coversBelow = this
    * version) hide only pre-existing rows — the staged files' own
    * `v00000000` path segment is never trusted. Cost: O(touched rows)
    * I/O whatever the table size, the Hudi/Iceberg-v2 upsert shape. */
  def commitStagedDelta(root: String, keyCol: String,
      dataFiles: Seq[String], delKeyFiles: Seq[String],
      branch: Option[String] = None): Long = {
    Manifest.requireKeyName(keyCol)
    if (dataFiles.isEmpty && delKeyFiles.isEmpty)
      return branch.map(branchHead(root, _)).getOrElse(maxCommitted(root))
    publishManifest(root, "staged-delta", branch = branch) { (v, parent, props) =>
      require(v > 1L || delKeyFiles.isEmpty,
        s"a merge-on-read delta needs a committed table under $root")
      val base = carried(parent)
      withStaged(base, dataFiles.sorted, props, pinAt = Some(v)).copy(deletes =
        base.deletes ++ delKeyFiles.sorted.map(DeleteFile(keyCol, _, v)))
    }
  }

  /** Publish PRE-STAGED position deletes as ONE atomic commit — the
    * POSITIONAL merge-on-read commit point (the delete form that needs
    * no key column at all): the manifest carries the parent's data
    * files UNCHANGED plus one `#posdel:<datafile>:<posfile>` line per
    * affected data file; `affected` maps each touched data file to the
    * staged `.dv` deletion vector(s) hiding its rows ([[DeleteVectors]]).
    * Unlike equality deletes there is NO version scoping: an ordinal
    * names a row of ONE immutable file, so later appends can never be
    * covered by accident and a rewrite absorbs the delete the moment
    * the file leaves the table. Cost: O(deleted rows/8) bitmap bytes +
    * one manifest — kilobytes on a 100 TB table.
    *
    * Conflict rule: the pairs were computed against a scanned state,
    * so publishing REFUSES (ConcurrentModificationException) if any
    * affected data file has left the table meanwhile (a concurrent
    * rewrite/compaction would strand the delete and silently resurrect
    * the rows); concurrent APPENDS compose — new files are untouched
    * by definition, and the optimistic retry re-resolves the parent. */
  def commitStagedPosDelete(root: String,
      affected: Map[String, Seq[String]],
      dataFiles: Seq[String] = Nil, branch: Option[String] = None): Long = {
    if ((affected.isEmpty || affected.forall(_._2.isEmpty)) && dataFiles.isEmpty)
      return branch.map(branchHead(root, _)).getOrElse(maxCommitted(root))
    publishManifest(root, "staged-posdelete", branch = branch) { (v, parent, props) =>
      require(v > 1L, s"a position delete needs a committed table under $root")
      val live = parent.files.toSet
      val gone = affected.keys.filterNot(live)
      if (gone.nonEmpty) throw new java.util.ConcurrentModificationException(
        s"position delete under $root names files no longer in the table " +
          s"(concurrent rewrite?): ${gone.take(3).mkString(", ")} — re-run " +
          "the statement against the current head")
      // UPDATE's insert half: new data files append beside the posdel
      // lines in the SAME atomic commit, seq-pinned at this version
      val merged = (parent.posDeletes.toSeq ++ affected.toSeq)
        .groupBy(_._1).view.mapValues(_.flatMap(_._2).distinct.sorted)
        .filter(_._2.nonEmpty).toMap
      withStaged(Manifest.retain(parent, parent.files), dataFiles.sorted, props,
        pinAt = Some(v)).copy(posDeletes = merged)
    }
  }

  /** Publish PRE-STAGED files as one IDEMPOTENT append commit — the
    * DataSourceV2 STREAMING-sink commit point: executors stage an
    * epoch's files during the micro-batch ([[newStagingDir]]), and the
    * epoch commit publishes them with a `#txn:<appId>:<epoch>` header
    * plus `#seq:` pins at the committed version (the staged paths'
    * `v00000000` segment is never trusted for delete scoping). A
    * replayed epoch — crash between this commit and the checkpoint
    * write, then restart — finds its txn tag retained and NO-OPS,
    * which is what makes the sink exactly-once (Delta's
    * txnAppId/txnVersion, same rule as [[commitAppendTxn]]); the
    * replay's re-staged files are unreferenced orphans that vacuum
    * reclaims. Empty epochs commit nothing and leave no tag. */
  def commitAppendStagedTxn(root: String, appId: String, epoch: Long,
      files: Seq[String]): Long = {
    if (files.isEmpty) return maxCommitted(root)
    publishManifest(root, "staged-append",
      // idempotence gate, re-checked every attempt: a replayed epoch
      // (crash-restart, or a zombie losing the race to its twin) finds
      // its txn tag already committed and no-ops
      gate = _ => lastTxn(root, appId) < epoch) { (v, parent, props) =>
      withStaged(carried(parent), files.sorted, props, pinAt = Some(v))
        .copy(txn = Some((appId, epoch)))
    }
  }

  /** DELETE-FILE COMPACTION (`rewrite_deletes`): collapse the pending
    * merge-on-read delete files into the fewest files that preserve
    * EXACT read semantics, without touching a byte of table data. MOR
    * deletes stack until a full rewrite absorbs them — at 100 TB,
    * where rewrites are rare and deletes frequent (GDPR streams), the
    * pending set grows one file per statement and every read pays one
    * key-scan per file. This commit re-groups them:
    *
    *  - deletes group by key column, then by SCOPE-EQUIVALENCE: two
    *    pending deletes with coversBelow v₁ < v₂ are equivalent iff NO
    *    data file is staged at a version in [v₁, v₂) — then nothing
    *    distinguishes their coverage, and the merged file safely
    *    carries v₂. A re-insert between them (the era boundary) blocks
    *    the merge: collapsing across it would wrongly hide the
    *    re-inserted keys. The check is metadata-only (manifest file
    *    versions + `#seq` pins).
    *  - each equivalence class unions + dedups its key parquets into
    *    ONE staged file (O(deleted keys) I/O, the only data this
    *    commit moves).
    *
    * The published manifest carries the parent's data files UNCHANGED
    * (seq pins preserved) and the compacted `#del` lines. Readers
    * before the commit use the old delete files (still referenced by
    * their manifests — vacuum's liveness rule keeps them until those
    * versions expire); readers after see identical rows from fewer
    * files. Returns the committed version (the parent's version when
    * there was nothing to compact). Races with concurrent writers
    * re-resolve and re-stage inside the retry loop. */
  def compactDeletes(spark: SparkSession, root: String): Long = {
    // re-planned per attempt through the gate: a lost race means the
    // delete set may have changed, and a post-race no-op (nothing left
    // to merge) short-circuits instead of publishing a redundant commit
    var planned: Seq[(String, Seq[DeleteFile])] = Nil
    var snapAtPlan: Snapshot = null
    var stage: String = null
    publishManifest(root, "delete-compaction",
      gate = { _ =>
        val snap = resolve(root).getOrElse(throw new IllegalStateException(
          s"no committed snapshot under $root"))
        val fileVersions = snap.files.map(snap.seqOf).toSet
        // scope-equivalence classes per key column: sort by coversBelow,
        // split where a data-file version falls inside the gap
        val classes: Seq[(String, Seq[DeleteFile])] =
          snap.deletes.groupBy(_.keyCol).toSeq.sortBy(_._1).flatMap {
            case (keyCol, ds) =>
              val sorted = ds.sortBy(_.coversBelow)
              val grouped = sorted.tail.foldLeft(
                Vector(Vector(sorted.head))) { (acc, d) =>
                val prev = acc.last.last.coversBelow
                val boundary = fileVersions.exists(v => prev <= v && v < d.coversBelow)
                if (boundary) acc :+ Vector(d) else acc.init :+ (acc.last :+ d)
              }
              grouped.map(g => keyCol -> (g: Seq[DeleteFile]))
          }
        // pos sidecars need work when a file carries several
        val posMergeable = snap.posDeletes.exists(_._2.size > 1)
        if (classes.lengthCompare(snap.deletes.size) == 0 && !posMergeable)
          false
        else { planned = classes; snapAtPlan = snap; true }
      },
      onLost = () =>
        if (stage != null) deleteRecursively(Paths.get(stage))) { (v, _, _) =>
      stage = newDataDir(root, v)
      Files.createDirectories(Paths.get(stage))
      val newDels = planned.zipWithIndex.map { case ((keyCol, ds), i) =>
        if (ds.size == 1) ds.head // nothing to merge, reference in place
        else {
          val out = s"$stage/delkeys-$i"
          // files staged on either side of an ALTER COLUMN widening
          // carry different physical widths under the same key column —
          // a single multi-path read would bind all of them to one
          // file's footer schema, so read per file, cast each key to
          // the widest type present, and union
          import org.apache.spark.sql.functions.col
          import org.apache.spark.sql.types._
          def wider(a: DataType, b: DataType): DataType = (a, b) match {
            case _ if a == b => a
            case (IntegerType, LongType) | (LongType, IntegerType) => LongType
            case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
            case (x: DecimalType, y: DecimalType) if x.scale == y.scale =>
              if (y.precision >= x.precision) y else x
            case _ => throw new IllegalStateException(
              s"delete-key files disagree on type for '$keyCol': " +
                s"${a.simpleString} vs ${b.simpleString}")
          }
          val frames = ds.map(_.path).sorted.map { p =>
            val rd = footerSparkSchema(p) match {
              case Some(sc) => spark.read.schema(sc).parquet(p)
              case None => spark.read.parquet(p)
            }
            rd.select(ds.head.keyCols.map(col): _*)
          }
          val widest = frames.map(_.schema.fields.map(_.dataType).toSeq)
            .reduce((x, y) => x.lazyZip(y).map(wider))
          frames.map(f => f.select(ds.head.keyCols.lazyZip(widest).map {
              (c, t) => col(c).cast(t) }.toSeq: _*))
            .reduce(_.unionByName(_)).distinct()
            .coalesce(1).write.mode("append").parquet(out)
          val staged = listParquet(out)
          require(staged.size == 1, s"compaction staged ${staged.size} files")
          DeleteFile(keyCol, staged.head, ds.map(_.coversBelow).max)
        }
      }
      // POSITION deletes compact to ONE DELETION VECTOR per affected
      // data file, scope-free (an ordinal names a row of one immutable
      // file): each file's stacked `.dv`s from several statements OR
      // into a single bitmap re-serialized beside the staged delete
      // keys. O(deleted rows/8) bytes moved, zero table data; a read of
      // one affected file then loads exactly one small bitmap. Files
      // already carrying a single DV keep it in place.
      val posOut: Map[String, Seq[String]] =
        if (!snapAtPlan.posDeletes.exists(_._2.size > 1)) snapAtPlan.posDeletes
        else {
          snapAtPlan.posDeletes.toSeq.sortBy(_._1).zipWithIndex.map {
            case ((f, pfs), _) if pfs.size == 1 => f -> pfs
            case ((f, pfs), i) =>
              val bm = DeleteVectors.loadBitmaps(pfs)
                .getOrElse(f, new org.roaringbitmap.RoaringBitmap)
              val p = s"$stage/dv-$i${DeleteVectors.extension}"
              DeleteVectors.write(p, f, bm)
              f -> Seq(p)
          }.toMap
        }
      // delete-file merge relocates key bytes only — the logical row
      // set is untouched, so change feeds may pass over this commit
      Manifest.retain(snapAtPlan.copy(deletes = newDels, posDeletes = posOut),
        snapAtPlan.files).copy(rowsUnchanged = true)
    }
  }

  /** Highest epoch committed for `appId` among retained manifests
    * (-1 = none): one small header line read per manifest, metadata-only. */
  def lastTxn(root: String, appId: String): Long = {
    val cd = commitsDir(root)
    if (!Files.isDirectory(cd)) -1L
    else {
      val ls = Files.list(cd)
      try ls.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".manifest"))
        .flatMap(Manifest.readTxn)
        .collect { case (`appId`, epoch) => epoch }
        .foldLeft(-1L)(math.max)
      finally ls.close()
    }
  }

  private def commitImpl(root: String, carryForward: Boolean,
      txn: Option[(String, Long)],
      stagedAsDeletes: Option[String] = None,
      rowsUnchanged: Boolean = false,
      branch: Option[String] = None)(write: String => Unit): Long = {
    // the attempt's own staging dir, discarded (and only it) on a lost
    // race before the retry re-stages
    var dataDir: String = null
    publishManifest(root, "commit",
      // idempotence gate, re-checked on every attempt: a replayed epoch
      // (crash-restart, or a zombie writer losing the race to its own
      // twin) finds its txn tag already committed and no-ops
      gate = _ => txn.forall { case (appId, epoch) =>
        lastTxn(root, appId) < epoch },
      onLost = () => deleteRecursively(Paths.get(dataDir)),
      branch = branch) { (v, parent, props) =>
      // writer-unique staging dir: a racing writer at the same version
      // stages elsewhere, so no cross-writer list/append/delete is
      // possible; a crashed writer's dir is an orphan no manifest ever
      // references, invisible to readers and reclaimed by [[vacuum]]
      dataDir = newDataDir(root, v)
      write(dataDir)
      val staged = listParquet(dataDir)
      require(staged.nonEmpty, s"commit produced no data files in $dataDir")
      // pending deletes (and seq pins of carried cross-root files)
      // carry forward on append/delete commits; a full rewrite
      // (carryForward = false) clears them with the files — the rewrite
      // materializes the surviving rows
      val snap = stagedAsDeletes match {
        case Some(keyCol) =>
          if (v == 1L) throw new IllegalStateException(
            s"merge-on-read delete needs a committed table under $root")
          // new delete files are SCOPED to this commit: they cover only
          // files staged at versions < v, so any later append of a
          // deleted key stays visible
          val base = carried(parent)
          base.copy(deletes = base.deletes ++ staged.map(DeleteFile(keyCol, _, v)))
        case None =>
          val base = if (carryForward) carried(parent) else Snapshot(v, Nil)
          withStaged(base, staged, props)
      }
      snap.copy(txn = txn, rowsUnchanged = rowsUnchanged)
    }
  }

  /** The `foreachBatch` binding of [[commitAppendTxn]] — pass
    * `.writeStream.foreachBatch(Snapshots.appendBatch(root, appId) _)`
    * and every micro-batch lands as one idempotent append commit tagged
    * with its batchId: replays after a crash-restart no-op, incremental
    * consumers tail the store via [[readChanges]]. */
  def appendBatch(root: String, appId: String)(df: DataFrame, batchId: Long): Unit =
    // an empty micro-batch commits nothing (and leaves no txn tag —
    // there is nothing a replay of it could duplicate)
    if (!df.isEmpty) commitAppendTxn(root, appId, batchId) { out =>
      df.write.mode("append").parquet(out)
    }

  /** Retention: drop all but the newest `keepLast` committed versions.
    * Readers pinned to a vacuumed snapshot fail on next access, the
    * documented time-travel retention contract (same as Delta's VACUUM).
    *
    * Reference-aware: an APPEND commit's manifest pins files that
    * physically live in OLDER version dirs, so expiring a version
    * deletes its manifest but only those of its data files that no
    * RETAINED manifest still references (Delta's VACUUM rule: expire
    * log entries freely, delete a data file only when unreferenced). */
  def vacuum(root: String, keepLast: Int,
      stagingGraceMs: Long = 24L * 3600 * 1000): Unit = {
    require(keepLast >= 1, "must keep at least the head")
    val head = maxCommitted(root)
    val oldest = math.max(1L, head - keepLast + 1)
    val referenced = (oldest to head).iterator
      .filter(v => Files.exists(manifestPath(root, v)))
      .flatMap { v =>
        val s = resolveAt(root, v)
        // pending delete files, position-delete sidecars and
        // materialized change-effect files are live too
        s.files ++ s.deletes.map(_.path) ++ s.posDeletes.values.flatten ++
          s.changeFiles
      }.toSet ++
      // branch manifests pin their staged (not yet fast-forwarded)
      // work — one retention policy over both logs
      branchReferencedFiles(root)
    (1L until oldest).foreach(v => Files.deleteIfExists(manifestPath(root, v)))
    // sweep data dirs staged below the retention floor — expired
    // versions AND crashed-writer orphans alike. A dir goes away whole
    // (with its _SUCCESS/.crc debris) once no retained manifest
    // references any of its files; in a part-referenced dir (append
    // carry) only the unreferenced files go. Dirs at >= `oldest` are
    // never touched: a version-staged writer stages at >= head, so the
    // floor keeps vacuum clear of live staging (the standard retention
    // caveat — don't vacuum to keepLast=1 under writers mid-stage).
    //
    // EXCEPTION — `v00000000_dsv2_*` dirs ([[newStagingDir]]): DSV2
    // writes stage there BEFORE their commit version exists, so their
    // files are unreferenced BY DESIGN while the write is in flight,
    // and version 0 sits below every retention floor. Reclaiming one
    // mid-write would corrupt the commit it's about to publish.
    // They're swept only after `stagingGraceMs` of quiet (dir mtime —
    // file creation bumps it), the uncommitted-file retention rule
    // Delta/Iceberg vacuum applies.
    val now = System.currentTimeMillis()
    def quiet(p: Path): Boolean =
      try now - Files.getLastModifiedTime(p).toMillis > stagingGraceMs
      catch { case _: Exception => false }
    dataDirsBelow(root, oldest).foreach { dir =>
      val inFlightStaging =
        dir.getFileName.toString.startsWith(versionPrefix(0L)) && !quiet(dir)
      if (!inFlightStaging) sweepUnreferenced(dir, referenced)
    }
    // crashed writers can also leave `.tmp_*` manifest files in
    // _commits (death between staging the bytes and the createLink
    // commit point); nothing references them, so reclaim after the
    // same grace window — without this the _commits listing every
    // maxCommitted/resolve scans grows without bound under crashes
    val cd = commitsDir(root)
    if (Files.isDirectory(cd)) {
      val ls = Files.list(cd)
      try ls.iterator().asScala
        .filter(_.getFileName.toString.startsWith(".tmp_"))
        .filter(quiet)
        .foreach(Files.deleteIfExists(_))
      finally ls.close()
    }
  }

  /** Reclaim files NO retained manifest references — the
    * `remove_orphan_files` maintenance op (same contract as Iceberg's).
    * [[vacuum]] already sweeps below the retention floor; this sweeps
    * the RETAINED version range too, where task retries and crashed
    * writers leave stray parquet NEXT TO live files — strays that
    * never age out under a long (or infinite) retention setting.
    *
    * Orphan = a parquet file under a version-named data dir that no
    * retained manifest lists as data OR pending-delete file, in a dir
    * QUIET for `graceMs` (dir mtime — any in-flight write into a dir
    * bumps it). The quiet guard is the standard older-than rule that
    * keeps the sweep clear of a commit mid-stage: version-staged
    * writers stage at >= head+1 and DSV2 writes under the v00000000
    * staging prefix, and both kinds of dir stay hot until their commit
    * publishes or their writer dies. Concurrent-commit safe: a commit
    * racing the sweep only ADDS references to files it just staged
    * (into a hot dir the sweep skips) or to files already referenced.
    *
    * Metadata-scale: the referenced set is manifest lines only —
    * O(files) strings, never data I/O. Returns
    * (orphans removed, bytes reclaimed). */
  def removeOrphanFiles(root: String, graceMs: Long): (Long, Long) = {
    val head = maxCommitted(root)
    require(head > 0, s"no committed snapshot under $root")
    val oldest = minCommitted(root)
    val referenced = (oldest to head).iterator
      .filter(v => Files.exists(manifestPath(root, v)))
      .flatMap { v =>
        val s = resolveAt(root, v)
        s.files ++ s.deletes.map(_.path) ++ s.posDeletes.values.flatten ++
          s.changeFiles
      }.toSet ++ branchReferencedFiles(root)
    val now = System.currentTimeMillis()
    // quiet = NOTHING in the dir tree modified within the grace window
    // (not just the top dir: a partitioned stage writes into value
    // subdirs, whose churn doesn't bump the top dir's mtime)
    def quiet(p: Path): Boolean = try {
      val walk = Files.walk(p)
      val newest =
        try walk.iterator().asScala
          .map(q => Files.getLastModifiedTime(q).toMillis).max
        finally walk.close()
      now - newest > graceMs
    } catch { case _: Exception => false }
    var removed = 0L
    var bytes = 0L
    dataDirsBelow(root, Long.MaxValue).filter(quiet).foreach { dir =>
      val (r, b) = sweepUnreferenced(dir, referenced)
      removed += r; bytes += b
    }
    (removed, bytes)
  }

  /** ONE sweep body for [[vacuum]] and [[removeOrphanFiles]]: delete
    * the dir's unreferenced parquet AND `.dv` files (each parquet with
    * its bloom sidecars), then the whole dir when nothing in it is
    * referenced — a deletion-vector-only staging dir (a pure positional
    * DELETE stages no parquet) is preserved exactly while its DVs are
    * referenced. Returns (files removed, data bytes reclaimed) — a
    * file that vanishes between the size probe and the delete (a
    * racing sweep) counts toward NEITHER. */
  private def sweepUnreferenced(dir: Path,
      referenced: String => Boolean): (Long, Long) = {
    var removed = 0L
    var bytes = 0L
    val fs = listParquet(dir.toString) ++ listDvFiles(dir.toString)
    fs.filterNot(referenced).foreach { f =>
      val p = Paths.get(f)
      val size = try Files.size(p) catch { case _: Exception => 0L }
      if (Files.deleteIfExists(p)) { removed += 1; bytes += size }
      // the file's bloom sidecars are orphaned with it
      val ls = Files.list(p.getParent)
      try ls.iterator().asScala
        .filter(_.getFileName.toString.startsWith(
          p.getFileName.toString + ".bloom-"))
        .foreach(Files.deleteIfExists(_))
      finally ls.close()
    }
    if (fs.forall(!referenced(_))) deleteRecursively(dir)
    (removed, bytes)
  }

  /** All parquet files under `dir`, RECURSIVELY, skipping `_`-prefixed
    * metadata — a `.partitionBy(col)` write stages its files inside
    * `col=value/` subdirectories, and the manifest must pin those leaf
    * files (their paths carry the partition value, which is what
    * [[readPartitionPruned]] prunes on). Shared with the catalog's
    * staged row-level writes. */
  private[graft] def listParquet(dir: String): Seq[String] = {
    val d = Paths.get(dir)
    val walk = Files.walk(d)
    try walk.iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(_.toAbsolutePath.toString)
      .filter(p => p.endsWith(".parquet") &&
        !Paths.get(p).getFileName.toString.startsWith("_"))
      .toSeq.sorted
    finally walk.close()
  }

  /** Recursive `.dv` (deletion-vector sidecar) listing — the sweeps
    * treat DVs exactly like parquet: candidates when unreferenced,
    * keepers (dir-preserving) when a retained manifest names them. */
  private def listDvFiles(dir: String): Seq[String] = {
    val d = Paths.get(dir)
    val walk = Files.walk(d)
    try walk.iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(_.toAbsolutePath.toString)
      .filter(_.endsWith(DeleteVectors.extension))
      .toSeq.sorted
    finally walk.close()
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
}
