package graft.catalog

import graft.sources.{DeleteVectors, Snapshots}
import graft.sources.Snapshots.Snapshot
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** STREAMING CHANGE FEED over a snapshot-catalog table — the surface
  * that lets a CDC consumer survive a GDPR (position) delete without a
  * manual skip:
  *
  * {{{
  *   spark.readStream.table("snap.default.t.changes")
  *     // data columns + _change_type ('insert' | 'delete')
  *     // + _commit_version + _commit_timestamp
  * }}}
  *
  * The r18 streaming source classifies a position-delete commit as a
  * change commit and REFUSES it (an append-row stream cannot express a
  * removal). This table CAN: its rows are row-level effects, so a
  * posdel commit surfaces exactly the rows its deletion vectors newly
  * hid, tagged `delete` — the streaming twin of the batch row-CDF
  * ([[Snapshots.readChangesRows]]).
  *
  * The feed tails the log through [[Snapshots.steps]], the one rule
  * the plain stream and [[Snapshots.readChangesRows]] classify commits
  * with; offsets, start options (EXCLUSIVE, like the plain stream) and
  * pacing are [[VersionTailStream]]'s. Per step the micro-batch plans,
  * metadata-only:
  *  - the ADDED files → their rows as `insert` (the append path;
  *    initial-snapshot files with pending deletion vectors scan with
  *    the row-ordinal column and SKIP the already-hidden ordinals, so
  *    the feed never resurrects a deleted row);
  *  - the DV DELTA per affected file, both directions (bitmaps(v)
  *    andNot bitmaps(v-1) and the reverse, a driver-side bitmap
  *    subtraction on kilobyte sidecars) → those files re-scanned with
  *    the generated row-ordinal column, EMITTING ONLY the newly-hidden
  *    ordinals as `delete` and the un-hidden ones (a restore) as
  *    `insert` — O(affected files) I/O, never O(table);
  *  - the KEYED-delete delta (a DELETE on a `graft.mor.key` table, or
  *    the delete half of an upsert) → the covered files re-scanned
  *    with the new delete-key sets (lazy [[MorDeleteSet]]s, executor
  *    soft-cached), emitting the previously-VISIBLE rows they hide —
  *    already-hidden rows never re-emit, and an upsert surfaces as
  *    delete + insert in its one commit. Delete lines a step DROPS (a
  *    restore) mirror it: the rows they hid that stay visible emit as
  *    `insert`;
  *  - writer-marked rows-unchanged commits (compaction, DV folds) pass
  *    silently;
  *  - row-changing REWRITES on a `graft.changes.rewriteDiff` table
  *    (r20) scan their PRE-MATERIALIZED `#changes:` sidecars — the
  *    COW writer diffs old vs new state at commit time (multiset
  *    exceptAll, O(touched) sidecar bytes, atomic with the manifest)
  *    and the feed replays the diff verbatim, so a CDC consumer
  *    survives COW DELETE/UPDATE/MERGE — including on partitioned
  *    tables, whose only row-level mode is COW. Rewrites on tables
  *    WITHOUT the property still refuse with a pointer to the
  *    property and the batch row-CDF.
  *
  * DV-carrying scans plan per file so every partition's ordinals bind
  * to one bitmap; ordinals come from the parquet readers' generated
  * row-index column — exact under file splits. Offsets are committed
  * versions ([[VersionOffset]]), replay-deterministic like the plain
  * streaming source. */
private[catalog] object SnapChanges {
  val kind = "changes"
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
  /** Commit wall-clock (micros, from the manifest's `#ts:` header) —
    * the Delta-CDF/Iceberg-changelog parity column downstream CDC
    * consumers key on. Populated at planning time, one metadata read
    * per version step; never null. */
  val CommitTimestampCol = "_commit_timestamp"

  def table(fullName: String, root: String): Table =
    new ChangesTable(fullName, root)
}

private[catalog] class ChangesTable(fullName: String, root: String)
  extends Table with SupportsRead {

  private lazy val dataSchema: StructType =
    new GraftTable(fullName, root, None).schema()

  override def name(): String = fullName

  override def schema(): StructType = StructType(dataSchema.fields ++ Seq(
    StructField(SnapChanges.ChangeTypeCol, StringType, nullable = false),
    StructField(SnapChanges.CommitVersionCol, LongType, nullable = false),
    StructField(SnapChanges.CommitTimestampCol, TimestampType, nullable = true)))

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ)

  /** BATCH reads of the feed (r20, Delta's `table_changes` shape):
    * `spark.read.option("startingVersion", s).option("endingVersion",
    * e).table("snap.ns.t.changes")` plans exactly the micro-batch
    * partitions for the version range `(s, e]` — same effects, same
    * schema, no checkpoint. The start is EXCLUSIVE, like both streams'
    * (unlike Delta's inclusive `table_changes`, which would include
    * version s): `startingVersion` s reads the commits after s, and
    * `startingTimestamp` resolves to a version exactly as the streams
    * resolve it. The start defaults to 0 (initial snapshot + every
    * retained effect), `endingVersion` to the head. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val full = schema()
    () => new Scan with Batch {
      override def readSchema(): StructType = full
      override def description(): String = s"graft change feed $fullName"
      private lazy val stream = new ChangesMicroBatchStream(root, dataSchema, options)
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        val e = Option(options.get("endingVersion")).map(_.trim.toLong)
          .getOrElse(Snapshots.maxCommitted(root))
        stream.planInputPartitions(stream.initialOffset(), VersionOffset(e))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        stream.createReaderFactory()
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new ChangesMicroBatchStream(root, dataSchema, options)
    }
  }
}

/** One planned slice of the change feed: delegate parquet partition +
  * the feed semantics to apply.
  *
  *  - kind [[ChangePartition.Insert]]: emit rows NOT hidden at this
  *    version — skip ordinals in `dvBytes` (the version's own
  *    deletion vectors, per-file) and keys in `prevDels` (the keyed
  *    delete sets applicable to this file group).
  *  - kind [[ChangePartition.PosDelta]]: emit ONLY ordinals in
  *    `dvBytes` (a DV delta) — the posdel effects, `delete` for
  *    newly-hidden ordinals, `insert` for un-hidden ones.
  *  - kind [[ChangePartition.KeyDelta]]: emit rows whose key is in
  *    `newDels` but NOT in `prevDels` — the keyed-delete effects
  *    (rows already hidden by an earlier delete never re-emit). For an
  *    `insert` (un-hide) partition the inputs are mirrored: `newDels`
  *    are the dropped sets at the parent's sequence, `prevDels` the
  *    current sets. Keyed and positional MOR are mutually exclusive
  *    per table, so this kind never carries a bitmap.
  *
  * Delete sets ride as [[MorDeleteSet]] (lazy path form — each
  * executor loads a set once through the shared soft cache), applied
  * under `newSeq`/`prevSeq`, the file group's sequence number in the
  * state each set belongs to. */
private[catalog] final case class ChangePartition(inner: InputPartition,
  version: Long, changeType: String, dvBytes: Array[Byte],
  kind: Int, newDels: Seq[MorDeleteSet] = Nil, newSeq: Long = 0L,
  prevDels: Seq[MorDeleteSet] = Nil, prevSeq: Long = 0L,
  // commit wall-clock micros from the version's #ts header
  commitTs: Long) extends InputPartition

private[catalog] object ChangePartition {
  val Insert = 0
  val PosDelta = 1
  val KeyDelta = 2
  /** Pre-materialized effects (`#changes:` sidecars of a rewrite on a
    * `graft.changes.rewriteDiff` table): the delegate partition scans
    * the sidecar parquet itself; `_change_type` comes from its rows. */
  val Materialized = 3
}

/** One scan of a change-feed step's plan: the files it reads, whether
  * they are `#changes:` sidecars, and how each planned partition is
  * tagged. */
private[catalog] final case class ChangeSlice(files: Seq[String], sidecars: Boolean,
    tag: InputPartition => ChangePartition)

private[catalog] class ChangesMicroBatchStream(root: String,
    dataSchema: StructType, options: CaseInsensitiveStringMap)
  extends VersionTailStream(root, options) {

  /** A step's plan, per its [[Snapshots.StepKind]]:
    *  - rows-unchanged: nothing;
    *  - materialized: the `#changes:` sidecars, verbatim (the diff
    *    already IS insert+delete rows; planning the rewrite's own
    *    files would re-emit every survivor). O(touched rows);
    *  - append or change: a change must not remove files (a rewrite on
    *    a table without the rewrite-diff property refuses); the ADDED
    *    files' visible rows as `insert`, then the delete-set and
    *    position-delete deltas over the parent's files, both
    *    directions — rows newly hidden as `delete`, rows un-hidden (a
    *    restore dropping delete lines) as `insert`. */
  private def slices(st: Snapshots.Step): Seq[ChangeSlice] = {
    val v = st.version
    val ts = st.current.ts
    st.kind match {
      case Snapshots.StepKind.RowsUnchanged => Nil
      case Snapshots.StepKind.Materialized =>
        Seq(ChangeSlice(st.current.changeFiles, sidecars = true, p =>
          ChangePartition(p, v, "", Array.empty, ChangePartition.Materialized,
            commitTs = ts)))
      case _ =>
        require(st.removed.isEmpty,
          s"version $v of $root is a rewrite commit (files replaced) on a " +
            s"table without '${GraftTable.rewriteDiffProp}'; set the " +
            "property to materialize rewrite diffs, or consume batch " +
            "readChangesRows")
        insertSlices(st, ts) ++
          keyDelta(st, "delete", st.current, st.addedDels, st.parent, ts) ++
          keyDelta(st, "insert", st.parent, st.droppedDels, st.current, ts) ++
          posDeltas(st, ts)
    }
  }

  /** The ADDED files' visible rows as `insert` — ordinals the
    * version's own DVs hide and keys its applicable delete sets hide
    * are skipped, so the feed never resurrects a hidden row (the
    * initial chunk is the oldest retained state with its pending
    * deletes applied). */
  private def insertSlices(st: Snapshots.Step, ts: Long): Seq[ChangeSlice] = {
    val snap = st.current
    st.added.groupBy(f => applicableSets(snap, f, snap.deletes)).toSeq
      .sortBy(_._2.head).flatMap { case (dels, fs) =>
        val seq = snap.seqOf(fs.head)
        val (withDv, plain) = fs.partition(snap.posDeletes.contains)
        def insert(files: Seq[String], dv: Array[Byte]) =
          ChangeSlice(files, sidecars = false, p => ChangePartition(p, st.version, "insert", dv,
            ChangePartition.Insert, prevDels = dels, prevSeq = seq, commitTs = ts))
        (if (plain.isEmpty) Nil else Seq(insert(plain, Array.empty))) ++
          // a DV-covered file plans ALONE so its partitions bind to one bitmap
          withDv.map { f =>
            val bm = bitmapsOf(snap, f).getOrElse(new org.roaringbitmap.RoaringBitmap)
            insert(Seq(f), serialize(bm))
          }
      }
  }

  /** The KEYED-delete delta in one direction: rows of the parent's
    * files that `dels` hide in state `hiding` and that state `other`'s
    * full delete sets do not, tagged `changeType`. `delete`: the added
    * sets (a DELETE on a `graft.mor.key` table, or the delete half of
    * an upsert) against the parent — already-hidden rows never
    * re-emit. `insert`: the dropped sets at the parent's sequence
    * against the current sets — the rows a restore un-hides. Only files
    * a set covers are scanned; each group shares one delete scoping. */
  private def keyDelta(st: Snapshots.Step, changeType: String, hiding: Snapshot,
      dels: Seq[Snapshots.DeleteFile], other: Snapshot, ts: Long): Seq[ChangeSlice] =
    if (dels.isEmpty) Nil
    else st.parent.files.sorted
      .map(f => f -> (applicableSets(hiding, f, dels),
        applicableSets(other, f, other.deletes)))
      .filter(_._2._1.nonEmpty)
      .groupBy(_._2).toSeq.sortBy(_._2.head._1)
      .map { case ((hidingSets, otherSets), pairs) =>
        val fs = pairs.map(_._1)
        ChangeSlice(fs, sidecars = false, p => ChangePartition(p, st.version, changeType,
          Array.empty, ChangePartition.KeyDelta, newDels = hidingSets,
          newSeq = hiding.seqOf(fs.head), prevDels = otherSets,
          prevSeq = other.seqOf(fs.head), commitTs = ts))
      }

  /** The POSITION-delete delta of each parent file whose deletes
    * changed: ordinals newly hidden (`andNot(curBm, prevBm)`) as
    * `delete`, ordinals un-hidden (`andNot(prevBm, curBm)`) as
    * `insert` — a driver-side bitmap subtraction on kilobyte sidecars;
    * each file plans alone so its partitions bind to one bitmap. */
  private def posDeltas(st: Snapshots.Step, ts: Long): Seq[ChangeSlice] = {
    val shared = st.parent.files.toSet
    st.posTouched.filter(shared).flatMap { f =>
      val curBm = bitmapsOf(st.current, f).getOrElse(new org.roaringbitmap.RoaringBitmap)
      val prevBm = bitmapsOf(st.parent, f).getOrElse(new org.roaringbitmap.RoaringBitmap)
      Seq("delete" -> org.roaringbitmap.RoaringBitmap.andNot(curBm, prevBm),
          "insert" -> org.roaringbitmap.RoaringBitmap.andNot(prevBm, curBm))
        .filterNot(_._2.isEmpty).map { case (changeType, delta) =>
          val dv = serialize(delta)
          ChangeSlice(Seq(f), sidecars = false, p => ChangePartition(p, st.version,
            changeType, dv, ChangePartition.PosDelta, commitTs = ts))
        }
    }
  }

  override protected def stepFiles(st: Snapshots.Step): Seq[String] =
    slices(st).flatMap(_.files)

  override protected def planSteps(steps: Seq[Snapshots.Step]): Array[InputPartition] =
    steps.flatMap(slices).flatMap { sl =>
      val scan = if (sl.sidecars) scanEffects(sl.files) else scanOver(sl.files)
      scan.toBatch.planInputPartitions().map(sl.tag)
    }.toArray

  private val rowIdxField = StructField(GraftRowId.RowIdxTmp, LongType, nullable = true)

  /** Scan over exactly `files`, requesting the data columns plus the
    * generated row-ordinal column (same planning path as a batch read
    * of the slice). PARTITIONED/LAYOUT tables serve too (r20): the
    * per-slice index re-attaches path-only partition values and parses
    * synthetic bucket/transform segments exactly like the plain
    * streaming source, and the feed's readers remap the scan's output
    * BY NAME (a partition-aware scan reorders partition columns last —
    * see [[scanOutSchema]]), so no column can ever mis-map. */
  private def scanOver(files: Seq[String]): Scan = {
    val props = GraftTable.declaredMeta(root)._2
    val phys = GraftTable.physOf(props)
    require(phys.isEmpty,
      s"the change feed of $root is unsupported while re-added columns " +
        s"(${phys.keys.mkString(", ")}) carry a physical-name remap")
    val b = GraftScans.parquetBuilder(spark,
      files, StructType(dataSchema.fields :+ rowIdxField), options,
      partSchema = GraftMicroBatchStream.layoutPartSchema(root, dataSchema))
    b.pruneColumns(StructType(dataSchema.fields :+ rowIdxField))
    b.build()
  }

  /** The scan's OUTPUT order — `readSchema()` of the planned scan,
    * which differs from the requested order on partitioned tables
    * (path-served columns re-attach last). File-list independent:
    * determined by the schema split alone. */
  private lazy val scanOutSchema: StructType = scanOver(Nil).readSchema()

  /** Scan over a rewrite's `#changes:` sidecar parquet: the table's
    * data columns plus the per-row `_change_type` — FLAT files (the
    * diff materializes partition values as ordinary columns), so no
    * partition index and no row ordinal. */
  private def scanEffects(files: Seq[String]): Scan = {
    val schema = StructType(dataSchema.fields :+
      StructField(SnapChanges.ChangeTypeCol, StringType, nullable = false))
    val b = GraftScans.parquetBuilder(spark, files, schema, options)
    b.pruneColumns(schema)
    b.build()
  }

  private lazy val matOutSchema: StructType = scanEffects(Nil).readSchema()

  private def bitmapsOf(snap: Snapshot, file: String): Option[org.roaringbitmap.RoaringBitmap] =
    snap.posDeletes.get(file).map(pfs =>
      DeleteVectors.loadBitmaps(pfs)
        .getOrElse(file, new org.roaringbitmap.RoaringBitmap))

  private def serialize(bm: org.roaringbitmap.RoaringBitmap): Array[Byte] = {
    // clone before the optimizing mutation: the insert path hands in
    // loadBitmaps' JVM-shared cached instance, which concurrent
    // same-JVM readers probe (RoaringBitmap is not thread-safe under
    // mutation)
    val own = bm.clone()
    own.runOptimize()
    val bos = new java.io.ByteArrayOutputStream()
    own.serialize(new java.io.DataOutputStream(bos))
    bos.toByteArray
  }

  /** The keyed delete groups of `dels` covering file `f` at `snap`
    * ([[MorDeleteSet.applies]] under the file's sequence number), as
    * plan-serializable lazy [[MorDeleteSet]]s grouped by key-column
    * tuple. Every delete in the sets covers every file sharing them,
    * so any such file's number applies them. Key columns must resolve in the
    * CURRENT data schema (a renamed-away key spelling refuses toward
    * the batch row-CDF, which owns the ledger indirection). */
  private def applicableSets(snap: Snapshot, f: String,
      dels: Seq[Snapshots.DeleteFile]): Seq[MorDeleteSet] = {
    val applicable = dels.filter(d =>
      MorDeleteSet.applies(d.coversBelow, snap.seqOf(f)))
    applicable.groupBy(_.keyCols).toSeq.sortBy(_._1.mkString(","))
      .map { case (kcs, group) =>
        kcs.foreach(k => require(dataSchema.fieldNames.contains(k),
          s"the change feed of $root cannot resolve delete-key column " +
            s"'$k' in the current schema (renamed or dropped) — consume " +
            "batch readChangesRows, which resolves the rename ledgers"))
        // key ordinals index the SCAN's output row (partition-aware
        // scans re-order path-served columns last) — resolved by name
        MorDeleteSet(kcs.map(scanOutSchema.fieldIndex),
          kcs.map(k => dataSchema(k).dataType), inline = None,
          files = group.map(d => d.path -> d.coversBelow).sorted, keyNames = kcs)
      }
  }

  /** One parquet reader factory (schema + conf only, file-list
    * independent) serves every partition; the wrapper applies the
    * partition's bitmap rule and appends the change columns. */
  private lazy val innerFactory: PartitionReaderFactory = {
    val head = Snapshots.resolve(root).map(_.files).getOrElse(Nil)
    scanOver(head).toBatch.createReaderFactory()
  }

  /** Sibling factory for the materialized-effects sidecar scans
    * (different schema: data columns + `_change_type`, no ordinal). */
  private lazy val matFactory: PartitionReaderFactory =
    scanEffects(Nil).toBatch.createReaderFactory()

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangesReaderFactory(innerFactory, dataSchema.fields.map(_.dataType),
      // NAME-BASED source mapping (r20): position of each output column
      // — and of the generated row ordinal — in the scan's output row,
      // so a partition-reordered scan can never mis-map a column
      srcOrdinals = dataSchema.fieldNames.map(scanOutSchema.fieldIndex),
      ordIdx = scanOutSchema.fieldIndex(GraftRowId.RowIdxTmp),
      mat = matFactory,
      matSrcOrdinals = dataSchema.fieldNames.map(matOutSchema.fieldIndex),
      matTypeIdx = matOutSchema.fieldIndex(SnapChanges.ChangeTypeCol))

  override def toString: String = s"ChangesMicroBatchStream($root)"
}

private[catalog] class ChangesReaderFactory(inner: PartitionReaderFactory,
    dataTypes: Array[DataType],
    // source position of each emitted column / of the row ordinal in
    // the delegate's output row (name-resolved at planning — partition-
    // aware scans serve path columns last)
    srcOrdinals: Array[Int], ordIdx: Int,
    // the materialized-sidecar twin: its factory, its column mapping,
    // and the position of the per-row `_change_type`
    mat: PartitionReaderFactory, matSrcOrdinals: Array[Int],
    matTypeIdx: Int) extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = false

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val cp = partition.asInstanceOf[ChangePartition]
    val n = dataTypes.length
    if (cp.kind == ChangePartition.Materialized) {
      // sidecar rows ARE the effects — copy by name, type from the row
      val delegate = mat.createReader(cp.inner)
      return new PartitionReader[InternalRow] {
        private var current: InternalRow = _
        override def next(): Boolean = {
          if (!delegate.next()) return false
          val row = delegate.get()
          val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(n + 3)
          var i = 0
          while (i < n) {
            val src = matSrcOrdinals(i)
            out.update(i, if (row.isNullAt(src)) null else row.get(src, dataTypes(i)))
            i += 1
          }
          out.update(n, row.getUTF8String(matTypeIdx).copy())
          out.update(n + 1, cp.version)
          out.update(n + 2, cp.commitTs)
          current = out
          true
        }
        override def get(): InternalRow = current
        override def close(): Unit = delegate.close()
      }
    }
    val delegate = inner.createReader(cp.inner)
    val bm =
      if (cp.dvBytes.isEmpty) None
      else {
        val b = new org.roaringbitmap.RoaringBitmap()
        b.deserialize(new java.io.DataInputStream(
          new java.io.ByteArrayInputStream(cp.dvBytes)))
        Some(b)
      }
    // resolve each group's covers ONCE per task (executor-wide cache)
    val newCovers = cp.newDels.map(_.covers)
    val prevCovers = cp.prevDels.map(_.covers)
    def keyHit(row: InternalRow, dels: Seq[MorDeleteSet],
        covers: Seq[MorDeleteSet.Covers], seq: Long): Boolean = {
      var i = 0
      while (i < dels.length) {
        if (dels(i).hides(row, covers(i), seq)) return true
        i += 1
      }
      false
    }
    val typeUtf8 = org.apache.spark.unsafe.types.UTF8String.fromString(cp.changeType)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (delegate.next()) {
          val row = delegate.get()
          val ord = if (row.isNullAt(ordIdx)) -1L else row.getLong(ordIdx)
          val dvHit = bm.exists(b =>
            ord >= 0L && ord <= Int.MaxValue && b.contains(ord.toInt))
          val emit = cp.kind match {
            // the version's visible rows: not DV-hidden, not key-hidden
            case ChangePartition.Insert =>
              !dvHit && !keyHit(row, cp.prevDels, prevCovers, cp.prevSeq)
            // exactly the newly-hidden ordinals
            case ChangePartition.PosDelta => dvHit
            // newly key-hidden rows that were previously visible
            case ChangePartition.KeyDelta =>
              keyHit(row, cp.newDels, newCovers, cp.newSeq) &&
                !keyHit(row, cp.prevDels, prevCovers, cp.prevSeq)
            case other => throw new IllegalStateException(
              s"unknown change-partition kind $other")
          }
          if (emit) {
            val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(n + 3)
            var i = 0
            while (i < n) {
              val src = srcOrdinals(i)
              out.update(i, if (row.isNullAt(src)) null else row.get(src, dataTypes(i)))
              i += 1
            }
            out.update(n, typeUtf8)
            out.update(n + 1, cp.version)
            out.update(n + 2, cp.commitTs)
            current = out
            return true
          }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = delegate.close()
    }
  }
}
