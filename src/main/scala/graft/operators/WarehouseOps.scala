package graft.operators

import graft.{Qx, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Warehouse-maintenance operators (SURVEY §2.13): multi-dimensional
  * data-layout clustering and ANALYZE-style statistics collection.
  *
  * Reference basis: the reference keeps one analytic store that is
  * scanned by range predicates over several keys at once and re-ingested
  * continuously (/root/reference/README.md:3,7-9) — exactly the workload
  * where a warehouse earns its keep through LAYOUT (cluster the files so
  * zone maps prune every predicate dimension) and STATISTICS (the
  * optimizer's row/ndv estimates). Both are first-class maintenance jobs
  * in any 100 TB deployment (Delta `OPTIMIZE ZORDER`, `ANALYZE TABLE`).
  */
object WarehouseOps {

  type Q = (SparkSession, String) => DataFrame

  /** Z-order layout clustering over (l_partkey, l_suppkey).
    *
    * The native [[graft.functions.InterleaveBits]] expression computes
    * each row's Morton key; the query then buckets rows by the key's
    * 12-bit-truncated prefix — each `zcell` is exactly one cell of the
    * 2-D grid `(l_partkey >> 6, l_suppkey >> 6)`, i.e. what one output
    * file would contain after `repartitionByRange($"z")` + write. The
    * per-cell part/supp min-max spans ARE the parquet zone-map bounds
    * that layout would produce: bounded spans in BOTH dimensions is the
    * property that lets a 100 TB scan with a predicate on EITHER key
    * prune to a thin band of files, which a single-column sort cannot do.
    *
    * Scale: one codegen'd projection (the expression is ~12 ALU ops,
    * branch-free) + one hash aggregation on the cell key — map-side
    * combined, no window, no sort of the full data. At a real 100 TB
    * write the same `z` feeds `repartitionByRange` (range exchange via
    * sampled bounds) and the files come out cell-clustered.
    */
  val layoutZorder: Q = (s, dir) => {
    import s.implicits._
    graft.functions.BitExprs.register(s)
    Tables.load(s, dir, "lineitem")
      .select($"l_partkey", $"l_suppkey")
      .withColumn("z", expr("interleave_bits(l_partkey, l_suppkey)"))
      .withColumn("zcell", shiftright($"z", 12).cast("long"))
      .groupBy($"zcell")
      .agg(
        count(lit(1)).as("n_rows"),
        min($"l_partkey").as("part_min"), max($"l_partkey").as("part_max"),
        min($"l_suppkey").as("supp_min"), max($"l_suppkey").as("supp_max"))
      .select($"zcell", $"n_rows",
        $"part_min", $"part_max", ($"part_max" - $"part_min").as("part_span"),
        $"supp_min", $"supp_max", ($"supp_max" - $"supp_min").as("supp_span"))
      .orderBy($"zcell")
  }

  /** The oracle evaluates the identical Morton key arithmetically: bit i
    * of each operand, extracted with integer div/mod, shifted to its
    * interleaved position — exact integer math both engines reproduce. */
  private val zSql: String = (0 until 16).map { i =>
    s"((l_partkey // ${1L << i}) % 2) * ${1L << (2 * i)}" +
      s" + ((l_suppkey // ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
  }.mkString(" + ")

  private val profiledCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** ANALYZE-style one-pass column profile of lineitem's measures: row
    * count, null count, exact NDV, min/max, and mean per column, emitted
    * as one row per column — the statistics a cost-based optimizer (and
    * any data-quality gate) runs against every warehouse table.
    *
    * One aggregation over one scan computes all four columns' metrics
    * (Spark plans the multi-distinct via a single Expand — one shuffle,
    * ×4 row multiplication, no per-column rescan of the 100 TB input);
    * the per-column pivot to rows happens on the single result row.
    * Mean = exact DECIMAL(38,6) sum ÷ non-null count, so both engines
    * divide identical doubles (SURVEY §0.2.2); min/max/ndv are raw data
    * values, accumulation-order-free.
    */
  val profileTable: Q = (s, dir) =>
    profile(Tables.load(s, dir, "lineitem"), profiledCols)

  /** One-pass multi-column profile over any numeric columns of `df` —
    * the reusable core of [[profileTable]] (edge-cased on null-bearing
    * micro fixtures in EdgeCaseSpec). */
  private[graft] def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs: Seq[Column] = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}_cnt"),
        countDistinct(col(c)).as(s"${c}_nd"),
        min(col(c)).as(s"${c}_min"),
        max(col(c)).as(s"${c}_max"),
        sum(col(c).cast(DecimalType(38, 6))).as(s"${c}_sum"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map { c =>
        struct(
          lit(c).as("col_name"),
          col("n_rows"),
          (col("n_rows") - col(s"${c}_cnt")).as("n_nulls"),
          col(s"${c}_nd").as("n_distinct"),
          col(s"${c}_min").as("min_v"),
          col(s"${c}_max").as("max_v"),
          (col(s"${c}_sum").cast("double") / col(s"${c}_cnt")).as("avg_v"))
      }: _*)).as("p"))
      .select(col("p.*"))
      .orderBy(col("col_name"))
  }

  /** The z-order WRITE path end to end: lineitem is range-partitioned
    * on the Morton key ([[layoutZorder]] computes the same key's cell
    * stats analytically), sorted within partitions, written to parquet,
    * and RE-READ through a two-dimensional predicate — the exact
    * workload the layout exists for. The oracle filters the original
    * table directly, so the check proves the clustered write is
    * lossless and the layout is purely physical. ZorderSinkSpec opens
    * each written file and asserts both dimensions' min/max spans are
    * bounded — the zone-map evidence at the FILE level, which is what
    * a 100 TB scan's row-group pruning actually consults.
    *
    * `repartitionByRange` samples range bounds; the bounds (hence file
    * membership) may vary run to run, but the query RESULT is
    * layout-independent by construction — only scan cost varies.
    * Locally the pruning shows as parquet row-group stats; results are
    * identical either way, which is exactly the claim. */
  val sinkParquetZordered: Q = (s, dir) => {
    import s.implicits._
    graft.functions.BitExprs.register(s)
    val out = Qx.tmpOut("zord", dir)
    val zsorted = Tables.load(s, dir, "lineitem")
      .select($"l_partkey", $"l_suppkey", $"l_quantity", $"l_extendedprice")
      .withColumn("z", expr("interleave_bits(l_partkey, l_suppkey)"))
      .repartitionByRange(8, $"z")
      .sortWithinPartitions($"z")
      .drop("z")
    zsorted.write.mode("overwrite").parquet(out)
    // the 2-D band is non-vacuous at EVERY SF (keys scale with SF;
    // 20≤part<120 ∧ 2≤supp<8 matches 1806/176/19 rows at
    // sf0.001/0.01/0.1 — §0.2.8 teeth at all scales).
    // Read back under the writer's own schema — skips the one-footer
    // schema-inference job (guide §7.3 driver work).
    s.read.schema(zsorted.schema).parquet(out)
      .filter($"l_partkey" >= 20 && $"l_partkey" < 120 &&
        $"l_suppkey" >= 2 && $"l_suppkey" < 8)
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n"), Qx.dsum($"l_quantity").as("qty"))
      .orderBy($"l_suppkey")
  }

  /** Small-file compaction (Delta/Iceberg `OPTIMIZE`) — the table-
    * maintenance companion to [[sinkParquetZordered]]: incremental
    * appends (the exact output shape of repeated `cdc_merge_apply`
    * deltas) leave a directory of many small files whose clustering-key
    * ranges all overlap, so every scan touches every file; compaction
    * bin-packs them back to a few target-size files with DISJOINT
    * Morton ranges, restoring the zone-map pruning the z-order layout
    * exists for. Reference basis: a continuously re-ingested warehouse
    * store (/root/reference/README.md:3,7).
    *
    * Stage 1 simulates the fragmentation: 8 delta slices (split on a
    * key orthogonal to the clustering dims) each append one z-sorted
    * file — sorted WITHIN itself, overlapping every other delta
    * globally. Stage 2 is the compaction job itself: read the
    * fragmented table, recompute the Morton key (~12 ALU ops/row —
    * cheaper than persisting it), `repartitionByRange` to the target
    * file count, sort within, rewrite. One range exchange of the data;
    * at 100 TB the job runs per partition-of-the-table, not globally.
    * The re-read through a 2-D predicate + the ORIGINAL-table oracle
    * prove the round trip is lossless (same recipe as
    * [[sinkParquetZordered]]); Round8OpsSpec asserts the physical
    * evidence — file count drops 8→≤4 and per-file bounding boxes
    * shrink from ~global to cell-local. */
  val layoutCompact: Q = (s, dir) => {
    import s.implicits._
    graft.functions.BitExprs.register(s)
    val frag = Qx.tmpOut("frag", dir)
    val compacted = Qx.tmpOut("compacted", dir)
    // persist the projected+interleaved base for the 8 slice writes:
    // without it each write re-decodes the full lineitem parquet and
    // recomputes the Morton key (8× the scan work for 1/8th-slice
    // outputs each — guide §5 "reused AND recomputing is expensive");
    // unpersisted before returning, so nothing survives the query
    val base = Tables.load(s, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey", $"l_suppkey",
        $"l_quantity", $"l_extendedprice")
      .withColumn("z", expr("interleave_bits(l_partkey, l_suppkey)"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the 8 single-file slice writes are independent — run them as
    // overlapping jobs (guide §2.6), one per subdir so each write job
    // commits its own _temporary; serial they cost 8 × (cache scan +
    // sort + parquet encode) of wall for no reason
    Qx.inParallel(0 until 8) { d =>
      base.filter($"l_orderkey" % 8 === d)
        .drop("l_orderkey")
        .coalesce(1).sortWithinPartitions($"z")
        .drop("z")
        .write.mode("overwrite").parquet(s"$frag/f$d")
    }
    base.unpersist(blocking = false)
    // fragment/compacted read-backs under the writer's own schema —
    // skips two schema-inference jobs (guide §7.3 driver work); the
    // slice writes dropped (l_orderkey, z) from the persisted base
    val fragSchema = org.apache.spark.sql.types.StructType(
      base.schema.filterNot(f => f.name == "l_orderkey" || f.name == "z"))
    s.read.schema(fragSchema).parquet((0 until 8).map(d => s"$frag/f$d"): _*)
      .withColumn("z", expr("interleave_bits(l_partkey, l_suppkey)"))
      .repartitionByRange(4, $"z")
      .sortWithinPartitions($"z")
      .drop("z")
      .write.mode("overwrite").parquet(compacted)
    // same proven-non-vacuous 2-D band as sink_parquet_zordered
    // (1806/176/19 rows at sf0.001/0.01/0.1); different measure so the
    // two checks are independent
    s.read.schema(fragSchema).parquet(compacted)
      .filter($"l_partkey" >= 20 && $"l_partkey" < 120 &&
        $"l_suppkey" >= 2 && $"l_suppkey" < 8)
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n"), Qx.dsum($"l_extendedprice").as("revenue"))
      .orderBy($"l_suppkey")
  }

  /** The compaction rewrite under the SNAPSHOT-COMMIT protocol
    * ([[graft.sources.Snapshots]]) — [[layoutCompact]]'s missing atomic
    * half. `layout_compact` rewrites the directory in place
    * (`mode("overwrite")`), which at 100 TB with concurrent readers can
    * expose a partially rewritten listing; here the SAME fragment →
    * compact maintenance cycle runs as two versioned commits:
    *
    *   1. commit v(N):   8 overlapping z-sorted delta files — the
    *      fragmented state repeated `cdc_merge_apply` appends leave;
    *   2. commit v(N+1): the compaction job reads the CURRENT head
    *      through its manifest (never a directory glob), bin-packs to 4
    *      cell-local files via one range exchange on the recomputed
    *      Morton key, and publishes them with one atomic manifest
    *      create — readers resolve all-old or all-new, never a mix
    *      (interleaved-reader proof in Round9OpsSpec);
    *   3. the query then reads through the resolved head and re-checks
    *      the 2-D band against the ORIGINAL table — lossless through
    *      the whole versioned cycle;
    *   4. `vacuum(keepLast = 4)` bounds retained versions, so repeated
    *      maintenance runs don't accumulate table copies (the
    *      time-travel retention contract).
    *
    * Scale: identical data movement to [[layoutCompact]] (one range
    * exchange of the fragmented data; the commit itself moves one small
    * metadata file) — atomicity costs nothing at 100 TB. */
  val tableCommitSwap: Q = (s, dir) => {
    import s.implicits._
    import graft.sources.Snapshots
    graft.functions.BitExprs.register(s)
    val root = Qx.tmpOut("snaptbl", dir)
    // persisted for the 8 slice writes, same reason as [[layoutCompact]]
    val base = Tables.load(s, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey", $"l_suppkey",
        $"l_quantity", $"l_extendedprice")
      .withColumn("z", expr("interleave_bits(l_partkey, l_suppkey)"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Snapshots.commit(root) { out =>
      // overlapping independent write jobs, one subdir each (the commit
      // lists the staging dir recursively) — same rows, same 8 z-sorted
      // files, ~max() instead of sum() of the write walls
      Qx.inParallel(0 until 8) { d =>
        base.filter($"l_orderkey" % 8 === d)
          .drop("l_orderkey")
          .coalesce(1).sortWithinPartitions($"z")
          .drop("z")
          .write.mode("append").parquet(s"$out/f$d")
      }
    }
    base.unpersist(blocking = false)
    val head = Snapshots.read(s, root)
      .withColumn("z", expr("interleave_bits(l_partkey, l_suppkey)"))
    // the compaction relocates rows without changing them — stamped
    // rows-unchanged so change feeds stay O(delta) across it
    Snapshots.commitCompaction(root) { out =>
      head.repartitionByRange(4, $"z")
        .sortWithinPartitions($"z")
        .drop("z")
        .write.parquet(out)
    }
    Snapshots.vacuum(root, keepLast = 4)
    // same proven-non-vacuous 2-D band as the layout siblings
    // (1806/176/19 rows at sf0.001/0.01/0.1); both measures at once so
    // the check is independent of either sibling's
    Snapshots.read(s, root)
      .filter($"l_partkey" >= 20 && $"l_partkey" < 120 &&
        $"l_suppkey" >= 2 && $"l_suppkey" < 8)
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n"),
        Qx.dsum($"l_quantity").as("qty"),
        Qx.dsum($"l_extendedprice").as("revenue"))
      .orderBy($"l_suppkey")
  }

  /** TIME TRAVEL over the snapshot store ([[graft.sources.Snapshots]]):
    * the query Delta serves with `VERSION AS OF`. Three commits build
    * the table up — a rewrite commit of the `l_orderkey%3==0` slice,
    * then two APPEND commits adding the `%3==1` and `%3==2` slices
    * (an append manifest carries the previous head's file list forward,
    * so the table grows without moving or re-listing a byte of existing
    * data — the ingest-side commit shape). The result aggregates each
    * of the three versions THROUGH ITS OWN manifest, proving every
    * historical version resolves to exactly the state it was committed
    * with even after later commits land. `vacuum(keepLast = 3)` bounds
    * retained history across repeated runs (Bench passes) without
    * touching the three versions this run reads.
    *
    * Scale: time travel is free at read time — resolving v(N) reads one
    * small manifest; no data is copied to preserve history because
    * committed files are immutable. The three aggregations are plain
    * map-side-combined hash aggs over their pinned file sets. */
  val snapshotTimeTravel: Q = (s, dir) => {
    import s.implicits._
    import graft.sources.Snapshots
    val root = Qx.tmpOut("snaptt", dir)
    val base = Tables.load(s, dir, "lineitem")
      .select($"l_orderkey", $"l_returnflag", $"l_extendedprice")
    def slice(m: Int) = base.filter($"l_orderkey" % 3 === m).drop("l_orderkey")
    val v1 = Snapshots.commit(root)(out =>
      slice(0).write.mode("append").parquet(out))
    val v2 = Snapshots.commitAppend(root)(out =>
      slice(1).write.mode("append").parquet(out))
    val v3 = Snapshots.commitAppend(root)(out =>
      slice(2).write.mode("append").parquet(out))
    Snapshots.vacuum(root, keepLast = 3)
    Seq((1, v1), (2, v2), (3, v3)).map { case (step, v) =>
      Snapshots.readAt(s, root, v)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), Qx.dsum($"l_extendedprice").as("revenue"))
        .select(lit(step).as("step"), $"l_returnflag", $"n", $"revenue")
    }.reduce(_ union _).orderBy($"step", $"l_returnflag")
  }

  /** INCREMENTAL READ (file-level change feed) over the snapshot store:
    * what an incremental consumer — a downstream materialization, a
    * backfill catch-up, a streaming-ish tailer — reads to process ONLY
    * what landed since the version it last saw. Same three-commit
    * append build as [[snapshotTimeTravel]] (over `orders`); the result
    * aggregates two change ranges, `(v2, v3]` (just the last delta) and
    * `(v1, v3]` (the last two), each resolved as a manifest set
    * difference.
    *
    * Scale: the diff is METADATA-ONLY — two small manifest reads and a
    * set subtraction hand the consumer an explicit delta file list; the
    * 100 TB base is never re-listed, let alone re-scanned. This is the
    * property that makes "process what's new since yesterday" cost
    * proportional to the delta, not the table. */
  val snapshotIncrementalRead: Q = (s, dir) => {
    import s.implicits._
    import graft.sources.Snapshots
    val root = Qx.tmpOut("snapinc", dir)
    val base = Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
    def slice(m: Int) = base.filter($"o_orderkey" % 3 === m).drop("o_orderkey")
    val v1 = Snapshots.commit(root)(out =>
      slice(0).write.mode("append").parquet(out))
    val v2 = Snapshots.commitAppend(root)(out =>
      slice(1).write.mode("append").parquet(out))
    val v3 = Snapshots.commitAppend(root)(out =>
      slice(2).write.mode("append").parquet(out))
    Snapshots.vacuum(root, keepLast = 3)
    Seq((1, v1), (2, v2)).map { case (fromStep, fromV) =>
      Snapshots.readChanges(s, root, fromV, v3)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"), Qx.dsum($"o_totalprice").as("total"))
        .select(lit(fromStep).as("from_step"), $"o_orderpriority", $"n", $"total")
    }.reduce(_ union _).orderBy($"from_step", $"o_orderpriority")
  }

  /** SCHEMA EVOLUTION across snapshot commits: v1 commits `orders`
    * rows WITHOUT the `o_band` column; an append commit adds rows that
    * CARRY it. The first commit declares the root's schema and the
    * append widens it by `o_band` (ALTER TABLE ADD COLUMN's effect,
    * at commit), so the head read presents the widened declaration and
    * pre-evolution rows surface `o_band = NULL` (folded to 'none' here
    * so the grouping is total) — while a time-travel read of v1 still
    * presents exactly the pre-evolution schema (spec-pinned in
    * Round9OpsSpec). History is never rewritten: the column "appears"
    * retroactively at read time, the Delta/Iceberg add-column
    * contract, and what lets a 100 TB table grow a column with zero
    * data movement.
    *
    * Scale: the commit check reads one footer per ADDED file on the
    * driver; the head read reads the declaration, no footer; the
    * aggregate itself is one map-side-combined hash agg. The oracle recomputes both eras from the ORIGINAL table, so
    * a lost row, a mis-nulled column, or a schema resolution that
    * drops either era hash-mismatches. */
  val snapshotSchemaEvolution: Q = (s, dir) => {
    import s.implicits._
    import graft.sources.Snapshots
    val root = Qx.tmpOut("snapevo", dir)
    val o = Tables.load(s, dir, "orders")
    Snapshots.commit(root)(out =>
      o.filter($"o_orderkey" % 2 === 0)
        .select($"o_orderpriority", $"o_totalprice")
        .write.mode("append").parquet(out))
    Snapshots.commitAppend(root)(out =>
      o.filter($"o_orderkey" % 2 === 1)
        .select($"o_orderpriority", $"o_totalprice",
          when($"o_totalprice" > 150000, "hi").otherwise("lo").as("o_band"))
        .write.mode("append").parquet(out))
    Snapshots.vacuum(root, keepLast = 2)
    Snapshots.read(s, root)
      .groupBy($"o_orderpriority",
        coalesce($"o_band", lit("none")).as("band"))
      .agg(count(lit(1)).as("n"), Qx.dsum($"o_totalprice").as("total"))
      .orderBy($"o_orderpriority", $"band")
  }

  /** UPDATE / DELETE SQL statements against the snapshot store — the
    * row-level companions to `cdc_merge_sql`, executed NATIVELY: the
    * table comes from the DataSourceV2 catalog
    * ([[graft.catalog.GraftCatalog]], `SupportsRowLevelOperations`),
    * so Spark's OWN analyzer rewrites each statement (no graft-side
    * tree interception — the round-12 gap, closed). Copy-on-write
    * mode: the rewrite plan computes the full survivor set (UPDATE is
    * a zero-exchange scan→CASE-project; DELETE a scan→filter),
    * executors stage parquet, and the commit is ONE atomic
    * full-rewrite manifest — readers interleaved with a statement see
    * pre- or post-statement state, never a mix. The statement pair
    * updates one slice and then deletes on the POST-update values, so
    * the oracle catches out-of-order execution, broken three-valued
    * WHERE semantics, or rows lost in the versioned write-back.
    *
    * Each invocation DROP + re-CREATEs the table (the statements are
    * destructive by design), keeping the key deterministic across
    * repeated Bench/Verify passes. */
  val sqlUpdateDelete: Q = (s, dir) => {
    import s.implicits._
    val (t, _) = SnapCat.table(s, "cow_cust", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t AS
             |SELECT c_custkey AS custkey, c_nationkey AS nationkey,
             |       c_acctbal AS acctbal
             |FROM ${Tables.sqlRel(s, dir, "customer")}""".stripMargin)
    s.sql(s"UPDATE $t SET acctbal = acctbal + 100.0 WHERE nationkey < 10")
    s.sql(s"DELETE FROM $t WHERE acctbal < 0.0")
    s.table(t).groupBy($"nationkey")
      .agg(count(lit(1)).as("n"), Qx.dsum($"acctbal").as("total"))
      .orderBy($"nationkey")
  }

  /** PARTITION PRUNING through the snapshot manifest: orders committed
    * `.partitionBy(o_orderpriority)` (two eras — an initial commit and
    * an append, so the pruned read spans two version dirs), then read
    * back for two of the five priorities via
    * [[graft.sources.Snapshots.readPartitionPruned]]. The pruning is
    * METADATA-ONLY — the manifest's file list is filtered on the
    * `o_orderpriority=<v>` path segment before Spark ever lists or
    * opens a file — so ~3/5 of the table costs zero I/O (file-count
    * assertion in Round9OpsSpec). At 100 TB this is the difference
    * between planning over every file and planning over exactly the
    * matching partitions, with no LIST of the base.
    *
    * The oracle recomputes the two priorities from the ORIGINAL table:
    * a pruned read that drops a matching file or leaks a non-matching
    * one hash-mismatches. */
  val snapshotPartitionPrune: Q = (s, dir) => {
    import s.implicits._
    import graft.sources.Snapshots
    val root = Qx.tmpOut("snappart", dir)
    val o = Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
    Snapshots.commit(root)(out =>
      o.filter($"o_orderkey" % 2 === 0)
        .write.partitionBy("o_orderpriority").mode("append").parquet(out))
    Snapshots.commitAppend(root)(out =>
      o.filter($"o_orderkey" % 2 === 1)
        .write.partitionBy("o_orderpriority").mode("append").parquet(out))
    Snapshots.vacuum(root, keepLast = 2)
    Snapshots.readPartitionPruned(s, root, "o_orderpriority",
        Seq("1-URGENT", "2-HIGH"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), Qx.dsum($"o_totalprice").as("total"))
      .orderBy($"o_orderpriority")
  }

  /** MERGE-ON-READ DELETE — the other half of the DELETE story
    * ([[sqlUpdateDelete]] is copy-on-write), executed NATIVELY through
    * the catalog's delta row-level path
    * ([[graft.catalog.GraftDeltaOperation]], Spark's own
    * `RewriteDeleteFromTable`): each statement commits tiny
    * deleted-key files (`#del` manifest lines) while the base files
    * never move; reads apply them in the delete-aware catalog scan.
    * Statement cost is O(matching rows) written regardless of table
    * size — at 100 TB, deleting a user's rows costs kilobytes of
    * delete file, not a table rewrite; the read-side application is
    * the rent until the next rewrite commit absorbs the deletes
    * (store-level composition spec-pinned in Round9OpsSpec).
    *
    * The second statement deletes on values the FIRST already hides
    * (nation-13 rows with negative balances are gone after delete 1),
    * so the oracle also checks that stacked delete files compose. */
  val sqlDeleteMor: Q = (s, dir) => {
    import s.implicits._
    val (t, _) = SnapCat.table(s, "mor_cust", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    // 'graft.mor.key' switches the table's native row-level ops to
    // MERGE-ON-READ: Spark's delta rewrite feeds only the touched rows
    // to the writer, which stages deleted-key parquet — base files
    // never move (asserted in CatalogSpec), the Iceberg-v2/Hudi shape
    s.sql(s"""CREATE TABLE $t TBLPROPERTIES ('graft.mor.key' = 'custkey') AS
             |SELECT c_custkey AS custkey, c_nationkey AS nationkey,
             |       c_acctbal AS acctbal
             |FROM ${Tables.sqlRel(s, dir, "customer")}""".stripMargin)
    s.sql(s"DELETE FROM $t WHERE acctbal < 0.0")
    s.sql(s"DELETE FROM $t WHERE nationkey = 13")
    s.table(t).groupBy($"nationkey")
      .agg(count(lit(1)).as("n"), Qx.dsum($"acctbal").as("total"))
      .orderBy($"nationkey")
  }

  /** BATCH CDF over the `.changes` feed (r20) — Delta's
    * `table_changes` shape: `spark.read.option("startingVersion", s)
    * .option("endingVersion", e).table("snap.ns.t.changes")` plans the
    * SAME row-level effects as the streaming feed over the version
    * range `(s, e]`, no checkpoint required — the backfill/audit twin
    * of the streaming consumer, sharing one planner (micro-batch
    * partitions) and one effect semantics. The fixture drives an
    * append and a keyed MOR delete and reads the range BATCH: the
    * append's rows arrive as `insert` effects at their commit version,
    * the delete's previously-visible matches as `delete` effects at
    * theirs (rows inserted then deleted appear BOTH ways — historical
    * truth, not state). The oracle recomputes every effect row from
    * the ORIGINAL table; a leaked effect, a missed one, or one
    * attributed to the wrong commit hash-mismatches.
    *
    * Scale: the range read plans O(delta) partitions off manifests —
    * a backfill over last night's commits never rescans the table,
    * the same economics as the streaming path it shares code with. */
  val snapshotCdfBatch: Q = (s, dir) => {
    import s.implicits._
    val (t, _) = SnapCat.table(s, "cdf_batch", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t TBLPROPERTIES ('graft.mor.key' = 'okey')
             |AS SELECT o_orderkey AS okey, o_orderpriority AS prio,
             |          o_totalprice AS price
             |FROM ${Tables.sqlRel(s, dir, "orders")}
             |WHERE o_orderkey % 3 = 0""".stripMargin)
    s.sql(s"""INSERT INTO $t
             |SELECT o_orderkey AS okey, o_orderpriority AS prio,
             |       o_totalprice AS price
             |FROM ${Tables.sqlRel(s, dir, "orders")}
             |WHERE o_orderkey % 3 = 1""".stripMargin)
    s.sql(s"DELETE FROM $t WHERE prio = '5-LOW'")
    s.read.option("startingVersion", "1").option("endingVersion", "3")
      .table(s"$t.changes")
      .select($"_change_type".as("change_type"),
        $"_commit_version".as("cv"), $"okey", $"prio", $"price")
      .orderBy($"change_type", $"cv", $"okey")
  }

  /** KEYED MOR ON A BUCKET LAYOUT (r20) — the composition the earlier
    * rounds refused at DDL: `PARTITIONED BY (bucket(8, custkey))` WITH
    * `graft.mor.key`, so GDPR-rate row-level statements stay O(matched)
    * on a layout the planner can exploit. The DELETE pends as key
    * files (base files unmoved); the UPDATE's insert halves stage
    * UNDER the synthetic `_gbucket` segment (the delta writer derives
    * it with the same seed-42 long-hash as every other write path), so
    * bucket pruning and storage-partitioned joins resume intact once a
    * rewrite absorbs the pending deletes — SPJ merely pauses while
    * they pend (the eligibility gate). The oracle replays both
    * statements over the ORIGINAL table: a delete leaking through the
    * layout path, an update applied to the wrong rows, or a mis-scoped
    * re-insert hash-mismatches.
    *
    * Scale: the alternative on a 100 TB bucketed table was a full COW
    * pass per statement just to keep the layout — this keeps statement
    * cost O(touched) AND the layout's join economics. */
  val sqlDeleteMorBucketed: Q = (s, dir) => {
    import s.implicits._
    val (t, _) = SnapCat.table(s, "morb_cust", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t PARTITIONED BY (bucket(8, custkey))
             |TBLPROPERTIES ('graft.mor.key' = 'custkey') AS
             |SELECT c_custkey AS custkey, c_nationkey AS nationkey,
             |       c_acctbal AS acctbal
             |FROM ${Tables.sqlRel(s, dir, "customer")}""".stripMargin)
    s.sql(s"DELETE FROM $t WHERE acctbal < 0.0")
    s.sql(s"UPDATE $t SET acctbal = acctbal + 50.0 WHERE nationkey = 7")
    s.table(t).groupBy($"nationkey")
      .agg(count(lit(1)).as("n"), Qx.dsum($"acctbal").as("total"))
      .orderBy($"nationkey")
  }

  /** POSITION-DELETE MOR (`sql_delete_positional`) — the delete form
    * that needs NO key column, completing the row-level spectrum
    * (COW pass / equality MOR / THIS): lineitem has no unique key —
    * (l_orderkey, l_linenumber) repeats — so `sql_delete_mor`'s
    * equality form is unavailable (deleting by any key would over-hide
    * its duplicates). With `graft.mor.positional`, Spark's delta
    * rewrite identifies each matched row by its (file, ordinal) row id
    * ([[graft.catalog.GraftPositionalOperation]] — `_gfile`/`_gpos`
    * metadata columns, ordinals GENERATED by the parquet readers,
    * exact under splits and row-group skipping), and the statement
    * commits O(matched rows) pair bytes while the table's data files
    * never move (file-list invariance spec-pinned in Round18OpsSpec) —
    * Iceberg v2's position deletes. Two stacked non-key DELETEs prove
    * pair-set composition; `compact_deletes` then merges the stacked
    * pair files per data file (zero table data moved) and the
    * aggregate runs over the compacted state. Reads apply pairs as
    * per-file ordinal-set filters inside the delete-aware scan; a full
    * rewrite absorbs them when their files leave the table.
    *
    * Scale: GDPR-rate arbitrary-predicate deletes on a 100 TB keyless
    * table cost kilobytes per statement instead of a copy-on-write
    * table pass; the read rent is one pair-set probe per affected
    * file until compaction. */
  val sqlDeletePositional: Q = (s, dir) => {
    import s.implicits._
    val (t, _) = SnapCat.table(s, "pos_lineitem", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t TBLPROPERTIES ('graft.mor.positional' = 'true') AS
             |SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
             |       CAST(l_extendedprice AS DOUBLE) AS price
             |FROM ${Tables.sqlRel(s, dir, "lineitem")}""".stripMargin)
    // two stacked DELETEs on NON-key predicates (no column here is a
    // key — duplicates everywhere); table data files never move
    s.sql(s"DELETE FROM $t WHERE l_quantity > 45.0")
    s.sql(s"DELETE FROM $t WHERE l_quantity < 3.0 AND l_returnflag = 'N'")
    // merge the stacked pair files (no table data moved)
    s.sql(s"CALL snap.system.compact_deletes('${t.stripPrefix("snap.")}')").collect()
    s.table(t).groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), Qx.dsum($"price").as("total"))
      .orderBy($"l_returnflag")
  }

  /** MERGE-ON-READ UPDATE — the Hudi-style upsert completing the
    * write-amplification spectrum (`sql_update_delete` = COW pass,
    * `sql_delete_mor` = MOR delete), executed NATIVELY: Spark's
    * `RewriteUpdateTable` splits each touched row into delete+insert
    * (`representUpdateAsDeleteAndInsert`), the delta writer stages
    * rewritten rows + their keys, and
    * [[graft.sources.Snapshots.commitStagedDelta]] publishes ONE
    * atomic commit whose delete lines are SCOPED below it — old
    * versions vanish, the new rows (seq-pinned at the commit) shine
    * through, untouched files never move. A MOR DELETE then runs on
    * the POST-update values — its scope covers the upsert's new rows
    * too, so the oracle has teeth against scoping errors in BOTH
    * directions: an upsert whose delete hides its own new rows drops
    * every updated group; a delete that fails to cover the upsert's
    * rows leaves negative balances alive. Final state must equal the
    * copy-on-write `sql_update_delete`'s — same statements, opposite
    * cost model. */
  val sqlUpdateMor: Q = (s, dir) => {
    import s.implicits._
    val (t, _) = SnapCat.table(s, "morupd_cust", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t TBLPROPERTIES ('graft.mor.key' = 'custkey') AS
             |SELECT c_custkey AS custkey, c_nationkey AS nationkey,
             |       c_acctbal AS acctbal
             |FROM ${Tables.sqlRel(s, dir, "customer")}""".stripMargin)
    // native delta UPDATE: one atomic commit staging the rewritten
    // rows + their keys as a scoped delete — old versions vanish, new
    // rows (pinned at the commit version) shine through
    s.sql(s"UPDATE $t SET acctbal = acctbal + 100.0 WHERE nationkey < 10")
    // the stacked DELETE scans the DELTA-APPLIED state (the catalog's
    // MOR scan), so it sees post-update balances — scoping errors in
    // either direction hash-mismatch
    s.sql(s"DELETE FROM $t WHERE acctbal < 0.0")
    s.table(t).groupBy($"nationkey")
      .agg(count(lit(1)).as("n"), Qx.dsum($"acctbal").as("total"))
      .orderBy($"nationkey")
  }

  /** PARTITION PRUNING over PENDING MERGE-ON-READ DELETES — the
    * composition of the store's two flagship read paths, which round 9
    * refused (`rewrite first`): at 100 TB, MOR deletes are
    * near-permanently pending and pruned reads are the default read
    * path, so the combination IS the production read. The fixture
    * stacks the hard cases: two partitioned eras, a delete covering
    * both, a RE-INSERT of a subset of the deleted keys (staged after
    * the delete — version scoping must keep it visible, with shifted
    * prices so the oracle can tell WHICH copy survived), then a second
    * stacked delete covering everything before it. The pruned read
    * must return exactly the delete-applied rows of the two requested
    * priorities: a delete leaking into the wrong era, a re-insert
    * hidden by an over-scoped delete, or a pruned-out partition's rows
    * surviving all hash-mismatch.
    *
    * Scale shape: pruning filters the manifest file list before any
    * I/O (2-of-5 priorities plan over ~2/5 of the files); the delete
    * application stays O(deleted keys) key covers probed per row by
    * one MOR scan under each file's sequence number — the delete-key
    * files are small and NOT partition-aligned,
    * exactly Iceberg v2's equality-delete shape. */
  val snapshotPruneMor: Q = (s, dir) => {
    import s.implicits._
    import graft.sources.Snapshots
    val root = Qx.tmpOut("snappmor", dir)
    val o = Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
    Snapshots.commit(root)(out =>
      o.filter($"o_orderkey" % 2 === 0)
        .write.partitionBy("o_orderpriority").mode("append").parquet(out))
    Snapshots.commitAppend(root)(out =>
      o.filter($"o_orderkey" % 2 === 1)
        .write.partitionBy("o_orderpriority").mode("append").parquet(out))
    // MOR delete 1: covers both eras above
    Snapshots.commitDelete(root, "o_orderkey")(out =>
      o.filter($"o_orderkey" % 5 === 0).select($"o_orderkey")
        .write.mode("append").parquet(out))
    // re-insert a subset of the deleted keys with shifted prices —
    // staged AFTER the delete, so version scoping keeps them visible
    Snapshots.commitAppend(root)(out =>
      o.filter($"o_orderkey" % 10 === 0)
        .withColumn("o_totalprice", $"o_totalprice" + 1000.0)
        .write.partitionBy("o_orderpriority").mode("append").parquet(out))
    // MOR delete 2: stacked, covers every file below it incl. the re-insert
    Snapshots.commitDelete(root, "o_orderkey")(out =>
      o.filter($"o_orderkey" % 7 === 3).select($"o_orderkey")
        .write.mode("append").parquet(out))
    Snapshots.vacuum(root, keepLast = 5)
    Snapshots.readPartitionPruned(s, root, "o_orderpriority",
        Seq("1-URGENT", "2-HIGH"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), Qx.dsum($"o_totalprice").as("total"))
      .orderBy($"o_orderpriority")
  }

  /** `VERSION AS OF` SQL — the time-travel STATEMENT surface
    * ([[snapshotTimeTravel]] is the API form), executed NATIVELY: the
    * table comes from the DataSourceV2 catalog, so Spark's analyzer
    * resolves `RelationTimeTravel` itself via
    * `loadTable(ident, version)` ([[graft.catalog.GraftCatalog]]) —
    * no tree substitution — and joins across versions, unions of
    * eras, and subqueries all plan like any other multi-table query.
    * One SELECT compares the first-commit era against the head.
    *
    * Scale: each version resolves with one small manifest read; the
    * query then plans ordinary pruned scans over immutable files —
    * a today-vs-last-week audit costs two scans + the query itself,
    * never a restore. */
  val sqlTimeTravel: Q = (s, dir) => {
    val (t, _) = SnapCat.table(s, "tt_orders", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    // DROP + CREATE per invocation → versions are deterministic (CTAS
    // commits v1, each INSERT appends one version)
    s.sql(s"""CREATE TABLE $t AS
             |SELECT o_orderkey, o_orderpriority, o_totalprice
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 3 = 0""".stripMargin)
    s.sql(s"""INSERT INTO $t SELECT o_orderkey, o_orderpriority, o_totalprice
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 3 = 1""".stripMargin)
    s.sql(s"""INSERT INTO $t SELECT o_orderkey, o_orderpriority, o_totalprice
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 3 = 2""".stripMargin)
    s.sql(
      s"""SELECT 'v1' AS era, o_orderpriority, COUNT(*) AS n,
         |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
         |FROM $t VERSION AS OF 1
         |GROUP BY o_orderpriority
         |UNION ALL
         |SELECT 'head' AS era, o_orderpriority, COUNT(*) AS n,
         |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
         |FROM $t
         |GROUP BY o_orderpriority
         |ORDER BY era, o_orderpriority""".stripMargin)
  }

  /** `TIMESTAMP AS OF` SQL — the audit form of [[sqlTimeTravel]]:
    * "what did the table say just before the third commit landed?".
    * Every commit stamps a strictly-monotonic `#ts:` µs header into
    * its manifest, and resolution is Delta's rule — newest commit at
    * or before the literal ([[graft.sources.Snapshots
    * .versionAtTimestamp]]). The query asks for 1 µs before v3's
    * commit time, which must resolve to exactly the v2 era (slices
    * %3 ∈ {0,1}); the oracle recomputes that era from the ORIGINAL
    * table, so resolving to the wrong version — off-by-one in the
    * <= rule, a non-monotonic stamp, a header misparse — changes
    * the row set and hash-mismatches.
    *
    * Scale: resolution reads one header line per retained manifest
    * (metadata-only, independent of data size); the query then plans
    * the same pinned-file-list scans as any VERSION AS OF. */
  val sqlTimeTravelTs: Q = (s, dir) => {
    import graft.sources.Snapshots
    val (t, root) = SnapCat.table(s, "ttts_orders", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t AS
             |SELECT o_orderkey, o_orderpriority, o_totalprice
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 3 = 0""".stripMargin)
    s.sql(s"""INSERT INTO $t SELECT o_orderkey, o_orderpriority, o_totalprice
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 3 = 1""".stripMargin)
    s.sql(s"""INSERT INTO $t SELECT o_orderkey, o_orderpriority, o_totalprice
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 3 = 2""".stripMargin)
    val justBeforeV3 = Snapshots.commitTimestamp(root, 3L).get - 1L
    val lit = java.time.Instant
      .ofEpochSecond(justBeforeV3 / 1000000L, (justBeforeV3 % 1000000L) * 1000L)
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    s.sql(
      s"""SELECT 'asof_v2' AS era, o_orderpriority, COUNT(*) AS n,
         |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
         |FROM $t TIMESTAMP AS OF '$lit'
         |GROUP BY o_orderpriority
         |UNION ALL
         |SELECT 'head' AS era, o_orderpriority, COUNT(*) AS n,
         |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
         |FROM $t
         |GROUP BY o_orderpriority
         |ORDER BY era, o_orderpriority""".stripMargin)
  }

  /** NATIVE SCHEMA EVOLUTION (`sql_schema_evolution`) — `ALTER TABLE
    * ADD COLUMN` through the DataSourceV2 catalog
    * ([[graft.catalog.GraftCatalog.alterTable]]): the declared schema
    * grows METADATA-ONLY (one properties-file rewrite — zero data
    * movement at any table size), the post-evolution INSERT carries
    * the new column, and the head read resolves pre-evolution files
    * by name with the added column surfacing NULL (the Delta/Iceberg
    * add-column contract; `snapshot_schema_evolution` is the
    * store-level form, widened by the commit that adds the column). Time travel to the pre-evolution
    * version presents exactly the old schema (CatalogSpec pins it).
    * The oracle recomputes both eras from the ORIGINAL table, so a
    * lost row, a mis-nulled column, or an evolution that rewrites
    * history hash-mismatches. */
  val sqlSchemaEvolution: Q = (s, dir) => {
    import s.implicits._
    val (t, _) = SnapCat.table(s, "evo_orders", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t AS
             |SELECT o_orderpriority, o_totalprice
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 2 = 0""".stripMargin)
    s.sql(s"ALTER TABLE $t ADD COLUMN o_band STRING")
    s.sql(s"""INSERT INTO $t
             |SELECT o_orderpriority, o_totalprice,
             |       CASE WHEN o_totalprice > 150000 THEN 'hi' ELSE 'lo' END
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 2 = 1""".stripMargin)
    s.table(t)
      .groupBy($"o_orderpriority", coalesce($"o_band", lit("none")).as("band"))
      .agg(count(lit(1)).as("n"), Qx.dsum($"o_totalprice").as("total"))
      .orderBy($"o_orderpriority", $"band")
  }

  /** NESTED-STRUCT SCHEMA EVOLUTION (`sql_nested_evolution`, r19) —
    * the FHIR-shaped evolution sequence end to end through the DSv2
    * catalog: a struct column grows fields (`ALTER TABLE ADD COLUMN
    * info.clerk`, `info.qty`), then a nested field WIDENS
    * (`ALTER COLUMN info.qty TYPE BIGINT`) — every step metadata-only
    * (no file moves), with three write eras straddling the evolutions:
    * era-1 rows surface NULL for the added fields, era-2 rows carry
    * the narrow int physically and upcast natively under the widened
    * declared type, era-3 rows need the full 64 bits. The oracle
    * recomputes all three eras from the ORIGINAL table, so a
    * mis-nulled nested field, a wrong-width upcast, or an evolution
    * that rewrites history hash-mismatches. */
  val sqlNestedEvolution: Q = (s, dir) => {
    import s.implicits._
    val (t, _) = SnapCat.table(s, "nested_orders", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t AS
             |SELECT o_orderkey,
             |       named_struct('pri', o_orderpriority) AS info
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 3 = 0""".stripMargin)
    s.sql(s"ALTER TABLE $t ADD COLUMN info.clerk STRING")
    s.sql(s"ALTER TABLE $t ADD COLUMN info.qty INT")
    s.sql(s"""INSERT INTO $t
             |SELECT o_orderkey,
             |       named_struct('pri', o_orderpriority, 'clerk', o_orderstatus,
             |                    'qty', CAST(o_orderkey % 97 AS INT))
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 3 = 1""".stripMargin)
    s.sql(s"ALTER TABLE $t ALTER COLUMN info.qty TYPE BIGINT")
    s.sql(s"""INSERT INTO $t
             |SELECT o_orderkey,
             |       named_struct('pri', o_orderpriority, 'clerk', o_orderstatus,
             |                    'qty', o_orderkey * 1000000L)
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 3 = 2""".stripMargin)
    s.table(t)
      .select($"o_orderkey", $"info.pri".as("pri"),
        coalesce($"info.clerk", lit("none")).as("clerk"),
        coalesce($"info.qty", lit(-1L)).as("qty"))
      .orderBy($"o_orderkey")
  }

  /** COMPOSITE-KEY MERGE-ON-READ DELETE (`snapshot_delete_composite`)
    * — the delete-key file carries (l_orderkey, l_linenumber) PAIRS,
    * the natural key of a table with no single-column key: a row is
    * hidden only when BOTH components match, so order 6k's lines 4-7
    * survive while its lines 1-3 vanish — a reader that collapsed the
    * key to one column would drop them and hash-mismatch. Version
    * scoping is unchanged: the post-delete append re-inserts a subset
    * of the deleted pairs (quantity +1000 as the marker) and stays
    * visible. Cost model identical to the single-key delete: O(deleted
    * pairs) written, base files untouched, the read applies one anti
    * join on the composite key. */
  val snapshotDeleteComposite: Q = (s, dir) => {
    import s.implicits._
    import graft.sources.Snapshots
    val root = Qx.tmpOut("snapdelcomp", dir)
    val slice = Tables.load(s, dir, "lineitem")
      .filter($"l_orderkey" % 3 === 0)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity")
    Snapshots.commit(root)(out => slice.write.mode("append").parquet(out))
    Snapshots.commitDelete(root, Seq("l_orderkey", "l_linenumber"))(out =>
      slice.filter($"l_orderkey" % 6 === 0 && $"l_linenumber" <= 3)
        .select($"l_orderkey", $"l_linenumber").distinct()
        .write.mode("append").parquet(out))
    Snapshots.commitAppend(root)(out =>
      slice.filter($"l_orderkey" % 12 === 0 && $"l_linenumber" <= 2)
        .withColumn("l_quantity", $"l_quantity" + 1000)
        .write.mode("append").parquet(out))
    Snapshots.read(s, root)
      .groupBy($"l_linenumber")
      .agg(count(lit(1)).as("n"), Qx.dsum($"l_quantity").as("total"))
      .orderBy($"l_linenumber")
  }

  /** COLUMN RENAME + DROP EVOLUTION (`sql_rename_evolution`) — `ALTER
    * TABLE RENAME COLUMN` / `DROP COLUMN` through the DataSourceV2
    * catalog, both METADATA-ONLY (one properties-file rewrite; zero
    * data movement at any table size): the rename records the old
    * spelling in the prior-name ledger
    * ([[graft.catalog.GraftCatalog.alterTable]]) and the head read
    * resolves the column ACROSS eras — pre-rename files still carry
    * `o_totalprice`, post-rename inserts carry `price_usd`, and the
    * rename-aware scan coalesces the spellings per file
    * ([[graft.catalog.RenameAwareScanBuilder]]); the dropped column
    * simply leaves the declared schema, its bytes dead in place. Time
    * travel to the pre-rename version still presents the ORIGINAL
    * names (CatalogSpec pins it). The oracle recomputes both eras from
    * the original table under the FINAL names, so a rename that loses
    * pre-rename values (the silent-null failure), resurrects the
    * dropped column, or rewrites history hash-mismatches. */
  val sqlRenameEvolution: Q = (s, dir) => {
    import s.implicits._
    val (t, _) = SnapCat.table(s, "ren_orders", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t AS
             |SELECT o_orderpriority, o_totalprice, o_orderstatus
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 2 = 0""".stripMargin)
    s.sql(s"ALTER TABLE $t RENAME COLUMN o_totalprice TO price_usd")
    s.sql(s"ALTER TABLE $t DROP COLUMN o_orderstatus")
    s.sql(s"""INSERT INTO $t
             |SELECT o_orderpriority, o_totalprice
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 2 = 1""".stripMargin)
    s.table(t)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), Qx.dsum($"price_usd").as("total"))
      .orderBy($"o_orderpriority")
  }

  /** NATIVE STREAMING SINK (`stream_catalog_sink`) — a real Structured
    * Streaming query lands micro-batches in a snapshot-catalog table
    * through `writeStream.toTable` ([[graft.catalog.GraftStreamingWrite]]):
    * executors stage each epoch's parquet, and the epoch commit is ONE
    * idempotent `#txn`-tagged manifest publish
    * ([[graft.sources.Snapshots.commitAppendStagedTxn]]) — a
    * crash-replayed micro-batch finds its tag and no-ops, the
    * exactly-once contract (replay pinned in CatalogSpec; the
    * `foreachBatch` store-level binding is `stream_snapshot_append`).
    * The fixture stages an events slice as files, tails it with a
    * file-source stream under `Trigger.AvailableNow`, and aggregates
    * the landed table; the oracle reads the same slice from the
    * ORIGINAL events table — a dropped batch, doubled epoch, or lost
    * row hash-mismatches.
    *
    * Scale: per micro-batch cost is the batch's files + one manifest —
    * O(delta), never O(table); downstream consumers tail the store
    * incrementally via `Snapshots.readChanges`. */
  val streamCatalogSink: Q = (s, dir) => {
    import s.implicits._
    val (t, _) = SnapCat.table(s, "strm_events", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (event_type STRING, value DOUBLE)")
    val src = Qx.tmpOut("strmsrc", dir)
    val ckpt = Qx.tmpOut("strmckpt", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    Tables.load(s, dir, "events").select($"event_type", $"value")
      .write.mode("overwrite").parquet(src)
    val q = s.readStream
      .schema("event_type STRING, value DOUBLE")
      .parquet(src)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(t)
    q.awaitTermination()
    s.table(t).groupBy($"event_type")
      .agg(count(lit(1)).as("n"), Qx.dsum($"value").as("total"))
      .orderBy($"event_type")
  }

  /** ROW-LEVEL CHANGE FEED ACROSS A REWRITE (`snapshot_cdf_rows`) —
    * the documented CDF caveat on `snapshot_incremental_read` closed:
    * a range whose commits are append-only streams as O(delta) insert
    * rows (the file-level fast path), but a range CROSSING a rewrite
    * republished every surviving row, so per-file attribution is
    * meaningless there — `Snapshots.readChangesRows` detects the
    * rewrite from the manifest diff and falls back to a row-level
    * comparison of the two pinned states (one co-partitioned
    * full-outer join on the key), emitting insert / delete /
    * update_pre / update_post rows (Delta CDF's semantics without
    * per-row tracking). The fixture commits a customer slice, appends
    * a second, then applies a rewrite that deletes some rows and
    * updates others; the feed spans all three commits. The oracle
    * replays the same logic as plain SQL over the ORIGINAL table — a
    * missed delete, a doubled update image, or an insert mis-attributed
    * through the rewrite hash-mismatches.
    *
    * Scale: append-only tails stay metadata + new-file I/O; only a
    * range that actually crosses a rewrite pays the join, and it is
    * key-partitioned — the 100 TB-safe shape for exact row diffs
    * without per-row metadata. */
  val snapshotCdfRows: Q = (s, dir) => {
    import s.implicits._
    import graft.sources.Snapshots
    val root = Qx.tmpOut("cdfrows", dir)
    val c = Tables.load(s, dir, "customer")
      .select($"c_custkey", $"c_nationkey", $"c_acctbal")
    Snapshots.commit(root)(out =>
      c.filter($"c_custkey" % 3 =!= 2).write.mode("append").parquet(out))
    Snapshots.commitAppend(root)(out =>
      c.filter($"c_custkey" % 3 === 2).write.mode("append").parquet(out))
    // the rewrite: drop custkey % 7 = 0, bump low-nation balances
    val post = Snapshots.read(s, root)
      .filter($"c_custkey" % 7 =!= 0)
      .withColumn("c_acctbal",
        when($"c_nationkey" < 5, $"c_acctbal" + 100.0).otherwise($"c_acctbal"))
    val v3 = Snapshots.commit(root)(out =>
      post.write.mode("append").parquet(out))
    Snapshots.readChangesRows(s, root, 1L, v3, Seq("c_custkey"))
      .groupBy($"_change_type", $"c_nationkey")
      .agg(count(lit(1)).as("n"), Qx.dsum($"c_acctbal").as("total"))
      .orderBy($"_change_type", $"c_nationkey")
  }

  /** FILE-SKIPPING ON COLUMN STATS (`snapshot_stats_prune`) — the
    * manifest records per-file [min, max, nullCount] column bounds at
    * commit time (one footer read per staged file, the Delta/Iceberg
    * data-skipping shape), and `Snapshots.readStatsPruned` drops files
    * a range predicate provably cannot match BEFORE anything is
    * listed, opened, or footer-read — one level above parquet's
    * row-group zone maps. The fixture stages lineitem range-clustered
    * on l_partkey (tight per-file bounds), reads a selective partkey
    * window stats-pruned, and re-applies the residual predicate (the
    * documented contract: pruning is I/O optimization, never the
    * correctness carrier). The oracle recomputes the window from the
    * ORIGINAL table, so an over-pruned file (lost rows) or a leaked
    * one surviving the residual filter wrongly hash-mismatches; the
    * file-count shrink itself is pinned in Round15OpsSpec.
    *
    * Scale: the prune is manifest-header arithmetic — a 100 TB table
    * with 1M files decides from megabytes of metadata, and a 0.1%
    * window opens ~0.1% of the files. */
  val snapshotStatsPrune: Q = (s, dir) => {
    import s.implicits._
    import graft.sources.Snapshots
    val root = Qx.tmpOut("statsprune", dir)
    val li = Tables.load(s, dir, "lineitem")
      .select($"l_partkey", $"l_suppkey", $"l_quantity")
    Snapshots.commit(root)(out =>
      li.repartitionByRange(8, $"l_partkey").sortWithinPartitions($"l_partkey")
        .write.mode("append").parquet(out))
    Snapshots.readStatsPruned(s, root, "l_partkey", Some(20L), Some(119L))
      .filter($"l_partkey" >= 20 && $"l_partkey" < 120)
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n"), Qx.dsum($"l_quantity").as("qty"))
      .orderBy($"l_suppkey")
  }

  /** CATALOG-SCAN FILE SKIPPING (`snapshot_stats_prune_sql`) — the
    * same manifest column bounds, reached the way a USER reaches them:
    * a plain `WHERE` on a `snap.*` table. The DSv2 scan's file index
    * ([[graft.catalog]] `StatsPruningIndex`) evaluates the PUSHED data
    * predicates against each file's recorded [min, max, nullCount]
    * inside `listFiles` and drops non-intersecting files before any
    * partition is planned — no explicit API call, and it composes
    * with rename-aware and per-era merge-on-read scans because all
    * three build on the same index. The fixture CTASes lineitem
    * range-clustered on l_partkey (tight disjoint per-file bounds via
    * the REPARTITION_BY_RANGE hint), then runs a selective partkey
    * window through SQL only. The oracle recomputes the window from
    * the ORIGINAL table, so an over-pruned file (lost rows) or a
    * mis-evaluated bound hash-mismatches; the planned-file shrink
    * itself is pinned in Round16OpsSpec.
    *
    * Scale: this is the path a 100 TB BI query takes — the prune
    * costs manifest-header arithmetic already resident on the driver,
    * and a 0.1% predicate window opens ~0.1% of the files. */
  val snapshotStatsPruneSql: Q = (s, dir) => {
    val (t, _) = SnapCat.table(s, "statsprune_sql", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t AS
             |SELECT /*+ REPARTITION_BY_RANGE(8, l_partkey) */
             |       l_partkey, l_suppkey, l_quantity
             |FROM ${Tables.sqlRel(s, dir, "lineitem")}""".stripMargin)
    s.sql(s"""SELECT l_suppkey, COUNT(*) AS n,
             |       ${Qx.dsumSql("l_quantity")} AS qty
             |FROM $t WHERE l_partkey BETWEEN 20 AND 119
             |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin)
  }

  /** TYPE WIDENING (`sql_type_widening`) — `ALTER TABLE ... ALTER
    * COLUMN <c> TYPE <wider>` as a METADATA-ONLY evolution under the
    * safe-promotion matrix (int→bigint, float→double, decimal
    * precision growth — Iceberg's rule): history is never rewritten;
    * reads upcast the narrow physical type natively because Spark's
    * parquet readers accept a wider declared schema for exactly these
    * promotions. The fixture CTASes an orders slice with an INT key
    * and FLOAT price, widens both columns, INSERTs a post-widening
    * (wide) slice, and reads the head (both eras under the wide
    * types) plus the pre-widening version via time travel (its own
    * narrow footer schema). The oracle replays both eras from the
    * ORIGINAL table with the same float round-trip, so a mis-typed
    * upcast, a lost era, or a widening that rewrites history
    * hash-mismatches. Unsafe promotions (narrowing, re-types) are
    * rejected — pinned in Round15OpsSpec.
    *
    * Scale: the ALTER is one properties-file write; no data moves and
    * the scan stays the plain pushdown-vectorized parquet read — the
    * evolution a 100 TB table can afford weekly. */
  val sqlTypeWidening: Q = (s, dir) => {
    val (t, _) = SnapCat.table(s, "widen_orders", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t AS
             |SELECT CAST(o_orderkey AS INT) AS k,
             |       CAST(o_totalprice AS FLOAT) AS price,
             |       o_orderpriority
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 2 = 0""".stripMargin)
    s.sql(s"ALTER TABLE $t ALTER COLUMN k TYPE BIGINT")
    s.sql(s"ALTER TABLE $t ALTER COLUMN price TYPE DOUBLE")
    s.sql(s"""INSERT INTO $t
             |SELECT o_orderkey, CAST(o_totalprice AS DOUBLE), o_orderpriority
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 2 = 1""".stripMargin)
    // aggregates chosen midpoint-free: float-derived values are dyadic
    // rationals that land EXACTLY on decimal midpoints, where Spark
    // (HALF_UP) and DuckDB (HALF_EVEN) round apart — so the check uses
    // counts, integer key sums, a threshold count, and MIN/MAX of the
    // raw doubles (bit-exact in both engines), never a rounded sum of
    // the float-era column
    s.sql(
      s"""SELECT 'head' AS era, o_orderpriority, COUNT(*) AS n,
         |       SUM(CAST(k AS BIGINT)) AS key_sum,
         |       COUNT(CASE WHEN price > 150000 THEN 1 END) AS n_hi,
         |       MIN(CAST(price AS DOUBLE)) AS min_p,
         |       MAX(CAST(price AS DOUBLE)) AS max_p
         |FROM $t GROUP BY o_orderpriority
         |UNION ALL
         |SELECT 'v1' AS era, o_orderpriority, COUNT(*) AS n,
         |       SUM(CAST(k AS BIGINT)) AS key_sum,
         |       COUNT(CASE WHEN price > 150000 THEN 1 END) AS n_hi,
         |       MIN(CAST(price AS DOUBLE)) AS min_p,
         |       MAX(CAST(price AS DOUBLE)) AS max_p
         |FROM $t VERSION AS OF 1 GROUP BY o_orderpriority
         |ORDER BY era, o_orderpriority""".stripMargin)
  }

  /** EVOLUTION × MERGE-ON-READ (`sql_evolution_mor`) — the composition
    * Iceberg needs field-ids for, here carried by the rename ledger
    * (sound because spelling reuse is refused): a merge-on-read KEY
    * column is renamed AND widened while delete files are pending.
    * Pending `#del` lines keep their commit-time spelling and resolve
    * through the ledger; both key loaders upcast the narrow staged
    * keys to the declared type; `graft.mor.key` follows the rename so
    * the post-evolution DELETE stages under the new spelling at the
    * wide type. The oracle recomputes the surviving row set from the
    * ORIGINAL table — an unscoped (lost) delete, a double-applied one,
    * or a mis-typed key comparison all change the set and
    * hash-mismatch.
    *
    * Scale: nothing here rewrites data — two metadata ALTERs and two
    * O(deleted keys) delete files on a table that stays scan-pruned;
    * the read-side rent is the documented MOR scan's key filter until
    * the next compaction absorbs the deletes. */
  val sqlEvolutionMor: Q = (s, dir) => {
    val (t, _) = SnapCat.table(s, "evmor_orders", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t TBLPROPERTIES ('graft.mor.key'='k') AS
             |SELECT CAST(o_orderkey AS INT) AS k, o_orderpriority,
             |       CAST(o_totalprice AS DOUBLE) AS price
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 2 = 0""".stripMargin)
    s.sql(s"DELETE FROM $t WHERE k % 10 = 0") // pending, narrow, spelling `k`
    s.sql(s"ALTER TABLE $t RENAME COLUMN k TO ok")
    s.sql(s"ALTER TABLE $t ALTER COLUMN ok TYPE BIGINT")
    s.sql(s"""INSERT INTO $t
             |SELECT o_orderkey, o_orderpriority, CAST(o_totalprice AS DOUBLE)
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 2 = 1""".stripMargin)
    s.sql(s"DELETE FROM $t WHERE ok % 7 = 0") // pending, wide, spelling `ok`
    s.sql(s"""SELECT o_orderpriority, COUNT(*) AS n,
             |       CAST(SUM(ok) AS BIGINT) AS key_sum,
             |       ${Qx.dsumSql("price")} AS total
             |FROM $t GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)
  }

  /** EVOLUTION DROP × MERGE-ON-READ (`sql_evolution_drop`) — the r16
    * refusal, lifted: the column keying BOTH pending delete
    * generations (one under its pre-rename spelling, one post-widening)
    * is the declared merge-on-read key — and it DROPS anyway. The scan
    * keeps reading it as a hidden filter-only shadow field through the
    * dropchain + droptype ledgers (the field-id-style indirection), so
    * every pending delete still scopes exactly; the drop also
    * de-configures `graft.mor.key` (row-level statements degrade to
    * copy-on-write until re-keyed). The oracle recomputes the
    * surviving row set from the ORIGINAL table with the key column
    * gone from the output — a lost delete, a double-applied one, or a
    * shadow field misbound to another column's bytes all change the
    * per-priority counts/sums and hash-mismatch.
    *
    * Scale: identical to [[sqlEvolutionMor]] — metadata-only DDL and
    * O(deleted keys) delete files; the shadow field adds one pruned
    * column to the MOR read until compaction absorbs the deletes. */
  val sqlEvolutionDrop: Q = (s, dir) => {
    val (t, _) = SnapCat.table(s, "evdrop_orders", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t TBLPROPERTIES ('graft.mor.key'='k') AS
             |SELECT CAST(o_orderkey AS INT) AS k, o_orderpriority,
             |       CAST(o_totalprice AS DOUBLE) AS price
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 2 = 0""".stripMargin)
    s.sql(s"DELETE FROM $t WHERE k % 10 = 0") // pending, narrow, spelling `k`
    s.sql(s"ALTER TABLE $t RENAME COLUMN k TO ok")
    s.sql(s"ALTER TABLE $t ALTER COLUMN ok TYPE BIGINT")
    s.sql(s"""INSERT INTO $t
             |SELECT o_orderkey, o_orderpriority, CAST(o_totalprice AS DOUBLE)
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 2 = 1""".stripMargin)
    s.sql(s"DELETE FROM $t WHERE ok % 7 = 0") // pending, wide, spelling `ok`
    s.sql(s"ALTER TABLE $t DROP COLUMN ok")   // keys ALL pending deletes
    s.sql(s"""SELECT o_orderpriority, COUNT(*) AS n,
             |       ${Qx.dsumSql("price")} AS total
             |FROM $t GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)
  }

  /** SQL-FIRST PARTITIONED TABLES (`sql_partitioned_table`) — `CREATE
    * TABLE … PARTITIONED BY (col)` through the DSv2 catalog: writes
    * stage via `partitionBy` (files carry `col=value` segments inside
    * their version dirs), and the scan rebuilds a partition-aware
    * file index FROM THE MANIFEST's paths — so partition pruning
    * (static and runtime/DPP) runs through Spark's own
    * `listFiles(partitionFilters, …)` mechanism, composing with the
    * stats/bloom data-skipping index (all one index class). Partition
    * columns live only in paths, never in footers; the scan
    * re-attaches their values per directory, time travel re-attaches
    * the declared fields, and evolution guards pin partition columns
    * (no rename/drop/re-type — their values are rendered into
    * committed paths). The fixture CTASes orders partitioned by
    * priority across two commits and aggregates a 2-of-5-priority
    * slice; the oracle recomputes the slice from the ORIGINAL table,
    * so a dropped partition dir, a mis-parsed path value, or a row
    * leaked across partitions hash-mismatches; the only-matching-dirs
    * plan shape is pinned in Round16OpsSpec.
    *
    * Scale: the manifest IS the listing — a 2-of-N-partition query
    * over a 100 TB table plans exactly the matching dirs' files with
    * zero directory I/O, and DPP gets the same treatment at runtime
    * because the pruning sits in Spark's own partition-filter path. */
  val sqlPartitionedTable: Q = (s, dir) => {
    val (t, _) = SnapCat.table(s, "part_orders", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t PARTITIONED BY (pri) AS
             |SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price,
             |       o_orderpriority AS pri
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 2 = 0""".stripMargin)
    s.sql(s"""INSERT INTO $t
             |SELECT o_orderkey, CAST(o_totalprice AS DOUBLE), o_orderpriority
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 2 = 1""".stripMargin)
    // row-level DELETE on the partitioned table: the COW rewrite's
    // dynamic-partitioning writer must keep the col=value layout
    s.sql(s"DELETE FROM $t WHERE k % 7 = 0")
    s.sql(s"""SELECT pri, COUNT(*) AS n,
             |       CAST(SUM(k) AS BIGINT) AS key_sum,
             |       ${Qx.dsumSql("price")} AS total
             |FROM $t WHERE pri IN ('1-URGENT', '5-LOW')
             |GROUP BY pri ORDER BY pri""".stripMargin)
  }

  /** TIME-TRANSFORM PARTITIONED TABLES (`sql_partitioned_time`) —
    * `CREATE TABLE … PARTITIONED BY (days(ts))` through the DSv2
    * catalog ([[graft.catalog.SnapTransform]]), the single most common
    * production partition spec for event tables: each row routes to a
    * DERIVED `_gtpart=<epoch-day>` segment (the source column STAYS in
    * the data files, unlike identity partitioning), and because the
    * transform is monotone, RANGE predicates on ts prune whole day
    * directories from the manifest at planning time — `ts >= X AND
    * ts < Y` keeps only the ordinals in [day(X), day(Y)], metadata-only
    * (file-count pinned in Round18OpsSpec), composing with stats/bloom
    * skipping in the same index. days/months/hours/years/truncate all
    * ride one ordinal scheme; identity→days partition EVOLUTION adopts
    * the layout on a live table without rewriting history
    * (pre-evolution files read with a NULL ordinal, kept
    * conservatively — also spec-pinned). The fixture CTASes a month of
    * events days-partitioned, row-level DELETEs (the COW rewrite must
    * re-derive the layout), then aggregates a five-day window; the
    * oracle recomputes the window from the ORIGINAL events, so an
    * over-pruned boundary day, a mis-derived ordinal, or a flattened
    * rewrite hash-mismatches.
    *
    * Scale: a one-day query over years of 100 TB event history plans
    * exactly that day's files with zero directory or footer I/O — the
    * Iceberg event-table contract. */
  val sqlPartitionedTime: Q = (s, dir) => {
    val (t, _) = SnapCat.table(s, "time_events", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    // events loads through Tables.load (ts footer-type normalization)
    Tables.load(s, dir, "events").createOrReplaceTempView("r18_time_src")
    s.sql(s"""CREATE TABLE $t PARTITIONED BY (days(ts)) AS
             |SELECT event_id, ts, event_type, value
             |FROM r18_time_src WHERE event_id % 2 = 0""".stripMargin)
    s.sql(s"""INSERT INTO $t
             |SELECT event_id, ts, event_type, value
             |FROM r18_time_src WHERE event_id % 2 = 1""".stripMargin)
    // row-level DELETE: the rewrite's dynamic writer must re-derive
    // the ordinal layout (spec-pinned in Round18OpsSpec)
    s.sql(s"DELETE FROM $t WHERE event_id % 7 = 0")
    s.sql(s"""SELECT event_type, COUNT(*) AS n,
             |       ${Qx.dsumSql("value")} AS total
             |FROM $t
             |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
             |  AND ts <  TIMESTAMP '2024-01-15 00:00:00'
             |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** STORAGE-PARTITIONED JOIN (`join_storage_partitioned`) — Iceberg's
    * SPJ shape on snap tables: two tables `PARTITIONED BY` the same
    * key report `KeyGroupedPartitioning` from their manifests'
    * col=value paths (one input split per partition VALUE, keys
    * recovered metadata-only), so the join on that key plans with
    * ZERO exchange on either side — at 100 TB the difference between
    * shuffling both tables and shuffling nothing. Opt-in behind
    * Spark's own `spark.sql.sources.v2.bucketing.enabled`, which this
    * query deliberately does NOT set: mutating a shared session's
    * planner mode as a side effect of building one query would make
    * every later partitioned-table plan (including their DPP, which
    * is disabled while key-grouped) order-dependent on whether this
    * ran first — the same policy as [[statsCboJoin]]'s cbo flag. The
    * zero-Exchange plan shape is pinned under a SCOPED conf in
    * Round17OpsSpec; here the oracle recomputes the joined aggregate
    * from the original table, so a dropped partition group, a
    * misaligned key row, or a reader bound to the wrong split all
    * hash-mismatch regardless of which join shape planned. */
  val joinStoragePartitioned: Q = (s, dir) => {
    val (t1, _) = SnapCat.table(s, "spj_orders", dir)
    val (t2, _) = SnapCat.table(s, "spj_weights", dir)
    s.sql(s"DROP TABLE IF EXISTS $t1")
    s.sql(s"DROP TABLE IF EXISTS $t2")
    s.sql(s"""CREATE TABLE $t1 PARTITIONED BY (pri) AS
             |SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price,
             |       o_orderpriority AS pri
             |FROM ${Tables.sqlRel(s, dir, "orders")}""".stripMargin)
    s.sql(s"""CREATE TABLE $t2 PARTITIONED BY (pri) AS
             |SELECT DISTINCT o_orderpriority AS pri,
             |       CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT) AS weight
             |FROM ${Tables.sqlRel(s, dir, "orders")}""".stripMargin)
    s.sql(s"""SELECT a.pri, COUNT(*) AS n,
             |       CAST(SUM(a.k * b.weight) AS BIGINT) AS wsum,
             |       ${Qx.dsumSql("a.price")} AS total
             |FROM $t1 a JOIN $t2 b ON a.pri = b.pri
             |GROUP BY a.pri ORDER BY a.pri""".stripMargin)
  }

  /** BUCKET-TRANSFORM STORAGE-PARTITIONED JOIN
    * (`join_bucket_partitioned`) — [[joinStoragePartitioned]]'s
    * identity layout only works for LOW-NDV partition keys (one
    * directory per value); production join keys are high-NDV ids,
    * and the layout for those is Iceberg's `bucket(n, col)`: rows
    * route to `_gbucket=<id>` with id = pmod(murmur3(col, 42), n) — a
    * SYNTHETIC path segment, never a row column. Both scans report
    * `KeyGroupedPartitioning(bucket(16, k))`, Spark resolves the
    * transform through the catalog's FunctionCatalog
    * ([[graft.catalog.SnapBucket]]) to prove the two sides hash
    * identically, and the join plans with ZERO exchange on either
    * side — at 100 TB, neither the fact nor the dim table shuffles.
    * The conf stays un-set here for the same session-hygiene reason as
    * [[joinStoragePartitioned]]; the zero-Exchange plan, the per-file
    * bucket invariant, layout survival through COW DELETE + compact,
    * and the evolution guards are pinned in Round17OpsSpec. The oracle
    * recomputes the joined aggregate from the ORIGINAL tables — a row
    * routed to the wrong bucket, a split bound to the wrong key, or a
    * dropped bucket group hash-mismatches. */
  val joinBucketPartitioned: Q = (s, dir) => {
    val (t1, _) = SnapCat.table(s, "bkt_orders", dir)
    val (t2, _) = SnapCat.table(s, "bkt_customer", dir)
    s.sql(s"DROP TABLE IF EXISTS $t1")
    s.sql(s"DROP TABLE IF EXISTS $t2")
    s.sql(s"""CREATE TABLE $t1 PARTITIONED BY (bucket(16, k)) AS
             |SELECT o_custkey AS k, CAST(o_totalprice AS DOUBLE) AS price
             |FROM ${Tables.sqlRel(s, dir, "orders")}""".stripMargin)
    s.sql(s"""CREATE TABLE $t2 PARTITIONED BY (bucket(16, k)) AS
             |SELECT c_custkey AS k, c_mktsegment AS seg
             |FROM ${Tables.sqlRel(s, dir, "customer")}""".stripMargin)
    s.sql(s"""SELECT b.seg, COUNT(*) AS n,
             |       ${Qx.dsumSql("a.price")} AS total
             |FROM $t1 a JOIN $t2 b ON a.k = b.k
             |GROUP BY b.seg ORDER BY b.seg""".stripMargin)
  }

  /** PREFIX (LIKE) FILE SKIPPING (`snapshot_prefix_prune`) — the
    * log-search shape: `WHERE key LIKE 'abc%'` on a string-clustered
    * table. Matching strings lie in `[prefix, nextPrefix)` (UTF-8
    * order preserves code-point order), so the catalog scan's file
    * index checks that inclusive superset against each file's recorded
    * string bounds and skips files wholly outside it — metadata-only,
    * same keep-rules as every other pruning shape (surrogate-edge
    * prefixes conservatively keep). The fixture CTASes orders with a
    * synthetic zero-padded string key range-clustered across 8 files
    * and runs a selective prefix window; the oracle recomputes the
    * window from the ORIGINAL table, so an over-pruned boundary file
    * hash-mismatches; the planned-file shrink (and the zero-file
    * out-of-range prefix) is pinned in Round16OpsSpec.
    *
    * Scale: identical cost shape to `snapshot_stats_prune_sql` — the
    * decision is manifest arithmetic; a selective prefix on a 100 TB
    * sorted-key table opens only the covering files. */
  val snapshotPrefixPrune: Q = (s, dir) => {
    val (t, _) = SnapCat.table(s, "prefix_orders", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t AS
             |SELECT /*+ REPARTITION_BY_RANGE(8, sk) */ sk, pri, price FROM (
             |  SELECT concat('k', lpad(CAST(o_orderkey AS STRING), 9, '0')) AS sk,
             |         o_orderpriority AS pri,
             |         CAST(o_totalprice AS DOUBLE) AS price
             |  FROM ${Tables.sqlRel(s, dir, "orders")})""".stripMargin)
    s.sql(s"""SELECT sk, pri, ROUND(price, 2) AS price
             |FROM $t WHERE sk LIKE 'k00000032%'
             |ORDER BY sk""".stripMargin)
  }

  /** BLOOM-FILTER FILE SKIPPING (`snapshot_bloom_prune`) — point
    * lookups on a high-cardinality key, where min/max bounds skip
    * NOTHING because every file spans the whole key domain. Opt-in via
    * `TBLPROPERTIES ('graft.bloom.cols'='o_orderkey')`: each data-file
    * commit runs one distributed pass over the NEW files aggregating a
    * per-file Bloom sketch of the key's XxHash64 values (OR-merged, so
    * row-order independent), written as a sidecar beside the data file
    * and referenced by a `#bloom:` manifest line; the catalog scan's
    * file index then refutes `k = <literal>` / IN-lists per file from
    * the soft-cached ~90 KB sketch — the Hudi bloom-index shape. The
    * fixture stages orders in two commits with fully overlapping key
    * ranges (even keys, then odd) and point-looks a scattered IN-list;
    * the oracle recomputes the same rows from the ORIGINAL table, so a
    * sketch that wrongly refutes a present key (lost row) hash-
    * mismatches; the planned-file shrink itself — including the
    * zero-file absent-key plan — is pinned in Round16OpsSpec.
    *
    * Scale: the sketch decision is driver-side arithmetic over
    * megabytes of soft-cached sidecars; a point lookup on a 100 TB
    * table opens only the files that might hold the key — min/max
    * cannot give this on interleaved keys, and parquet's own blooms
    * sit a level lower (row-group, after the file is opened). */
  val snapshotBloomPrune: Q = (s, dir) => {
    val (t, _) = SnapCat.table(s, "bloom_orders", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t TBLPROPERTIES ('graft.bloom.cols'='o_orderkey') AS
             |SELECT o_orderkey, o_orderpriority,
             |       CAST(o_totalprice AS DOUBLE) AS price
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 2 = 0""".stripMargin)
    s.sql(s"""INSERT INTO $t
             |SELECT o_orderkey, o_orderpriority, CAST(o_totalprice AS DOUBLE)
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 2 = 1""".stripMargin)
    s.sql(s"""SELECT o_orderkey, o_orderpriority, price
             |FROM $t
             |WHERE o_orderkey IN (1, 2, 3, 32, 33, 322, 323, 3205, 3206)
             |ORDER BY o_orderkey""".stripMargin)
  }

  /** SQL-FIRST MAINTENANCE (`sql_maintenance`) — the operational story
    * as stored procedures (Spark 4's `ProcedureCatalog`, the Iceberg
    * `CALL catalog.system.…` shape, [[graft.catalog]]
    * `SnapProcedures`): stack two merge-on-read DELETEs, merge their
    * delete files (`compact_deletes` — metadata-sized), absorb them
    * with a bin-packing full rewrite (`compact` — atomic, basedOn-
    * guarded, stamped rows-unchanged so change feeds and streams pass
    * over it), then bound retention (`vacuum`). The final read goes
    * through the compacted head; the oracle recomputes the surviving
    * rows from the ORIGINAL table, so a compaction that loses, dupes,
    * or resurrects deleted rows hash-mismatches.
    *
    * Scale: `compact_deletes` moves only delete-key bytes; `compact`
    * is the amortized-maintenance rewrite every MOR table schedules
    * anyway (and the ONLY data-moving step here); `vacuum` deletes
    * files below the retention floor. All three are one SQL statement
    * each — no driver-side orchestration for the operator. */
  val sqlMaintenance: Q = (s, dir) => {
    val (t, _) = SnapCat.table(s, "maint_orders", dir)
    val arg = t.stripPrefix("snap.")
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t TBLPROPERTIES ('graft.mor.key'='o_orderkey') AS
             |SELECT o_orderkey, o_orderpriority,
             |       CAST(o_totalprice AS DOUBLE) AS price
             |FROM ${Tables.sqlRel(s, dir, "orders")}""".stripMargin)
    s.sql(s"DELETE FROM $t WHERE o_orderkey % 5 = 0")
    s.sql(s"DELETE FROM $t WHERE o_orderkey % 9 = 0")
    s.sql(s"CALL snap.system.compact_deletes('$arg')")
    s.sql(s"CALL snap.system.compact('$arg')")
    s.sql(s"CALL snap.system.vacuum('$arg', 2)")
    s.sql(s"""SELECT o_orderpriority, COUNT(*) AS n,
             |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             |       ${Qx.dsumSql("price")} AS total
             |FROM $t GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)
  }

  /** MANIFEST-SERVED AGGREGATES (`agg_pushdown_stats`) — the read-side
    * payoff of recording per-file `#stats:` lines at commit time:
    * `SELECT count(*) / count(c) / min(c) / max(c)` on a snap table is
    * answered from the manifest through DSv2 aggregate pushdown
    * ([[graft.catalog.SnapAggPush]]) as a driver-side LocalScan — the
    * physical plan is a one-row LocalTableScan, ZERO data files
    * listed, opened, or footer-read. Iceberg answers count(*) from
    * manifest row-counts the same way; at 100 TB this is the
    * difference between a metadata lookup and a full-table scan. The
    * fixture spans TWO commits (CTAS + INSERT) so the fold crosses
    * manifests, includes a nullable column (count(c) = rows − nulls),
    * and REQUIRE-fails if the plan regressed to a file scan — the
    * oracle then checks the served values are the exact truth.
    * Decline gates (filters, group-by, pending MOR deletes, string
    * bounds, kill-switch) are pinned in Round17OpsSpec. */
  val aggPushdownStats: Q = (s, dir) => {
    val (t, _) = SnapCat.table(s, "aggpush_orders", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t AS
             |SELECT o_orderkey, o_custkey,
             |       CAST(o_totalprice AS DOUBLE) AS price,
             |       IF(o_orderkey % 10 = 0, CAST(NULL AS BIGINT), o_custkey)
             |         AS cust_nullable
             |FROM ${Tables.sqlRel(s, dir, "orders")}
             |WHERE o_orderkey % 3 <> 0""".stripMargin)
    s.sql(s"""INSERT INTO $t
             |SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE),
             |       IF(o_orderkey % 10 = 0, CAST(NULL AS BIGINT), o_custkey)
             |FROM ${Tables.sqlRel(s, dir, "orders")}
             |WHERE o_orderkey % 3 = 0""".stripMargin)
    val df = s.sql(s"""SELECT COUNT(*) AS n, COUNT(cust_nullable) AS n_cust,
                      |MIN(o_orderkey) AS mn_key, MAX(o_orderkey) AS mx_key,
                      |MIN(price) AS mn_price, MAX(price) AS mx_price
                      |FROM $t""".stripMargin)
    require(df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
        if r.scan.isInstanceOf[org.apache.spark.sql.connector.read.LocalScan] => r
    }.isDefined,
      "agg_pushdown_stats must plan as a manifest-served LocalScan — " +
        "the pushdown declined:\n" + df.queryExecution.optimizedPlan)
    df
  }

  /** PER-PARTITION MANIFEST AGGREGATES (`agg_pushdown_group`) — the
    * GROUP BY face of [[aggPushdownStats]]: `SELECT p, count(*),
    * min(c), max(c) ... GROUP BY p` over an identity-PARTITIONED snap
    * table is answered ONE ROW PER PARTITION from the manifest (each
    * partition is a set of whole files, so its rows/bounds fold from
    * the same `#stats:` lines; bounds on the partition column itself
    * read the exact path value — strings included, which footer stats
    * can never serve). The physical plan is a LocalTableScan; the
    * classic warehouse question "how many rows per day/priority" costs
    * zero data I/O at any table size. The fixture spans two commits so
    * groups fold across manifests, and REQUIRE-fails if the plan
    * regressed to a file scan; decline gates are shared with
    * [[aggPushdownStats]] and pinned in Round17OpsSpec. */
  val aggPushdownGroup: Q = (s, dir) => {
    val (t, _) = SnapCat.table(s, "aggpush_group", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t (k BIGINT, price DOUBLE, pri STRING)
             |PARTITIONED BY (pri)""".stripMargin)
    s.sql(s"""INSERT INTO $t
             |SELECT o_orderkey, CAST(o_totalprice AS DOUBLE), o_orderpriority
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 2 = 0""".stripMargin)
    s.sql(s"""INSERT INTO $t
             |SELECT o_orderkey, CAST(o_totalprice AS DOUBLE), o_orderpriority
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 2 = 1""".stripMargin)
    val df = s.sql(s"""SELECT pri, COUNT(*) AS n, MIN(k) AS mn_key,
                      |MAX(k) AS mx_key, MIN(price) AS mn_price,
                      |MAX(price) AS mx_price
                      |FROM $t GROUP BY pri ORDER BY pri""".stripMargin)
    require(df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
        if r.scan.isInstanceOf[org.apache.spark.sql.connector.read.LocalScan] => r
    }.isDefined,
      "agg_pushdown_group must plan as a manifest-served LocalScan — " +
        "the pushdown declined:\n" + df.queryExecution.optimizedPlan)
    df
  }

  /** FILTERED MANIFEST AGGREGATES (`agg_pushdown_filtered`) — the
    * WHERE face of [[aggPushdownStats]]/[[aggPushdownGroup]]: a
    * partition predicate is a whole-file keep/drop decided on path
    * values (a partition value is constant per file), so
    * `count/min/max ... WHERE pri IN (...) GROUP BY pri` still serves
    * from the manifest — Spark's own interpreted predicate evaluates
    * the filter on each file's path values, identical semantics to
    * the partition pruning that consumed it from the plan. Filters
    * touching any DATA column leave a post-scan filter, so Spark
    * never asks and the ordinary scan runs. REQUIRE-fails on plan
    * regression; the served-respects-filter pin is in Round17OpsSpec
    * (a serve path that ignored the WHERE would also hash-mismatch
    * here). */
  val aggPushdownFiltered: Q = (s, dir) => {
    val (t, _) = SnapCat.table(s, "aggpush_filtered", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t (k BIGINT, price DOUBLE, pri STRING)
             |PARTITIONED BY (pri)""".stripMargin)
    s.sql(s"""INSERT INTO $t
             |SELECT o_orderkey, CAST(o_totalprice AS DOUBLE), o_orderpriority
             |FROM ${Tables.sqlRel(s, dir, "orders")}""".stripMargin)
    val df = s.sql(s"""SELECT pri, COUNT(*) AS n, MIN(k) AS mn_key,
                      |MAX(price) AS mx_price
                      |FROM $t
                      |WHERE pri IN ('1-URGENT', '3-MEDIUM', '5-LOW')
                      |GROUP BY pri ORDER BY pri""".stripMargin)
    require(df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
        if r.scan.isInstanceOf[org.apache.spark.sql.connector.read.LocalScan] => r
    }.isDefined,
      "agg_pushdown_filtered must plan as a manifest-served LocalScan — " +
        "the pushdown declined:\n" + df.queryExecution.optimizedPlan)
    df
  }

  /** ORPHAN-FILE SWEEP (`maintenance_orphan_sweep`) — Iceberg's
    * `remove_orphan_files`, the last table-maintenance job in the set
    * (compact / compact_deletes / vacuum / analyze / THIS): reclaim
    * files NO retained snapshot references. Vacuum sweeps below the
    * retention floor; this sweeps INSIDE the retained range, where
    * task retries and crashed writers leave stray parquet right next
    * to live files — under long retention those strays never age out,
    * and at 100 TB a few hundred daily task retries are terabytes of
    * dead bytes.
    *
    * The fixture plants both production orphan classes: (a) a stray
    * file INSIDE a live committed dir (task retry that wrote its
    * output before dying), (b) a whole crashed-writer dir at an
    * uncommitted future version. Everything is aged past the
    * older-than guard, the sweep runs, and the result aggregates the
    * table AFTER the sweep with the removal count attached: a sweep
    * that ate a referenced file (data loss), missed an orphan, or
    * removed a time-travel-reachable file hash-mismatches against the
    * oracle's recomputation from the original orders table.
    * Quiet-guard behavior (hot dirs skipped) and time-travel survival
    * are pinned in Round17OpsSpec.
    *
    * Scale: the referenced set is manifest lines — O(files) strings,
    * zero data I/O; the sweep is a file listing + set difference, the
    * same metadata-only shape as vacuum. */
  val maintenanceOrphanSweep: Q = (s, dir) => {
    import s.implicits._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val (t, root) = SnapCat.table(s, "orphan_orders", dir)
    val arg = t.stripPrefix("snap.")
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t AS
             |SELECT o_orderkey, o_orderpriority,
             |       CAST(o_totalprice AS DOUBLE) AS price
             |FROM ${Tables.sqlRel(s, dir, "orders")}""".stripMargin)
    // v2 rewrites away the %5 keys: v1's files become head-unreferenced
    // but stay time-travel-reachable — the sweep must NOT touch them
    s.sql(s"DELETE FROM $t WHERE o_orderkey % 5 = 0")
    val live = graft.sources.Snapshots.resolve(root).get.files.head
    val livePath = Paths.get(live)
    // orphan (a): task-retry stray inside the live committed dir
    val strayInLive = livePath.getParent.resolve("part-99999-task-retry.parquet")
    Files.copy(livePath, strayInLive)
    // orphan (b): crashed-writer dir at an uncommitted future version
    val crashed = Paths.get(root, f"v${9999L}%08d_dead_1")
    Files.createDirectories(crashed)
    Files.copy(livePath, crashed.resolve("part-00000-crashed.parquet"))
    // age the whole tree past the guard (the sweep only touches QUIET
    // dirs); planting bumped the mtimes we just need to be old
    val aged = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 80L * 3600 * 1000)
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.foreach(p =>
      try Files.setLastModifiedTime(p, aged) catch { case _: Exception => () })
    finally walk.close()
    val removed = s.sql(s"CALL snap.system.remove_orphan_files('$arg', 72)")
      .collect().head.getLong(0)
    s.table(t).groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), Qx.dsum($"price").as("total"))
      .withColumn("orphans_removed", lit(removed))
      .orderBy($"o_orderpriority")
  }

  /** NATIVE STREAMING SOURCE (`stream_snapshot_source`) — the read
    * half of the exactly-once pair whose write half is
    * `stream_catalog_sink`: a real Structured Streaming query TAILS a
    * snapshot-catalog table with `spark.readStream.table`
    * ([[graft.catalog.GraftMicroBatchStream]]). Offsets are committed
    * VERSIONS; each micro-batch plans the manifest set-difference of
    * its (start, end] range — the same metadata-only delta batch
    * consumers get from `Snapshots.readChanges` — and
    * `maxFilesPerTrigger=1` paces the drain so the AvailableNow run
    * takes one micro-batch per commit (multi-batch progress, restart
    * safety, and change-commit policy are pinned in Round15OpsSpec).
    * The fixture lands the events table in three INSERT commits, tails
    * the table through the source into a parquet sink, and aggregates
    * the sink; the oracle reads the ORIGINAL events table once — a
    * dropped commit, a doubled batch, or base files leaking into a
    * delta all hash-mismatch.
    *
    * Scale: planning cost per micro-batch is O(new files) manifest
    * arithmetic — the 100 TB base is never re-listed; reading is the
    * same vectorized pruned parquet scan a batch read of those files
    * would plan. */
  val streamSnapshotSource: Q = (s, dir) => {
    import s.implicits._
    val (t, _) = SnapCat.table(s, "snapsrc_events", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (event_type STRING, value DOUBLE)")
    val base = Tables.load(s, dir, "events")
      .select($"event_id", $"event_type", $"value")
    (0 to 2).foreach { m =>
      // one file per commit so the paced AvailableNow drain below runs
      // exactly one micro-batch per commit as documented (coalesce(4)
      // made it 4 batches per commit — 12 planning+checkpoint rounds
      // for the same rows)
      base.filter($"event_id" % 3 === m).drop("event_id").coalesce(1)
        .writeTo(t).append()
    }
    val sink = Qx.tmpOut("snapsrcsink", dir)
    val ckpt = Qx.tmpOut("snapsrcckpt", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(sink))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val q = s.readStream
      .option("maxFilesPerTrigger", "1")
      .table(t)
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(sink).groupBy($"event_type")
      .agg(count(lit(1)).as("n"), Qx.dsum($"value").as("total"))
      .orderBy($"event_type")
  }

  /** PARTITION EVOLUTION (`snapshot_partition_evolution`) — the
    * partition spec CHANGES across commits and pruned reads stay
    * correct over both eras (Iceberg's add-partition-field): era A
    * stages orders `.partitionBy(o_orderpriority)`, era B appends the
    * other half `.partitionBy(o_orderpriority, o_band)` (band derived
    * from the price). A read filtered on (priority, band) prunes
    * per-spec — priority prunes BOTH eras; band prunes only era-B
    * files, because an era-A file carries no `o_band=` segment and
    * cannot be proven non-matching from metadata
    * ([[graft.sources.Snapshots.readPartitionPrunedEvolved]]). The
    * query then re-derives the band for pre-evolution rows from its
    * source column (Iceberg's transform-on-read) and re-applies the
    * residual predicate — pruning is an I/O optimization, never the
    * correctness carrier. File-level pruning per era is spec-pinned
    * via the planned scan files (Round14OpsSpec); the oracle recomputes the
    * (priority, band) slice from the ORIGINAL table, so a pruned-away
    * matching file, a leaked band=lo file, or a broken band
    * re-derivation hash-mismatches. */
  val snapshotPartitionEvolution: Q = (s, dir) => {
    import s.implicits._
    import graft.sources.Snapshots
    val root = Qx.tmpOut("snappevo", dir)
    val o = Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
    val band = when($"o_totalprice" > 150000, "hi").otherwise("lo")
    Snapshots.commit(root)(out =>
      o.filter($"o_orderkey" % 2 === 0)
        .write.partitionBy("o_orderpriority").mode("append").parquet(out))
    Snapshots.commitAppend(root)(out =>
      o.filter($"o_orderkey" % 2 === 1).withColumn("o_band", band)
        .write.partitionBy("o_orderpriority", "o_band").mode("append").parquet(out))
    Snapshots.vacuum(root, keepLast = 2)
    Snapshots.readPartitionPrunedEvolved(s, root, Map(
        "o_orderpriority" -> Seq("1-URGENT", "2-HIGH"), "o_band" -> Seq("hi")))
      .withColumn("band_eff", coalesce($"o_band", band))
      .filter($"band_eff" === "hi" &&
        $"o_orderpriority".isin("1-URGENT", "2-HIGH"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), Qx.dsum($"o_totalprice").as("total"))
      .orderBy($"o_orderpriority")
  }

  /** DELETE-FILE COMPACTION (`rewrite_deletes`) — the maintenance op
    * that keeps merge-on-read sustainable: pending delete files stack
    * one per statement until a full rewrite absorbs them, and at
    * 100 TB (rewrites rare, GDPR deletes frequent) reads pay one
    * key-scan per pending file forever.
    * [[graft.sources.Snapshots.compactDeletes]] collapses them into
    * the fewest files that preserve EXACT scoping semantics — deletes
    * merge only within scope-equivalence classes (no data file staged
    * between their cover versions), so a re-insert between two deletes
    * blocks their merge and stays visible. The commit moves
    * O(deleted keys) bytes and zero table data.
    *
    * The fixture stacks the hard case: two mergeable deletes, a
    * re-insert of the deleted nation-13 rows at +1000, then a third
    * delete (even custkeys) that covers the re-insert era — so its
    * class must stay separate. The oracle replays the scoping in
    * ANSI SQL: an over-merge (third delete folded in → every nation-13
    * re-insert vanishes) or under-coverage hash-mismatches. The
    * file-count reduction itself (3 delete files → 2) and untouched
    * data files are spec-pinned (Round14OpsSpec). */
  val rewriteDeletes: Q = (s, dir) => {
    import s.implicits._
    import graft.sources.Snapshots
    val root = Qx.tmpOut("delcompact", dir)
    val base = Tables.load(s, dir, "customer")
      .select($"c_custkey".as("custkey"), $"c_nationkey".as("nationkey"),
        $"c_acctbal".as("acctbal"))
    Snapshots.commit(root)(out => base.write.mode("append").parquet(out))
    Snapshots.commitDelete(root, "custkey")(out =>
      base.filter($"acctbal" < 0.0).select($"custkey")
        .write.mode("append").parquet(out))
    Snapshots.commitDelete(root, "custkey")(out =>
      base.filter($"nationkey" === 13).select($"custkey")
        .write.mode("append").parquet(out))
    // re-insert the deleted nation-13 rows, shifted — staged AFTER the
    // deletes, version scoping keeps them visible
    Snapshots.commitAppend(root)(out =>
      base.filter($"nationkey" === 13)
        .withColumn("acctbal", $"acctbal" + 1000.0)
        .write.mode("append").parquet(out))
    // covers the re-insert era: even-custkey nation-13 rows vanish again
    Snapshots.commitDelete(root, "custkey")(out =>
      base.filter($"nationkey" === 13 && $"custkey" % 2 === 0)
        .select($"custkey").write.mode("append").parquet(out))
    Snapshots.compactDeletes(s, root)
    Snapshots.vacuum(root, keepLast = 6)
    Snapshots.read(s, root).groupBy($"nationkey")
      .agg(count(lit(1)).as("n"), Qx.dsum($"acctbal").as("total"))
      .orderBy($"nationkey")
  }

  /** WRITE-AUDIT-PUBLISH — the Iceberg WAP pattern on a BRANCH of the
    * SAME table (r19, retiring the separate staging root): the risky
    * batch commits to a named branch — a speculative continuation of
    * main's commit log — where the audit gate sees the TRUE
    * prospective serving state (main's rows plus the batch) while main
    * serves readers untouched. Only then does `Snapshots.fastForward`
    * squash the branch into ONE main commit published by a single
    * atomic link (r20) — metadata-only, zero bytes of data moved, main
    * either at the fork or at the complete branch state, never at a
    * partial prefix. A second batch on a second branch deliberately
    * FAILS its audit (a corrupted extract carrying one priority class)
    * and its branch is dropped — its staged files age out under the
    * table's ONE retention policy. The output unions main's
    * pre-publish version with the post-publish head; the oracle
    * recomputes both from the ORIGINAL table, so a publish that
    * copies/loses rows, double-publishes, or leaks the failed batch
    * hash-mismatches.
    *
    * Scale: the audit runs against the branch at full parallelism;
    * publish cost is ONE atomic manifest link regardless of batch size
    * or branch length — the pattern that makes "never let unvalidated
    * data into the serving table" affordable at 100 TB ingest rates. */
  val snapshotWapPublish: Q = (s, dir) => {
    import s.implicits._
    import graft.sources.Snapshots
    val main = Qx.tmpOut("wapmain", dir)
    val o = Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
    Snapshots.commit(main)(out =>
      o.filter($"o_orderkey" % 3 === 0).write.mode("append").parquet(out))
    val vPre = Snapshots.maxCommitted(main)
    // re-runnable in one JVM (bench passes share tmp roots): a prior
    // pass's refs drop before re-branching
    Snapshots.dropBranch(main, "audit")
    Snapshots.createBranch(main, "audit")
    Snapshots.commitToBranch(main, "audit")(out =>
      o.filter($"o_orderkey" % 3 === 1).write.mode("append").parquet(out))
    // audit gate, against the branch's prospective serving state
    val audited = Snapshots.readBranch(s, main, "audit")
    require(audited.filter($"o_orderkey".isNull).isEmpty &&
      audited.count() > Snapshots.read(s, main).count(),
      "audit failed: staged batch is empty or has null keys")
    Snapshots.fastForward(main, "audit")
    // a second batch fails its audit (a corrupted extract carrying
    // only one priority class) and its branch is dropped unpublished
    Snapshots.dropBranch(main, "audit2")
    Snapshots.createBranch(main, "audit2")
    Snapshots.commitToBranch(main, "audit2")(out =>
      o.filter($"o_orderkey" % 3 === 2 && $"o_orderpriority" === "1-URGENT")
        .write.mode("append").parquet(out))
    val vB = Snapshots.branchHead(main, "audit2")
    val newPrios = Snapshots.readBranch(s, main, "audit2")
      .join(Snapshots.readAt(s, main, vB - 1), Seq("o_orderkey"), "left_anti")
      .select($"o_orderpriority").distinct().count()
    if (newPrios >= 2) Snapshots.fastForward(main, "audit2")
    else Snapshots.dropBranch(main, "audit2")
    def agg(df: org.apache.spark.sql.DataFrame, era: String) =
      df.groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"), Qx.dsum($"o_totalprice").as("total"))
        .select(lit(era).as("era"), $"o_orderpriority", $"n", $"total")
    agg(Snapshots.readAt(s, main, vPre), "pre")
      .unionByName(agg(Snapshots.read(s, main), "published"))
      .orderBy($"era", $"o_orderpriority")
  }

  /** BRANCH WAP ENTIRELY IN SQL, with the ROW-LEVEL REPAIR loop (r20):
    * the risky batch INSERTs into the `t.branch_audit` suffix table,
    * the audit finds corrupted rows (negative prices), and the repair
    * runs ON THE BRANCH — an UPDATE flips the recoverable (even-key)
    * rows' signs in place, a DELETE drops the hopeless ones — before
    * ONE atomic squash publish. Main serves readers untouched through
    * the whole loop: `fast_forward` refuses unless main's head still
    * equals the fork, so a statement that leaked to main would fail
    * the query itself. The output unions the pre-publish version (via
    * SQL time travel) with the published head; the oracle recomputes
    * both eras from the ORIGINAL table, so a repair applied to the
    * wrong rows, a leaked unrepaired row, or a double-published batch
    * hash-mismatches.
    *
    * Scale: the UPDATE/DELETE statements cost one branch commit each
    * (the table's row-level mode — COW here), the publish is ONE
    * manifest link regardless of batch size, and nothing ever blocks
    * main's readers — the audit-repair-publish loop a 100 TB ingest
    * pipeline runs nightly. */
  val sqlBranchWap: Q = (s, dir) => {
    import s.implicits._
    import graft.sources.Snapshots
    val (t, root) = SnapCat.table(s, "branch_wap", dir)
    val tn = t.stripPrefix("snap.")
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t AS
             |SELECT o_orderkey AS okey, o_orderpriority AS prio,
             |       o_totalprice AS price
             |FROM ${Tables.sqlRel(s, dir, "orders")}
             |WHERE o_orderkey % 3 = 0""".stripMargin)
    val vPre = Snapshots.maxCommitted(root)
    // re-runnable in one JVM (bench passes share tmp roots)
    Snapshots.dropBranch(root, "audit")
    s.sql(s"CALL snap.system.create_branch('$tn', 'audit')")
    // the risky batch: every 5-LOW price arrives corrupted (negated)
    s.sql(s"""INSERT INTO $t.branch_audit
             |SELECT o_orderkey AS okey, o_orderpriority AS prio,
             |       CASE WHEN o_orderpriority = '5-LOW'
             |            THEN -o_totalprice ELSE o_totalprice END AS price
             |FROM ${Tables.sqlRel(s, dir, "orders")}
             |WHERE o_orderkey % 3 = 1""".stripMargin)
    // audit flags price < 0; repair on the branch: even keys are
    // recoverable in place, odd keys are dropped
    s.sql(s"UPDATE $t.branch_audit SET price = -price " +
      "WHERE price < 0.0 AND okey % 2 = 0")
    s.sql(s"DELETE FROM $t.branch_audit WHERE price < 0.0")
    s.sql(s"CALL snap.system.fast_forward('$tn', 'audit')")
    def agg(df: org.apache.spark.sql.DataFrame, era: String) =
      df.groupBy($"prio")
        .agg(count(lit(1)).as("n"), Qx.dsum($"price").as("total"))
        .select(lit(era).as("era"), $"prio", $"n", $"total")
    agg(s.sql(s"SELECT * FROM $t VERSION AS OF $vPre"), "pre")
      .unionByName(agg(s.table(t), "published"))
      .orderBy($"era", $"prio")
  }

  /** MATERIALIZED REWRITE CDF (r20) — the row-level change capture a
    * copy-on-write table publishes WITH each rewrite commit when
    * `graft.changes.rewriteDiff` is set (Delta's enableChangeDataFeed
    * analogue): the COW writer diffs the statement's old state against
    * its staged survivor set (multiset exceptAll — duplicates exact,
    * untouched rows cancel) and lists the O(touched) effect parquet in
    * the SAME atomic manifest (`#changes:` lines), which is what lets
    * the streaming `.changes` feed replay a COW UPDATE/DELETE instead
    * of refusing (StreamingSpec drives a live stream through both plus
    * a compaction). This query reads the sidecars of an UPDATE and a
    * DELETE commit back as data; the oracle recomputes both commits'
    * exact effect rows from the ORIGINAL table — a diff that misses a
    * row, duplicates one, or attributes it to the wrong commit
    * hash-mismatches.
    *
    * Scale: the diff costs one old+new comparison per statement —
    * opt-in per table, O(touched) sidecar bytes; consumers then read
    * effects O(delta) forever after, the CDC economics Delta CDF and
    * Iceberg's changelog sell at 100 TB. */
  val snapshotRewriteCdf: Q = (s, dir) => {
    import s.implicits._
    import graft.sources.Snapshots
    val (t, root) = SnapCat.table(s, "cdf_rewrite", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t TBLPROPERTIES ('graft.changes.rewriteDiff'='true')
             |AS SELECT c_custkey AS custkey, c_nationkey AS nationkey,
             |          c_acctbal AS acctbal
             |FROM ${Tables.sqlRel(s, dir, "customer")}""".stripMargin)
    s.sql(s"UPDATE $t SET acctbal = acctbal + 100.0 WHERE nationkey < 10")
    s.sql(s"DELETE FROM $t WHERE acctbal < 0.0")
    def effects(v: Long) = {
      val fs = Snapshots.resolveAt(root, v).changeFiles
      // one commit's sidecars share one Spark-written schema: read it
      // from the first footer on the driver instead of scheduling an
      // inference job per era (guide §7.3 driver work)
      val rd = Snapshots.footerSparkSchema(fs.head)
        .map(s.read.schema(_)).getOrElse(s.read)
      rd.parquet(fs: _*)
        .select(lit(v).as("cv"), $"_change_type".as("change_type"),
          $"custkey", $"nationkey", $"acctbal")
    }
    effects(2L).unionByName(effects(3L))
      .orderBy($"cv", $"change_type", $"custkey")
  }

  /** RESTORE — roll the head BACK to an audited version without
    * touching a data file (Delta's `RESTORE TABLE`): after three
    * commits the store restores to the two-slice version, so the head
    * reads slices {0,1} while the rolled-back-over third commit stays
    * time-travelable (history rolls forward — the restore is itself a
    * new commit). The output unions the restored head with the
    * pre-restore version; the oracle recomputes BOTH eras from the
    * ORIGINAL table, so a restore that drops a file, leaks the third
    * slice into the head, or destroys the rolled-over version
    * hash-mismatches.
    *
    * Scale: restore is ONE manifest write referencing the old
    * version's immutable files — rolling back a 100 TB table costs
    * kilobytes, and no reader ever sees a mix. */
  val snapshotRestore: Q = (s, dir) => {
    import s.implicits._
    import graft.sources.Snapshots
    val root = Qx.tmpOut("restore", dir)
    val o = Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
    Snapshots.commit(root)(out =>
      o.filter($"o_orderkey" % 3 === 0).write.mode("append").parquet(out))
    val v2 = Snapshots.commitAppend(root)(out =>
      o.filter($"o_orderkey" % 3 === 1).write.mode("append").parquet(out))
    val v3 = Snapshots.commitAppend(root)(out =>
      o.filter($"o_orderkey" % 3 === 2).write.mode("append").parquet(out))
    Snapshots.restore(root, v2)
    def agg(df: org.apache.spark.sql.DataFrame, era: String) =
      df.groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"), Qx.dsum($"o_totalprice").as("total"))
        .select(lit(era).as("era"), $"o_orderpriority", $"n", $"total")
    agg(Snapshots.read(s, root), "head")
      .unionByName(agg(Snapshots.readAt(s, root, v3), "pre"))
      .orderBy($"era", $"o_orderpriority")
  }

  /** NAMED-TAG time travel — `VERSION AS OF '<tag>'`: Iceberg-style
    * refs over the snapshot store. A release pipeline tags the commit
    * it validated (`audit_pass`, `training_cut_v3`) and every
    * downstream query names the REF, not a version number nobody
    * remembers — the tag is one tiny metadata file, re-pointed
    * atomically. The statement surface is NATIVE: Spark parses a
    * STRING version and hands it to the catalog's
    * `loadTable(ident, version)`, which resolves a non-numeric one
    * through `Snapshots.tagVersion` ([[graft.catalog.GraftCatalog]]). The
    * query tags the two-slice era and unions it with the head; the
    * oracle recomputes that era from the ORIGINAL table, so a
    * mis-pointed or stale tag hash-mismatches.
    *
    * Scale: a tag read is one metadata-file read + the same pinned
    * manifest resolution as any VERSION AS OF — history stays free. */
  val sqlTimeTravelTag: Q = (s, dir) => {
    import graft.sources.Snapshots
    val (t, root) = SnapCat.table(s, "tttag_orders", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t AS
             |SELECT o_orderkey, o_orderpriority, o_totalprice
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 3 = 0""".stripMargin)
    s.sql(s"""INSERT INTO $t SELECT o_orderkey, o_orderpriority, o_totalprice
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 3 = 1""".stripMargin)
    s.sql(s"""INSERT INTO $t SELECT o_orderkey, o_orderpriority, o_totalprice
             |FROM ${Tables.sqlRel(s, dir, "orders")} WHERE o_orderkey % 3 = 2""".stripMargin)
    Snapshots.tag(root, "audit_cut", 2L)
    s.sql(
      s"""SELECT 'tagged' AS era, o_orderpriority, COUNT(*) AS n,
         |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
         |FROM $t VERSION AS OF 'audit_cut'
         |GROUP BY o_orderpriority
         |UNION ALL
         |SELECT 'head' AS era, o_orderpriority, COUNT(*) AS n,
         |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
         |FROM $t
         |GROUP BY o_orderpriority
         |ORDER BY era, o_orderpriority""".stripMargin)
  }

  /** STREAMING INGEST into the snapshot store, exactly-once: each
    * micro-batch lands as one idempotent append commit through the
    * SAME `foreachBatch` binding a production stream passes to
    * `.writeStream.foreachBatch(Snapshots.appendBatch(root, appId) _)`
    * — the manifest carries a `#txn:<appId>:<batchId>` tag, and a
    * REPLAYED batch (what a crash between the store commit and the
    * checkpoint write causes on restart) finds its tag already
    * committed and no-ops. This is Delta's `txnAppId`/`txnVersion`
    * idempotence; without it, `foreachBatch` is only at-least-once.
    *
    * The query drives three event micro-batches through the sink, then
    * REPLAYS the last one with the same batchId — if the replay were
    * appended instead of skipped, every count/sum in the result would
    * double and the oracle (which reads the `events` table once) would
    * hash-mismatch. The live MemoryStream + checkpoint-restart form of
    * the same sink is exercised in Round9OpsSpec.
    *
    * Scale: an append commit moves the micro-batch's files plus one
    * small manifest — O(delta), never O(table); the idempotence check
    * is one header line per retained manifest (metadata-only). Readers
    * tail the store incrementally via `Snapshots.readChanges` — the
    * [[snapshotIncrementalRead]] path — so the ingest loop and its
    * consumers never re-list the 100 TB base. */
  val streamSnapshotAppend: Q = (s, dir) => {
    import s.implicits._
    import graft.sources.Snapshots
    val root = Qx.tmpOut("snapstream", dir)
    val appId = "graft_ingest"
    val base = Tables.load(s, dir, "events")
      .select($"event_id", $"event_type", $"value")
    def batch(m: Int) = base.filter($"event_id" % 3 === m).drop("event_id")
    (0 to 2).foreach(b => Snapshots.appendBatch(root, appId)(batch(b), b))
    // crash-replay of the last micro-batch: same batchId → must no-op
    Snapshots.appendBatch(root, appId)(batch(2), 2)
    Snapshots.read(s, root)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), Qx.dsum($"value").as("total_value"))
      .orderBy($"event_type")
  }

  /** Memo of the ANALYZEd catalog twin tables — keyed by sf dir like
    * the bucketed-join memo (NOT by session: a session key would pin
    * every session's object graph for the JVM lifetime), with a
    * per-session catalog-existence re-check inside the bin lock since
    * the in-memory catalog forgets tables between sessions. Repeated
    * query construction (Bench warm + 3 timed passes, Verify, specs)
    * publishes once. */
  private val statsReady =
    new java.util.concurrent.ConcurrentHashMap[String, Unit]()

  /** Publish `customer`/`orders` as CATALOG tables (external, under a
    * pid-scoped tmp location) and run `ANALYZE TABLE … COMPUTE
    * STATISTICS FOR ALL COLUMNS` on both — the step that closes the
    * statistics loop: [[profileTable]] computes exactly these numbers
    * (rows, NDV, min/max) as DATA; this materializes them where the
    * cost-based optimizer actually reads them (catalog stats are
    * invisible on temp views over raw parquet — a table object is the
    * price of admission). Deliberately does NOT touch
    * `spark.sql.cbo.enabled`: mutating a shared session's optimizer
    * mode as a side effect of building one query would make every
    * other plan order-dependent on whether this op ran first; the
    * CBO-on/off plan flip is demonstrated under an explicitly scoped
    * conf in Round8OpsSpec instead. */
  private[graft] def ensureStatsTables(s: SparkSession, dir: String): (String, String) = {
    // catalog metadata is per-JVM (in-memory catalog); only the DATA
    // path needs cross-JVM isolation, which tmpOut's pid suffix gives.
    // Tag = truncated SHA-256 of the full dir string: collision-free in
    // practice, unlike hashCode, where two dirs sharing a 32-bit hash
    // would alias table names while the memo (keyed by the full string)
    // believed them distinct.
    val tag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    val tc = s"graft_stats_customer_$tag"
    val to = s"graft_stats_orders_$tag"
    statsReady.compute(dir, (_, _) => {
      if (!s.catalog.tableExists(tc)) {
        Tables.load(s, dir, "customer").write.mode("overwrite")
          .option("path", Qx.tmpOut(s"statc$tag", dir)).saveAsTable(tc)
        Tables.load(s, dir, "orders").write.mode("overwrite")
          .option("path", Qx.tmpOut(s"stato$tag", dir)).saveAsTable(to)
        s.sql(s"ANALYZE TABLE $tc COMPUTE STATISTICS FOR ALL COLUMNS")
        s.sql(s"ANALYZE TABLE $to COMPUTE STATISTICS FOR ALL COLUMNS")
      }
    })
    (tc, to)
  }

  /** Statistics→optimizer feedback, end to end: revenue by market
    * segment for HIGH-BALANCE customers (c_acctbal > 9000, ~10%
    * selective at every SF), run over the ANALYZEd catalog twins.
    * The RESULT is stats-independent (hash-checked against
    * DuckDB on the raw parquet — publishing tables + stats must change
    * nothing); the PLAN is what the stats buy: with column stats, the
    * optimizer's FilterEstimation shrinks the filtered dim's size/row
    * estimate ~10×, which is what flips a dim join to broadcast once
    * the full table exceeds the threshold. Round8OpsSpec pins exactly
    * that flip (CBO off → SortMergeJoin, CBO on + stats → Broadcast
    * HashJoin, threshold held between the two estimates); at 100 TB
    * this decision — shuffle the 100 TB fact vs broadcast the filtered
    * dim — is the difference between hours and minutes, and it is made
    * from these ANALYZE numbers, not file sizes. */
  val statsCboJoin: Q = (s, dir) => {
    import s.implicits._
    val (tc, to) = ensureStatsTables(s, dir)
    s.table(to)
      .join(s.table(tc).filter($"c_acctbal" > 9000), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), Qx.dsum($"o_totalprice").as("revenue"))
      .orderBy($"c_mktsegment")
  }

  /** ANALYZE → CBO ON SNAP TABLES (`stats_cbo_join_snap`) — the
    * statistics loop [[statsCboJoin]] proves on session-catalog
    * tables, now native to the snapshot catalog: `CALL
    * snap.system.analyze` computes per-column distinct counts in one
    * distributed pass and records them in the table's NDV ledger;
    * the DSv2 scan reports them (plus manifest-aggregated
    * min/max/null counts — metadata already in memory) as v2 column
    * statistics, which Spark folds into the logical plan's attribute
    * stats. Under `spark.sql.cbo.enabled` a selective dim filter then
    * estimates realistically and flips the join to broadcast — the
    * plan flip is pinned in Round17OpsSpec under a scoped conf (this
    * query deliberately leaves the shared session's optimizer mode
    * alone, same policy as [[statsCboJoin]]). The oracle recomputes
    * the joined aggregate from the original tables, so the analyze
    * pass and the stats-reporting scan can never change results, only
    * plans. */
  val statsCboJoinSnap: Q = (s, dir) => {
    import s.implicits._
    val (tc, _) = SnapCat.table(s, "cbo_customer", dir)
    val (to, _) = SnapCat.table(s, "cbo_orders", dir)
    s.sql(s"DROP TABLE IF EXISTS $tc")
    s.sql(s"DROP TABLE IF EXISTS $to")
    s.sql(s"""CREATE TABLE $tc AS
             |SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS c_acctbal
             |FROM ${Tables.sqlRel(s, dir, "customer")}""".stripMargin)
    s.sql(s"""CREATE TABLE $to AS
             |SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
             |FROM ${Tables.sqlRel(s, dir, "orders")}""".stripMargin)
    s.sql(s"CALL snap.system.analyze('${tc.stripPrefix("snap.")}')")
    s.sql(s"CALL snap.system.analyze('${to.stripPrefix("snap.")}')")
    s.table(to)
      .join(s.table(tc).filter($"c_acctbal" > 9000), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), Qx.dsum($"o_totalprice").as("revenue"))
      .orderBy($"c_mktsegment")
  }

  val queries: Map[String, Q] = Map(
    "layout_zorder" -> layoutZorder,
    "layout_compact" -> layoutCompact,
    "table_commit_swap" -> tableCommitSwap,
    "snapshot_time_travel" -> snapshotTimeTravel,
    "snapshot_incremental_read" -> snapshotIncrementalRead,
    "stream_snapshot_append" -> streamSnapshotAppend,
    "snapshot_schema_evolution" -> snapshotSchemaEvolution,
    "sql_update_delete" -> sqlUpdateDelete,
    "sql_delete_mor" -> sqlDeleteMor,
    "sql_delete_positional" -> sqlDeletePositional,
    "sql_update_mor" -> sqlUpdateMor,
    "sql_time_travel" -> sqlTimeTravel,
    "sql_time_travel_ts" -> sqlTimeTravelTs,
    "sql_time_travel_tag" -> sqlTimeTravelTag,
    "snapshot_restore" -> snapshotRestore,
    "rewrite_deletes" -> rewriteDeletes,
    "snapshot_partition_evolution" -> snapshotPartitionEvolution,
    "sql_schema_evolution" -> sqlSchemaEvolution,
    "sql_nested_evolution" -> sqlNestedEvolution,
    "sql_rename_evolution" -> sqlRenameEvolution,
    "sql_type_widening" -> sqlTypeWidening,
    "sql_evolution_mor" -> sqlEvolutionMor,
    "sql_evolution_drop" -> sqlEvolutionDrop,
    "join_storage_partitioned" -> joinStoragePartitioned,
    "join_bucket_partitioned" -> joinBucketPartitioned,
    "sql_maintenance" -> sqlMaintenance,
    "maintenance_orphan_sweep" -> maintenanceOrphanSweep,
    "agg_pushdown_stats" -> aggPushdownStats,
    "agg_pushdown_group" -> aggPushdownGroup,
    "agg_pushdown_filtered" -> aggPushdownFiltered,
    "snapshot_delete_composite" -> snapshotDeleteComposite,
    "stream_catalog_sink" -> streamCatalogSink,
    "stream_snapshot_source" -> streamSnapshotSource,
    "snapshot_wap_publish" -> snapshotWapPublish,
    "sql_branch_wap" -> sqlBranchWap,
    "snapshot_rewrite_cdf" -> snapshotRewriteCdf,
    "sql_delete_mor_bucketed" -> sqlDeleteMorBucketed,
    "snapshot_cdf_batch" -> snapshotCdfBatch,
    "snapshot_partition_prune" -> snapshotPartitionPrune,
    "snapshot_stats_prune" -> snapshotStatsPrune,
    "snapshot_stats_prune_sql" -> snapshotStatsPruneSql,
    "snapshot_bloom_prune" -> snapshotBloomPrune,
    "snapshot_prefix_prune" -> snapshotPrefixPrune,
    "sql_partitioned_table" -> sqlPartitionedTable,
    "sql_partitioned_time" -> sqlPartitionedTime,
    "snapshot_cdf_rows" -> snapshotCdfRows,
    "snapshot_prune_mor" -> snapshotPruneMor,
    "profile_table" -> profileTable,
    "stats_cbo_join" -> statsCboJoin,
    "stats_cbo_join_snap" -> statsCboJoinSnap,
    "sink_parquet_zordered" -> sinkParquetZordered)

  val oracle: Map[String, String] = Map(
    "layout_zorder" -> s"""
      WITH z AS (
        SELECT l_partkey, l_suppkey, CAST($zSql AS BIGINT) AS z
        FROM lineitem)
      SELECT z // 4096 AS zcell, COUNT(*) AS n_rows,
             MIN(l_partkey) AS part_min, MAX(l_partkey) AS part_max,
             MAX(l_partkey) - MIN(l_partkey) AS part_span,
             MIN(l_suppkey) AS supp_min, MAX(l_suppkey) AS supp_max,
             MAX(l_suppkey) - MIN(l_suppkey) AS supp_span
      FROM z GROUP BY zcell ORDER BY zcell""",
    // The clustered write must be lossless: the oracle reads the
    // ORIGINAL table — any row lost/duplicated by the layout write
    // would hash-mismatch.
    "sink_parquet_zordered" -> """
      SELECT l_suppkey, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty
      FROM lineitem
      WHERE l_partkey >= 20 AND l_partkey < 120
        AND l_suppkey >= 2 AND l_suppkey < 8
      GROUP BY l_suppkey ORDER BY l_suppkey""",
    // Lossless through BOTH rewrites: the oracle reads the ORIGINAL
    // table, so a row lost or duplicated by the fragmented appends or
    // the compaction rewrite hash-mismatches.
    "layout_compact" -> """
      SELECT l_suppkey, COUNT(*) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
               AS revenue
      FROM lineitem
      WHERE l_partkey >= 20 AND l_partkey < 120
        AND l_suppkey >= 2 AND l_suppkey < 8
      GROUP BY l_suppkey ORDER BY l_suppkey""",
    // Lossless through the VERSIONED maintenance cycle: the oracle reads
    // the ORIGINAL table, so a row lost or duplicated by the snapshot
    // appends, the compaction rewrite, or a mis-resolved manifest (e.g.
    // reading a mixed file set) hash-mismatches.
    "table_commit_swap" -> """
      SELECT l_suppkey, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
               AS revenue
      FROM lineitem
      WHERE l_partkey >= 20 AND l_partkey < 120
        AND l_suppkey >= 2 AND l_suppkey < 8
      GROUP BY l_suppkey ORDER BY l_suppkey""",
    // Each historical version must equal the state it was committed
    // with: the oracle recomputes every version's content from the
    // ORIGINAL table via the slice predicates, so a version resolving
    // to the wrong file set (stale, mixed, or clobbered by a later
    // commit) hash-mismatches.
    "snapshot_time_travel" -> """
      SELECT CAST(1 AS INTEGER) AS step, l_returnflag, COUNT(*) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
               AS revenue
      FROM lineitem WHERE l_orderkey % 3 = 0 GROUP BY l_returnflag
      UNION ALL
      SELECT CAST(2 AS INTEGER), l_returnflag, COUNT(*),
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
      FROM lineitem WHERE l_orderkey % 3 <= 1 GROUP BY l_returnflag
      UNION ALL
      SELECT CAST(3 AS INTEGER), l_returnflag, COUNT(*),
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
      FROM lineitem GROUP BY l_returnflag
      ORDER BY step, l_returnflag""",
    // The change feed must surface EXACTLY the appended slices — a diff
    // that leaks base files (over-read) or misses a delta file
    // (under-read) changes the counts/sums and hash-mismatches.
    "snapshot_incremental_read" -> """
      SELECT CAST(1 AS INTEGER) AS from_step, o_orderpriority,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS total
      FROM orders WHERE o_orderkey % 3 >= 1 GROUP BY o_orderpriority
      UNION ALL
      SELECT CAST(2 AS INTEGER), o_orderpriority, COUNT(*),
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
      FROM orders WHERE o_orderkey % 3 = 2 GROUP BY o_orderpriority
      ORDER BY from_step, o_orderpriority""",
    // Both eras recomputed from the ORIGINAL table: even-key rows are
    // pre-evolution (band = 'none'), odd-key rows carry the band — a
    // mis-nulled column, a dropped era, or a stale schema resolution
    // hash-mismatches.
    "snapshot_schema_evolution" -> s"""
      SELECT o_orderpriority,
             CASE WHEN o_orderkey % 2 = 1
                  THEN CASE WHEN o_totalprice > 150000 THEN 'hi' ELSE 'lo' END
                  ELSE 'none' END AS band,
             COUNT(*) AS n, ${Qx.dsumSql("o_totalprice")} AS total
      FROM orders
      GROUP BY o_orderpriority, band
      ORDER BY o_orderpriority, band""",
    // Replays the statement pair in ANSI SQL over the ORIGINAL table:
    // the UPDATE's CASE first, then the DELETE's filter over the
    // POST-update values — out-of-order execution, wrong WHERE
    // semantics, or rows lost/duplicated by the copy-on-write
    // write-back all hash-mismatch.
    "sql_update_delete" -> s"""
      WITH u AS (
        SELECT c_custkey AS custkey, c_nationkey AS nationkey,
               CASE WHEN c_nationkey < 10 THEN c_acctbal + 100.0
                    ELSE c_acctbal END AS acctbal
        FROM customer),
      d AS (SELECT * FROM u WHERE NOT (acctbal < 0.0))
      SELECT nationkey, COUNT(*) AS n, ${Qx.dsumSql("acctbal")} AS total
      FROM d GROUP BY nationkey ORDER BY nationkey""",
    // Stacked MOR deletes replayed as plain filters over the ORIGINAL
    // table: a delete file dropped by the read, a key leaking back, or
    // an anti join hiding too much hash-mismatches.
    "sql_delete_mor" -> s"""
      SELECT c_nationkey AS nationkey, COUNT(*) AS n,
             ${Qx.dsumSql("c_acctbal")} AS total
      FROM customer
      WHERE NOT (c_acctbal < 0.0) AND NOT (c_nationkey = 13)
      GROUP BY c_nationkey ORDER BY c_nationkey""",
    // Stacked POSITION deletes replayed as plain filters over the
    // ORIGINAL lineitem: a pair file dropped by the read, an ordinal
    // off by one (wrong row hidden), a duplicate-key row over-hidden,
    // or a compaction that loses pairs hash-mismatches.
    "sql_delete_positional" -> s"""
      SELECT l_returnflag, COUNT(*) AS n,
             ${Qx.dsumSql("CAST(l_extendedprice AS DOUBLE)")} AS total
      FROM lineitem
      WHERE NOT (l_quantity > 45.0)
        AND NOT (l_quantity < 3.0 AND l_returnflag = 'N')
      GROUP BY l_returnflag ORDER BY l_returnflag""",
    // Both eras recomputed from the ORIGINAL table via the slice
    // predicates — a lost row, a mis-nulled evolved column, or an
    // evolution that rewrites history hash-mismatches.
    "sql_schema_evolution" -> s"""
      WITH rows AS (
        SELECT o_orderpriority, o_totalprice, 'none' AS band
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderpriority, o_totalprice,
               CASE WHEN o_totalprice > 150000 THEN 'hi' ELSE 'lo' END
        FROM orders WHERE o_orderkey % 2 = 1)
      SELECT o_orderpriority, band, COUNT(*) AS n,
             ${Qx.dsumSql("o_totalprice")} AS total
      FROM rows GROUP BY o_orderpriority, band
      ORDER BY o_orderpriority, band""",
    // All three nested-evolution eras recomputed from the ORIGINAL
    // table — a mis-nulled added field, a wrong-width nested upcast,
    // or history rewritten by the metadata-only ALTERs hash-mismatches.
    "sql_nested_evolution" -> """
      WITH rows AS (
        SELECT o_orderkey, o_orderpriority AS pri, 'none' AS clerk,
               CAST(-1 AS BIGINT) AS qty
        FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey, o_orderpriority, o_orderstatus,
               CAST(o_orderkey % 97 AS BIGINT)
        FROM orders WHERE o_orderkey % 3 = 1
        UNION ALL
        SELECT o_orderkey, o_orderpriority, o_orderstatus, o_orderkey * 1000000
        FROM orders WHERE o_orderkey % 3 = 2)
      SELECT o_orderkey, pri, clerk, qty FROM rows ORDER BY o_orderkey""",
    // The composite-key delete replayed as a pair predicate over the
    // ORIGINAL table: a reader that matches on one key component alone
    // (dropping order-6k lines 4+), loses the re-inserted pairs, or
    // unscopes the delete hash-mismatches.
    "snapshot_delete_composite" -> s"""
      WITH slice AS (
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM lineitem WHERE l_orderkey % 3 = 0),
      rows AS (
        SELECT * FROM slice
        WHERE NOT (l_orderkey % 6 = 0 AND l_linenumber <= 3)
        UNION ALL
        SELECT l_orderkey, l_linenumber, l_quantity + 1000
        FROM slice WHERE l_orderkey % 12 = 0 AND l_linenumber <= 2)
      SELECT l_linenumber, COUNT(*) AS n, ${Qx.dsumSql("l_quantity")} AS total
      FROM rows GROUP BY l_linenumber
      ORDER BY l_linenumber""",
    // Both eras recomputed from the ORIGINAL table under the FINAL
    // column names: a rename that nulls pre-rename values, a lost row,
    // or history rewritten by the metadata-only evolution
    // hash-mismatches.
    "sql_rename_evolution" -> s"""
      WITH rows AS (
        SELECT o_orderpriority, o_totalprice AS price_usd
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey % 2 = 1)
      SELECT o_orderpriority, COUNT(*) AS n,
             ${Qx.dsumSql("price_usd")} AS total
      FROM rows GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",
    // The landed table must equal the ORIGINAL events slice exactly —
    // a dropped micro-batch, a doubled epoch, or a lost row changes
    // the counts/sums and hash-mismatches.
    "stream_catalog_sink" -> s"""
      SELECT event_type, COUNT(*) AS n, ${Qx.dsumSql("value")} AS total
      FROM events GROUP BY event_type ORDER BY event_type""",
    // The four change kinds replayed as plain SQL over the ORIGINAL
    // table: inserts are the appended slice surviving the rewrite,
    // deletes the rewrite's victims at their PRE values, update images
    // the changed rows at pre and post values respectively — a feed
    // that re-emits rewrite-republished rows as inserts (the file-level
    // caveat this closes), drops a delete, or doubles an image
    // hash-mismatches.
    "snapshot_cdf_rows" -> s"""
      WITH pre AS (
        SELECT c_custkey, c_nationkey, c_acctbal
        FROM customer WHERE c_custkey % 3 <> 2),
      post AS (
        SELECT c_custkey, c_nationkey,
               CASE WHEN c_nationkey < 5 THEN c_acctbal + 100.0
                    ELSE c_acctbal END AS c_acctbal
        FROM customer WHERE c_custkey % 7 <> 0),
      feed AS (
        SELECT 'insert' AS _change_type, c_nationkey, c_acctbal
        FROM post WHERE c_custkey % 3 = 2
        UNION ALL
        SELECT 'delete', c_nationkey, c_acctbal
        FROM pre WHERE c_custkey % 7 = 0
        UNION ALL
        SELECT 'update_pre', c_nationkey, c_acctbal
        FROM pre WHERE c_custkey % 7 <> 0 AND c_nationkey < 5
        UNION ALL
        SELECT 'update_post', c_nationkey, c_acctbal
        FROM post WHERE c_custkey % 3 <> 2 AND c_nationkey < 5)
      SELECT _change_type, c_nationkey, COUNT(*) AS n,
             ${Qx.dsumSql("c_acctbal")} AS total
      FROM feed GROUP BY _change_type, c_nationkey
      ORDER BY _change_type, c_nationkey""",
    // The partkey window recomputed from the ORIGINAL table: a file
    // wrongly pruned (bounds computed or compared wrong) loses rows;
    // a leaked file is caught by the residual filter, so the hash
    // pins the PRUNE-side mistakes — the skip itself is spec-pinned
    // via the planned scan files in Round15OpsSpec.
    "snapshot_stats_prune" -> s"""
      SELECT l_suppkey, COUNT(*) AS n, ${Qx.dsumSql("l_quantity")} AS qty
      FROM lineitem
      WHERE l_partkey >= 20 AND l_partkey < 120
      GROUP BY l_suppkey ORDER BY l_suppkey""",
    // Same window recomputed from the ORIGINAL table: a file the
    // catalog scan's stats index over-pruned (lost rows) or a
    // mis-evaluated pushed bound hash-mismatches; the planned-file
    // shrink is spec-pinned in Round16OpsSpec.
    "snapshot_stats_prune_sql" -> s"""
      SELECT l_suppkey, COUNT(*) AS n, ${Qx.dsumSql("l_quantity")} AS qty
      FROM lineitem
      WHERE l_partkey BETWEEN 20 AND 119
      GROUP BY l_suppkey ORDER BY l_suppkey""",
    // The 2-of-5-priority slice recomputed from the ORIGINAL table: a
    // dropped partition dir in either commit era, a mis-parsed path
    // value, or a row leaked across partitions hash-mismatches.
    "sql_partitioned_table" -> s"""
      SELECT o_orderpriority AS pri, COUNT(*) AS n,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             ${Qx.dsumSql("CAST(o_totalprice AS DOUBLE)")} AS total
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        AND o_orderkey % 7 <> 0
      GROUP BY o_orderpriority ORDER BY pri""",
    // The five-day window recomputed from the ORIGINAL events: an
    // over-pruned boundary day, a mis-derived ordinal, or a rewrite
    // that flattened the layout hash-mismatches.
    "sql_partitioned_time" -> s"""
      SELECT event_type, COUNT(*) AS n,
             ${Qx.dsumSql("value")} AS total
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
        AND event_id % 7 <> 0
      GROUP BY event_type ORDER BY event_type""",
    // The same prefix window recomputed from the ORIGINAL table: an
    // over-pruned boundary file loses rows and hash-mismatches.
    "snapshot_prefix_prune" -> """
      SELECT concat('k', lpad(CAST(o_orderkey AS VARCHAR), 9, '0')) AS sk,
             o_orderpriority AS pri,
             ROUND(CAST(o_totalprice AS DOUBLE), 2) AS price
      FROM orders
      WHERE concat('k', lpad(CAST(o_orderkey AS VARCHAR), 9, '0')) LIKE 'k00000032%'
      ORDER BY sk""",
    // The same point-lookup rows recomputed from the ORIGINAL table:
    // a sketch that wrongly refutes a present key (over-pruned file)
    // loses its row and hash-mismatches.
    "snapshot_bloom_prune" -> """
      SELECT o_orderkey, o_orderpriority,
             CAST(o_totalprice AS DOUBLE) AS price
      FROM orders
      WHERE o_orderkey IN (1, 2, 3, 32, 33, 322, 323, 3205, 3206)
      ORDER BY o_orderkey""",
    // The post-maintenance table recomputed from the ORIGINAL rows:
    // a compaction that loses, dupes, or resurrects deleted rows, or
    // a vacuum that breaks the head, all hash-mismatch.
    "sql_maintenance" -> s"""
      SELECT o_orderpriority, COUNT(*) AS n,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             ${Qx.dsumSql("CAST(o_totalprice AS DOUBLE)")} AS total
      FROM orders
      WHERE o_orderkey % 5 <> 0 AND o_orderkey % 9 <> 0
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",
    // The post-sweep table recomputed from the ORIGINAL orders (the
    // %5 keys deleted by the fixture's rewrite), with the exact planted
    // orphan count: a sweep that ate a referenced file, missed one of
    // the two planted orphans, or reclaimed a time-travel-reachable v1
    // file changes a row set or the constant and hash-mismatches.
    "maintenance_orphan_sweep" -> s"""
      SELECT o_orderpriority, COUNT(*) AS n,
             ${Qx.dsumSql("CAST(o_totalprice AS DOUBLE)")} AS total,
             CAST(2 AS BIGINT) AS orphans_removed
      FROM orders
      WHERE o_orderkey % 5 <> 0
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",
    // The manifest-served aggregates recomputed the slow way from the
    // ORIGINAL orders table: a stale rows line, a bound folded across
    // commits wrongly, a miscounted null, or a min/max served from a
    // truncated or missing stat hash-mismatches against the scan truth.
    "agg_pushdown_stats" -> """
      SELECT COUNT(*) AS n,
             COUNT(CASE WHEN o_orderkey % 10 <> 0 THEN o_custkey END) AS n_cust,
             MIN(o_orderkey) AS mn_key, MAX(o_orderkey) AS mx_key,
             MIN(CAST(o_totalprice AS DOUBLE)) AS mn_price,
             MAX(CAST(o_totalprice AS DOUBLE)) AS mx_price
      FROM orders""",
    // One row per partition recomputed the slow way: a group folded
    // across the two commits wrongly, a bound leaked across partitions,
    // or a path-value misparse changes a row and hash-mismatches.
    "agg_pushdown_group" -> """
      SELECT o_orderpriority AS pri, COUNT(*) AS n,
             MIN(o_orderkey) AS mn_key, MAX(o_orderkey) AS mx_key,
             MIN(CAST(o_totalprice AS DOUBLE)) AS mn_price,
             MAX(CAST(o_totalprice AS DOUBLE)) AS mx_price
      FROM orders GROUP BY o_orderpriority ORDER BY pri""",
    // The filtered per-partition rows recomputed the slow way: a serve
    // path that ignored the WHERE (counted all partitions), kept a
    // dropped partition, or mis-evaluated the IN on path values
    // hash-mismatches.
    "agg_pushdown_filtered" -> """
      SELECT o_orderpriority AS pri, COUNT(*) AS n,
             MIN(o_orderkey) AS mn_key,
             MAX(CAST(o_totalprice AS DOUBLE)) AS mx_price
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM', '5-LOW')
      GROUP BY o_orderpriority ORDER BY pri""",
    // The surviving row set recomputed from the ORIGINAL table: even
    // keys minus the %10 (narrow-era) and %7 (wide-era) deletes, odd
    // keys minus %7 — a delete unscoped by the rename, double-applied,
    // or compared at the wrong width changes the set and
    // hash-mismatches.
    "sql_evolution_mor" -> s"""
      WITH rows AS (
        SELECT o_orderkey AS ok, o_orderpriority,
               CAST(o_totalprice AS DOUBLE) AS price
        FROM orders
        WHERE (o_orderkey % 2 = 0 AND o_orderkey % 10 <> 0 AND o_orderkey % 7 <> 0)
           OR (o_orderkey % 2 = 1 AND o_orderkey % 7 <> 0))
      SELECT o_orderpriority, COUNT(*) AS n,
             CAST(SUM(ok) AS BIGINT) AS key_sum,
             ${Qx.dsumSql("price")} AS total
      FROM rows GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",
    // The joined aggregate recomputed directly from orders — the
    // storage-partitioned plan must produce exactly the shuffled
    // plan's rows.
    "join_storage_partitioned" -> s"""
      SELECT o_orderpriority AS pri, COUNT(*) AS n,
             CAST(SUM(o_orderkey *
               CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT)) AS BIGINT) AS wsum,
             ${Qx.dsumSql("CAST(o_totalprice AS DOUBLE)")} AS total
      FROM orders GROUP BY o_orderpriority ORDER BY pri""",
    // The joined aggregate recomputed from the ORIGINAL orders and
    // customer tables: the bucket layout is purely physical, so a row
    // routed to the wrong bucket, a key misaligned across groups, or a
    // dropped bucket changes a count or a sum and hash-mismatches.
    "join_bucket_partitioned" -> s"""
      SELECT c.c_mktsegment AS seg, COUNT(*) AS n,
             ${Qx.dsumSql("CAST(o.o_totalprice AS DOUBLE)")} AS total
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment ORDER BY seg""",
    // The same surviving row set as sql_evolution_mor, but the key
    // column is DROPPED before the read — the deletes must still scope
    // through the hidden shadow field; output carries no key column.
    "sql_evolution_drop" -> s"""
      WITH rows AS (
        SELECT o_orderpriority, CAST(o_totalprice AS DOUBLE) AS price
        FROM orders
        WHERE (o_orderkey % 2 = 0 AND o_orderkey % 10 <> 0 AND o_orderkey % 7 <> 0)
           OR (o_orderkey % 2 = 1 AND o_orderkey % 7 <> 0))
      SELECT o_orderpriority, COUNT(*) AS n,
             ${Qx.dsumSql("price")} AS total
      FROM rows GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",
    // Both eras recomputed from the ORIGINAL table with the same
    // float round-trip (even keys rode through FLOAT storage, odd keys
    // stayed DOUBLE): a wrong upcast (value drift), a lost era, or a
    // widening that rewrote history hash-mismatches. The v1 era reads
    // the pre-widening version — its values are the float-era slice.
    "sql_type_widening" -> """
      WITH rows AS (
        SELECT CAST(o_orderkey AS BIGINT) AS k,
               CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS price,
               o_orderpriority, 'both' AS src
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, CAST(o_totalprice AS DOUBLE), o_orderpriority, 'head'
        FROM orders WHERE o_orderkey % 2 = 1)
      SELECT 'head' AS era, o_orderpriority, COUNT(*) AS n,
             CAST(SUM(k) AS BIGINT) AS key_sum,
             COUNT(CASE WHEN price > 150000 THEN 1 END) AS n_hi,
             MIN(price) AS min_p, MAX(price) AS max_p
      FROM rows GROUP BY o_orderpriority
      UNION ALL
      SELECT 'v1' AS era, o_orderpriority, COUNT(*) AS n,
             CAST(SUM(k) AS BIGINT) AS key_sum,
             COUNT(CASE WHEN price > 150000 THEN 1 END) AS n_hi,
             MIN(price) AS min_p, MAX(price) AS max_p
      FROM rows WHERE src = 'both' GROUP BY o_orderpriority
      ORDER BY era, o_orderpriority""",
    // The tailed table must equal the ORIGINAL events table exactly: a
    // commit the source missed, a micro-batch emitted twice across the
    // paced drain, or base files re-read into a later delta all change
    // the counts/sums and hash-mismatch.
    "stream_snapshot_source" -> s"""
      SELECT event_type, COUNT(*) AS n, ${Qx.dsumSql("value")} AS total
      FROM events GROUP BY event_type ORDER BY event_type""",
    // The (priority, band) slice recomputed from the ORIGINAL table:
    // band is price-derived on BOTH eras, so a pruned-away matching
    // era-A file (band unprovable from its spec), a leaked band=lo
    // era-B file, or a broken band re-derivation all change the
    // row set and hash-mismatch.
    "snapshot_partition_evolution" -> s"""
      SELECT o_orderpriority, COUNT(*) AS n,
             ${Qx.dsumSql("o_totalprice")} AS total
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        AND o_totalprice > 150000
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // The post-compaction read replayed era by era from the ORIGINAL
    // table: base rows survive deletes 1+2; re-inserted nation-13 rows
    // (staged after them) survive unless the third delete (even
    // custkeys, covering the re-insert era) hides them. An over-merged
    // compaction (third delete folded into the first two → coversBelow
    // leaks over the re-insert) or a lost delete hash-mismatches.
    "rewrite_deletes" -> s"""
      WITH live AS (
        SELECT c_custkey AS custkey, c_nationkey AS nationkey,
               c_acctbal AS acctbal
        FROM customer
        WHERE NOT (c_acctbal < 0.0) AND c_nationkey <> 13
        UNION ALL
        SELECT c_custkey, c_nationkey, c_acctbal + 1000.0
        FROM customer
        WHERE c_nationkey = 13 AND c_custkey % 2 = 1)
      SELECT nationkey, COUNT(*) AS n, ${Qx.dsumSql("acctbal")} AS total
      FROM live GROUP BY nationkey ORDER BY nationkey""",
    // Identical statements to sql_update_delete, MOR execution: the
    // same ANSI replay must hold through the scoped delete-file path —
    // an upsert hiding its own rows or a delete missing the upsert's
    // era hash-mismatches.
    "sql_update_mor" -> s"""
      WITH u AS (
        SELECT c_custkey AS custkey, c_nationkey AS nationkey,
               CASE WHEN c_nationkey < 10 THEN c_acctbal + 100.0
                    ELSE c_acctbal END AS acctbal
        FROM customer),
      d AS (SELECT * FROM u WHERE NOT (acctbal < 0.0))
      SELECT nationkey, COUNT(*) AS n, ${Qx.dsumSql("acctbal")} AS total
      FROM d GROUP BY nationkey ORDER BY nationkey""",
    // Both eras recomputed from the ORIGINAL table via the slice
    // predicates: a stale version resolution or a leaked era
    // hash-mismatches.
    "sql_time_travel" -> """
      SELECT 'v1' AS era, o_orderpriority, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
      FROM orders WHERE o_orderkey % 3 = 0
      GROUP BY o_orderpriority
      UNION ALL
      SELECT 'head' AS era, o_orderpriority, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY era, o_orderpriority""",
    // The as-of era recomputed from the ORIGINAL table via the slice
    // predicates: a wrong timestamp resolution (off-by-one in the
    // newest-<= rule, non-monotonic commit stamps) lands on v1 or v3
    // and hash-mismatches.
    "sql_time_travel_ts" -> """
      SELECT 'asof_v2' AS era, o_orderpriority, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
      FROM orders WHERE o_orderkey % 3 IN (0, 1)
      GROUP BY o_orderpriority
      UNION ALL
      SELECT 'head' AS era, o_orderpriority, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY era, o_orderpriority""",
    // Both eras recomputed from the ORIGINAL table: pre-publish main
    // is exactly slice {0}, post-publish exactly {0,1} — a lost or
    // doubled row through the by-reference publish, or the failed
    // batch (slice-2 1-URGENT rows) leaking in, hash-mismatches.
    "snapshot_wap_publish" -> s"""
      SELECT 'pre' AS era, o_orderpriority, COUNT(*) AS n,
             ${Qx.dsumSql("o_totalprice")} AS total
      FROM orders WHERE o_orderkey % 3 = 0
      GROUP BY o_orderpriority
      UNION ALL
      SELECT 'published' AS era, o_orderpriority, COUNT(*) AS n,
             ${Qx.dsumSql("o_totalprice")} AS total
      FROM orders WHERE o_orderkey % 3 IN (0, 1)
      GROUP BY o_orderpriority
      ORDER BY era, o_orderpriority""",
    // Both eras recomputed from the ORIGINAL table. The published era
    // must be the %3=0 base plus EXACTLY the repaired batch: 5-LOW
    // even-key rows at their original (twice-flipped) price, 5-LOW
    // odd-key rows deleted, everything else untouched — a repair on
    // the wrong rows, a leaked corrupted row, or a publish that
    // double-applies hash-mismatches.
    "sql_branch_wap" -> s"""
      SELECT 'pre' AS era, o_orderpriority AS prio, COUNT(*) AS n,
             ${Qx.dsumSql("o_totalprice")} AS total
      FROM orders WHERE o_orderkey % 3 = 0
      GROUP BY o_orderpriority
      UNION ALL
      SELECT 'published' AS era, o_orderpriority AS prio, COUNT(*) AS n,
             ${Qx.dsumSql("o_totalprice")} AS total
      FROM orders
      WHERE o_orderkey % 3 = 0
         OR (o_orderkey % 3 = 1
             AND (o_orderpriority <> '5-LOW' OR o_orderkey % 2 = 0))
      GROUP BY o_orderpriority
      ORDER BY era, prio""",
    // Every effect row recomputed from the ORIGINAL table: the append
    // slice arrives as v2 inserts (5-LOW rows included — they were
    // visible before the delete), the keyed delete's matches from BOTH
    // slices as v3 deletes.
    "snapshot_cdf_batch" -> """
      SELECT 'delete' AS change_type, CAST(3 AS BIGINT) AS cv,
             o_orderkey AS okey, o_orderpriority AS prio,
             o_totalprice AS price
      FROM orders
      WHERE o_orderkey % 3 IN (0, 1) AND o_orderpriority = '5-LOW'
      UNION ALL
      SELECT 'insert' AS change_type, CAST(2 AS BIGINT) AS cv,
             o_orderkey AS okey, o_orderpriority AS prio,
             o_totalprice AS price
      FROM orders WHERE o_orderkey % 3 = 1
      ORDER BY change_type, cv, okey""",
    // Both statements replayed over the ORIGINAL table: the DELETE
    // runs first (a nation-7 row in [-50, 0) is gone before the
    // UPDATE), and the layout path must neither leak a deleted row nor
    // lose a re-inserted one.
    "sql_delete_mor_bucketed" -> s"""
      SELECT c_nationkey AS nationkey, COUNT(*) AS n,
             ${Qx.dsumSql("CASE WHEN c_nationkey = 7 THEN c_acctbal + 50.0 ELSE c_acctbal END")} AS total
      FROM customer
      WHERE c_acctbal >= 0.0
      GROUP BY c_nationkey
      ORDER BY nationkey""",
    // Each commit's exact effect rows recomputed from the ORIGINAL
    // table: the UPDATE commit is delete(old)+insert(new) for exactly
    // the matched rows; the DELETE commit removes rows negative AFTER
    // the update. A diff that misses/duplicates a row or attributes it
    // to the wrong commit hash-mismatches.
    "snapshot_rewrite_cdf" -> """
      WITH base AS (SELECT c_custkey AS custkey, c_nationkey AS nationkey,
                           c_acctbal AS acctbal FROM customer),
      upd AS (SELECT custkey, nationkey,
                     CASE WHEN nationkey < 10 THEN acctbal + 100.0
                          ELSE acctbal END AS acctbal FROM base)
      SELECT CAST(2 AS BIGINT) AS cv, 'delete' AS change_type,
             custkey, nationkey, acctbal
      FROM base WHERE nationkey < 10
      UNION ALL
      SELECT CAST(2 AS BIGINT) AS cv, 'insert' AS change_type,
             custkey, nationkey, acctbal + 100.0 AS acctbal
      FROM base WHERE nationkey < 10
      UNION ALL
      SELECT CAST(3 AS BIGINT) AS cv, 'delete' AS change_type,
             custkey, nationkey, acctbal
      FROM upd WHERE acctbal < 0.0
      ORDER BY cv, change_type, custkey""",
    // Both eras recomputed from the ORIGINAL table: the restored head
    // must be exactly slices {0,1} and the rolled-over version exactly
    // {0,1,2} — a leak in either direction hash-mismatches.
    "snapshot_restore" -> s"""
      SELECT 'head' AS era, o_orderpriority, COUNT(*) AS n,
             ${Qx.dsumSql("o_totalprice")} AS total
      FROM orders WHERE o_orderkey % 3 IN (0, 1)
      GROUP BY o_orderpriority
      UNION ALL
      SELECT 'pre' AS era, o_orderpriority, COUNT(*) AS n,
             ${Qx.dsumSql("o_totalprice")} AS total
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY era, o_orderpriority""",
    // The tagged era recomputed from the ORIGINAL table: a tag
    // pointing at the wrong version (stale pointer, bad re-tag, a
    // numeric/string resolution mixup) changes the row set and
    // hash-mismatches.
    "sql_time_travel_tag" -> """
      SELECT 'head' AS era, o_orderpriority, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
      FROM orders
      GROUP BY o_orderpriority
      UNION ALL
      SELECT 'tagged' AS era, o_orderpriority, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
      FROM orders WHERE o_orderkey % 3 IN (0, 1)
      GROUP BY o_orderpriority
      ORDER BY era, o_orderpriority""",
    // Two of five priorities recomputed from the ORIGINAL table: a
    // pruned read dropping a matching file (either era) or leaking a
    // non-matching partition hash-mismatches.
    "snapshot_partition_prune" -> s"""
      SELECT o_orderpriority, COUNT(*) AS n,
             ${Qx.dsumSql("o_totalprice")} AS total
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // The MOR state replayed as plain SQL over the ORIGINAL table:
    // base rows survive both stacked deletes; the re-inserted rows
    // (shifted prices — the oracle can tell which copy won) survive
    // only the second. Wrong delete scoping in EITHER direction, a
    // delete skipped on the pruned path, or a leaked partition all
    // hash-mismatch.
    "snapshot_prune_mor" -> s"""
      WITH live AS (
        SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        WHERE o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 3
        UNION ALL
        SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice,
               o_orderpriority FROM orders
        WHERE o_orderkey % 10 = 0 AND o_orderkey % 7 <> 3
      )
      SELECT o_orderpriority, COUNT(*) AS n,
             ${Qx.dsumSql("o_totalprice")} AS total
      FROM live
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // The whole events table, read ONCE: the three micro-batch appends
    // partition it exactly, so a replayed batch that were appended
    // instead of skipped would double its slice's counts/sums and
    // hash-mismatch.
    "stream_snapshot_append" -> s"""
      SELECT event_type, COUNT(*) AS n,
             ${Qx.dsumSql("value")} AS total_value
      FROM events GROUP BY event_type ORDER BY event_type""",
    // The oracle reads the RAW parquet tables: publishing the catalog
    // twins + ANALYZE stats must be result-invisible (plans change,
    // values don't).
    "stats_cbo_join" -> """
      SELECT c_mktsegment, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_acctbal > 9000
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "stats_cbo_join_snap" -> """
      SELECT c_mktsegment, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_acctbal > 9000
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "profile_table" -> (profiledCols.map { c =>
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
             COUNT(*) - COUNT($c) AS n_nulls,
             COUNT(DISTINCT $c) AS n_distinct,
             MIN($c) AS min_v, MAX($c) AS max_v,
             ${Qx.dsumSql(c)} / CAST(COUNT($c) AS DOUBLE) AS avg_v
      FROM lineitem"""
    }.mkString("\n      UNION ALL\n      ") + "\n      ORDER BY col_name"))
}
