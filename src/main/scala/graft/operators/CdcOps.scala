package graft.operators

import graft.{Qx, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Incremental / CDC operators (SURVEY §2.12): changelog compaction,
  * SCD-2 history construction, and MERGE-style changeset application.
  *
  * Reference basis: the reference's staging tables are rebuilt from
  * append-only ingest feeds (/root/reference/README.md:3,7 — HL7/FHIR
  * messages arrive as events, the warehouse keeps current state), which
  * is exactly the changelog→snapshot problem. The `events` table plays
  * the changelog: one row per (user_id, ts) mutation, with event_type
  * `error` read as a tombstone.
  *
  * Scale notes: compaction routes through the native
  * [[graft.plans.TopKPerGroup]] operator with k=1 — per-task bounded
  * heaps mean the exchange moves at most one row per (task, user), not
  * the raw changelog; a 100 TB day of events compacts into a shuffle of
  * ~|users|·|tasks| rows. SCD-2 is one window pass over the key-sorted
  * stream (single shuffle, no self-join). Merge is a single full-outer
  * shuffle join between snapshot and compacted changeset — the changeset
  * is post-compaction (one row per key), so AQE can broadcast it when
  * small without materializing the raw log anywhere.
  */
object CdcOps {

  type Q = (SparkSession, String) => DataFrame

  /** Latest change row per key, tombstones included — the shared
    * compaction stage of [[cdcUpsertLatest]] and [[cdcMergeApply]].
    * (ts, event_id) is a total order per user, so the pick is exact. */
  private def latestPerUser(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.plans.TopK.perGroup(
      Tables.load(s, dir, "events")
        .select($"user_id", $"event_id", $"ts", $"event_type", $"value"),
      1, Seq("user_id"), Seq(("ts", true), ("event_id", true)))
  }

  /** Changelog → current-state snapshot: keep each key's latest row,
    * drop keys whose latest row is a tombstone (`error`). The Kafka
    * log-compaction / upsert-sink semantics. */
  val cdcUpsertLatest: Q = (s, dir) => {
    import s.implicits._
    latestPerUser(s, dir)
      .filter($"event_type" =!= "error")
      .select($"user_id", $"event_id".as("last_event_id"), $"ts".as("last_ts"),
        $"event_type".as("last_type"), $"value".as("last_value"))
      .orderBy($"user_id")
  }

  /** SCD-2 (slowly-changing-dimension) history build: every change row
    * becomes a version with validity [ts, next-change ts); the newest
    * version per key stays open (null valid_to, is_current). One window
    * pass — lead() over the per-key time order; no self-join. */
  val scd2Intervals: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.load(s, dir, "events")
      .select($"user_id", $"event_id", $"ts", $"value")
      .withColumn("valid_from", $"ts")
      .withColumn("valid_to", lead($"ts", 1).over(w))
      .withColumn("is_current", $"valid_to".isNull)
      .select($"user_id", $"event_id", $"value",
        $"valid_from", $"valid_to", $"is_current")
      .orderBy($"user_id", $"valid_from", $"event_id")
  }

  /** MERGE INTO semantics against a snapshot: the compacted changeset
    * (latest row per key) is applied to a partial customer snapshot —
    * matched non-tombstone rows UPDATE the balance, matched tombstones
    * DELETE, unmatched source rows INSERT, untouched target rows stay.
    * The snapshot window [50, 300) is chosen so all four paths are
    * non-vacuous against the 150-user changelog (users 0–49 insert,
    * 50–149 update/delete, custkeys 150–299 keep). */
  val cdcMergeApply: Q = (s, dir) => {
    import s.implicits._
    val target = Tables.load(s, dir, "customer")
      .filter($"c_custkey" >= 50 && $"c_custkey" < 300)
      .select($"c_custkey", $"c_name", $"c_acctbal")
    val changes = latestPerUser(s, dir)
      .select($"user_id", $"event_type".as("chg_type"), $"value".as("chg_value"))
    target.join(changes, $"c_custkey" === $"user_id", "full_outer")
      .withColumn("op",
        when($"c_custkey".isNull, "inserted")
          .when($"chg_type".isNull, "kept")
          .when($"chg_type" === "error", "deleted")
          .otherwise("updated"))
      .filter($"op" =!= "deleted")
      .select(
        coalesce($"c_custkey", $"user_id").as("custkey"),
        coalesce($"c_name", concat(lit("Customer#new"), $"user_id")).as("name"),
        when($"op" === "kept", $"c_acctbal").otherwise($"chg_value").as("acctbal"),
        $"op")
      .orderBy($"custkey")
  }

  /** Incremental aggregate maintenance: the materialized-view refresh
    * path of a warehouse. A per-user aggregate (count / exact sum /
    * latest ts) is held as a SNAPSHOT over everything before the cutoff;
    * when the DELTA (one ingest day) arrives, the two are merged with
    * the aggregate's own combine algebra — counts add, DECIMAL(38,6)
    * sums add exactly, max takes greatest — instead of rescanning
    * history. The oracle is the full recompute over all events, so the
    * check proves merge(snapshot, delta) == recompute, which is the
    * entire correctness claim of incremental view maintenance.
    *
    * Cutoff is day 1 of the 30-day window: most users exist only in the
    * delta side, so the null-handling (insert) path of the merge is
    * non-vacuous, not just the update path.
    *
    * Scale: at 100 TB the snapshot is a stored table of |users| rows;
    * each refresh scans ONE day of the changelog plus the snapshot —
    * work proportional to the delta, not history. The merge itself is a
    * full-outer shuffle join on user_id, and AQE broadcasts whichever
    * side is small. The decimal sums mean refresh order never changes
    * the result (double addition would drift per merge order).
    */
  val cdcIncrementalAgg: Q = (s, dir) => {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val cutoff = lit("2024-01-02 00:00:00").cast("timestamp")
    val ev = Tables.load(s, dir, "events").select($"user_id", $"ts", $"value")
    def aggOf(df: DataFrame, tag: String): DataFrame =
      df.groupBy($"user_id").agg(
        count(lit(1)).as(s"${tag}_n"),
        sum($"value".cast(DecimalType(38, 6))).as(s"${tag}_sum"),
        max($"ts").as(s"${tag}_last"))
    val snap = aggOf(ev.filter($"ts" < cutoff), "s")
    val delta = aggOf(ev.filter($"ts" >= cutoff), "d")
    val zero = lit(0).cast(DecimalType(38, 6))
    snap.join(delta, Seq("user_id"), "full_outer")
      .select(
        $"user_id",
        (coalesce($"s_n", lit(0L)) + coalesce($"d_n", lit(0L))).as("n_events"),
        (coalesce($"s_sum", zero) + coalesce($"d_sum", zero))
          .cast("double").as("total_value"),
        greatest($"s_last", $"d_last").as("last_ts"))
      .orderBy($"user_id")
  }

  /** Snapshot diff — the INVERSE of [[cdcMergeApply]]: given two
    * versions of a table, emit the changelog that transforms old into
    * new (`added` / `removed` / `changed` rows; unchanged rows are
    * suppressed — at 100 TB they are ~the whole table and the diff is
    * the point). The new version is derived deterministically from the
    * old so all three paths are non-vacuous at every SF: keys ≡0 mod 13
    * are dropped (removed), keys ≡0 mod 7 get a balance bump (changed),
    * and a shifted key block re-enters as fresh rows (added). The shift
    * is max(c_custkey)+1 — derived from the data, not a constant — so
    * the injected keys can never collide with real ones at any SF (a
    * fixed +100000 would collide once the table holds ≥100000 keys,
    * fanning out the full-outer join and breaking the added/removed/
    * changed disjointness). The 1-row max broadcasts.
    *
    * Scale: ONE full-outer shuffle join on the key — both snapshots
    * partition once; the op/filter projection is row-local, so the
    * output stream is only the changed fraction. This is how a
    * warehouse publishes incremental extracts of a rebuilt table
    * without shipping the whole rebuild downstream. */
  val cdcSnapshotDiff: Q = (s, dir) => {
    import s.implicits._
    val old = Tables.load(s, dir, "customer")
      .select($"c_custkey", $"c_name", $"c_acctbal")
    val neu = old
      .filter($"c_custkey" % 13 =!= 0)
      .withColumn("c_acctbal",
        when($"c_custkey" % 7 === 0, $"c_acctbal" + 10.0)
          .otherwise($"c_acctbal"))
      .unionAll(old.filter($"c_custkey" < 50)
        .crossJoin(broadcast(old.agg((max($"c_custkey") + 1).as("k_shift"))))
        .select(
          ($"c_custkey" + $"k_shift").as("c_custkey"),
          concat(lit("Customer#new"), $"c_custkey").as("c_name"),
          $"c_acctbal"))
    old.select($"c_custkey".as("key"), $"c_acctbal".as("old_bal"))
      .join(neu.select($"c_custkey".as("nkey"), $"c_acctbal".as("new_bal")),
        $"key" === $"nkey", "full_outer")
      .withColumn("op",
        when($"key".isNull, "added")
          .when($"nkey".isNull, "removed")
          .when($"old_bal" =!= $"new_bal", "changed"))
      .filter($"op".isNotNull)
      .select(coalesce($"key", $"nkey").as("custkey"),
        $"op", $"old_bal", $"new_bal")
      .orderBy($"custkey")
  }

  /** Composed CDC round trip — the pipeline identity that makes the
    * §2.12 surface trustworthy as a SYSTEM, not just as parts:
    * `diff(old, apply(old, changelog))` must surface exactly the
    * changelog's net effect. Stage 1 is [[cdcMergeApply]] verbatim
    * (compacted changeset MERGEd into the snapshot window); stage 2
    * diffs that result against the original snapshot. `added` rows are
    * the changelog's inserts (users below the snapshot window),
    * `removed` its effective tombstones, `changed` its balance updates
    * — an update whose value happens to equal the old balance is
    * correctly suppressed (no net change). Oracle-checked end to end
    * as ONE query, so the composition itself — not just each stage —
    * is hash-verified against DuckDB.
    *
    * Scale: stage 1's plan (compaction heaps + one full-outer join)
    * flows straight into stage 2's diff join; the only data-scaled
    * exchanges are the per-key hash partitions, and the final output
    * is the changed fraction only. */
  val cdcPipelineRoundtrip: Q = (s, dir) => {
    import s.implicits._
    val old = Tables.load(s, dir, "customer")
      .filter($"c_custkey" >= 50 && $"c_custkey" < 300)
      .select($"c_custkey".as("key"), $"c_acctbal".as("old_bal"))
    val neu = cdcMergeApply(s, dir)
      .select($"custkey".as("nkey"), $"acctbal".as("new_bal"))
    old.join(neu, $"key" === $"nkey", "full_outer")
      .withColumn("op",
        when($"key".isNull, "added")
          .when($"nkey".isNull, "removed")
          .when($"old_bal" =!= $"new_bal", "changed"))
      .filter($"op".isNotNull)
      .select(coalesce($"key", $"nkey").as("custkey"),
        $"op", $"old_bal", $"new_bal")
      .orderBy($"custkey")
  }

  /** The SQL-STATEMENT form of [[cdcMergeApply]]: the identical merge
    * (tombstones DELETE, matches UPDATE, new keys INSERT) written as a
    * literal `MERGE INTO` statement and executed NATIVELY — the target
    * is a DataSourceV2 catalog table
    * ([[graft.catalog.GraftCatalog]], `SupportsRowLevelOperations`),
    * so Spark's OWN `RewriteMergeIntoTable` plans the statement (full
    * clause semantics, cardinality check, the works) and the commit is
    * the catalog's atomic copy-on-write manifest publish — readers
    * interleaved with the merge see pre- or post-merge state, never a
    * mix. The statement a real user types runs with zero graft-side
    * tree interception.
    *
    * Each invocation DROP + re-CREATEs the pristine slice before
    * merging, so the statement is deterministic on a repeatedly-run
    * surface (Bench warm + timed passes). The oracle replays the same
    * semantics in ANSI SQL over the ORIGINAL tables — lossless through
    * the versioned write. */
  val cdcMergeStatement: Q = (s, dir) => {
    import s.implicits._
    val (t, _) = SnapCat.table(s, "merge_cust", dir)
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t AS
             |SELECT c_custkey AS custkey, c_name AS name, c_acctbal AS acctbal
             |FROM ${Tables.sqlRel(s, dir, "customer")}
             |WHERE c_custkey >= 50 AND c_custkey < 300""".stripMargin)
    val view = s"graft_merge_changes_${math.abs(dir.hashCode.toLong)}"
    latestPerUser(s, dir)
      .select($"user_id", $"event_type".as("chg_type"), $"value".as("chg_value"))
      .createOrReplaceTempView(view)
    s.sql(
      s"""MERGE INTO $t t
         |USING $view s
         |ON t.custkey = s.user_id
         |WHEN MATCHED AND s.chg_type = 'error' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET acctbal = s.chg_value
         |WHEN NOT MATCHED THEN INSERT (custkey, name, acctbal)
         |  VALUES (s.user_id, concat('Customer#new', s.user_id), s.chg_value)
         |""".stripMargin)
    s.table(t).orderBy($"custkey")
  }

  val queries: Map[String, Q] = Map(
    "cdc_merge_sql" -> cdcMergeStatement,
    "pipeline_cdc_roundtrip" -> cdcPipelineRoundtrip,
    "cdc_snapshot_diff" -> cdcSnapshotDiff,
    "cdc_upsert_latest" -> cdcUpsertLatest,
    "scd2_intervals" -> scd2Intervals,
    "cdc_merge_apply" -> cdcMergeApply,
    "cdc_incremental_agg" -> cdcIncrementalAgg)

  val oracle: Map[String, String] = Map(
    "cdc_upsert_latest" -> """
      WITH ranked AS (
        SELECT user_id, event_id, ts, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      SELECT user_id, event_id AS last_event_id, ts AS last_ts,
             event_type AS last_type, value AS last_value
      FROM ranked WHERE rn = 1 AND event_type <> 'error'
      ORDER BY user_id""",
    "scd2_intervals" -> """
      SELECT user_id, event_id, value,
             ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               AS is_current
      FROM events
      ORDER BY user_id, valid_from, event_id""",
    // Replays the MERGE statement's semantics in ANSI SQL over the
    // ORIGINAL tables: matched tombstones delete, matches update,
    // unmatched source rows insert, target-only rows keep — a row lost
    // or duplicated by the snapshot write-back hash-mismatches.
    "cdc_merge_sql" -> """
      WITH target AS (
        SELECT c_custkey AS custkey, c_name AS name, c_acctbal AS acctbal
        FROM customer WHERE c_custkey >= 50 AND c_custkey < 300),
      ranked AS (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events),
      changes AS (
        SELECT user_id, event_type AS chg_type, value AS chg_value
        FROM ranked WHERE rn = 1),
      m AS (
        SELECT t.custkey AS t_custkey, t.name, t.acctbal,
               c.user_id, c.chg_type, c.chg_value
        FROM target t FULL OUTER JOIN changes c ON t.custkey = c.user_id)
      SELECT COALESCE(t_custkey, user_id) AS custkey,
             COALESCE(name, 'Customer#new' || user_id) AS name,
             CASE WHEN user_id IS NULL THEN acctbal ELSE chg_value END
               AS acctbal
      FROM m
      WHERE NOT (t_custkey IS NOT NULL AND user_id IS NOT NULL
                 AND chg_type = 'error')
      ORDER BY custkey""",
    "cdc_merge_apply" -> """
      WITH target AS (
        SELECT c_custkey, c_name, c_acctbal FROM customer
        WHERE c_custkey >= 50 AND c_custkey < 300),
      ranked AS (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events),
      changes AS (
        SELECT user_id, event_type AS chg_type, value AS chg_value
        FROM ranked WHERE rn = 1),
      merged AS (
        SELECT t.c_custkey, t.c_name, t.c_acctbal, c.user_id, c.chg_type,
               c.chg_value,
               CASE WHEN t.c_custkey IS NULL THEN 'inserted'
                    WHEN c.chg_type IS NULL THEN 'kept'
                    WHEN c.chg_type = 'error' THEN 'deleted'
                    ELSE 'updated' END AS op
        FROM target t FULL OUTER JOIN changes c ON t.c_custkey = c.user_id)
      SELECT COALESCE(c_custkey, user_id) AS custkey,
             COALESCE(c_name, 'Customer#new' || user_id) AS name,
             CASE WHEN op = 'kept' THEN c_acctbal ELSE chg_value END AS acctbal,
             op
      FROM merged WHERE op <> 'deleted'
      ORDER BY custkey""",
    // Full recompute over the unsplit changelog — merge(snapshot, delta)
    // must reproduce it exactly (incremental-view-maintenance claim).
    "cdc_incremental_agg" -> """
      SELECT user_id, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
             MAX(ts) AS last_ts
      FROM events GROUP BY user_id ORDER BY user_id""",
    "pipeline_cdc_roundtrip" -> """
      WITH target AS (
        SELECT c_custkey, c_name, c_acctbal FROM customer
        WHERE c_custkey >= 50 AND c_custkey < 300),
      ranked AS (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events),
      changes AS (
        SELECT user_id, event_type AS chg_type, value AS chg_value
        FROM ranked WHERE rn = 1),
      merged AS (
        SELECT t.c_custkey, t.c_acctbal, c.user_id, c.chg_type, c.chg_value,
               CASE WHEN t.c_custkey IS NULL THEN 'inserted'
                    WHEN c.chg_type IS NULL THEN 'kept'
                    WHEN c.chg_type = 'error' THEN 'deleted'
                    ELSE 'updated' END AS op
        FROM target t FULL OUTER JOIN changes c ON t.c_custkey = c.user_id),
      new_snap AS (
        SELECT COALESCE(c_custkey, user_id) AS nkey,
               CASE WHEN op = 'kept' THEN c_acctbal ELSE chg_value END AS new_bal
        FROM merged WHERE op <> 'deleted'),
      old AS (
        SELECT c_custkey AS key, c_acctbal AS old_bal FROM customer
        WHERE c_custkey >= 50 AND c_custkey < 300),
      d AS (
        SELECT key, old_bal, nkey, new_bal
        FROM old FULL OUTER JOIN new_snap ON key = nkey),
      ops AS (
        SELECT COALESCE(key, nkey) AS custkey,
               CASE WHEN key IS NULL THEN 'added'
                    WHEN nkey IS NULL THEN 'removed'
                    WHEN old_bal <> new_bal THEN 'changed' END AS op,
               old_bal, new_bal
        FROM d)
      SELECT custkey, op, old_bal, new_bal
      FROM ops WHERE op IS NOT NULL ORDER BY custkey""",
    "cdc_snapshot_diff" -> """
      WITH old AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
      neu AS (
        SELECT c_custkey, c_name,
               CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10.0
                    ELSE c_acctbal END AS c_acctbal
        FROM old WHERE c_custkey % 13 <> 0
        UNION ALL
        SELECT c_custkey + (SELECT max(c_custkey) + 1 FROM customer),
               'Customer#new' || c_custkey, c_acctbal
        FROM old WHERE c_custkey < 50),
      d AS (
        SELECT o.c_custkey AS key, o.c_acctbal AS old_bal,
               n.c_custkey AS nkey, n.c_acctbal AS new_bal
        FROM old o FULL OUTER JOIN neu n ON o.c_custkey = n.c_custkey),
      ops AS (
        SELECT COALESCE(key, nkey) AS custkey,
               CASE WHEN key IS NULL THEN 'added'
                    WHEN nkey IS NULL THEN 'removed'
                    WHEN old_bal <> new_bal THEN 'changed' END AS op,
               old_bal, new_bal
        FROM d)
      SELECT custkey, op, old_bal, new_bal
      FROM ops WHERE op IS NOT NULL ORDER BY custkey""")
}
