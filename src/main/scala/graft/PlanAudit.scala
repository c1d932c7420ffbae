package graft

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Writes PLANS.md: formatted physical plans of representative queries
  * with scale commentary — the ".explain and iterate" evidence trail.
  * Run: sbt "runMain graft.PlanAudit" (uses sf0.01).
  */
object PlanAudit {
  private val picks: Seq[(String, String)] = Seq(
    "agg_groupby_hash" ->
      """Flagship TPC-H-Q1 shape. Expect: single FileScan with
        |PushedFilters on l_shipdate + pruned ReadSchema, two-phase
        |HashAggregate (partial before the exchange), one shuffle on the
        |group keys, whole-stage codegen end to end. At 100 TB the
        |shuffle carries one row per (partition, group) — ~dozens of
        |rows per task, never the fact rows.""".stripMargin,
    "join_broadcast" ->
      """Fact⋈dim⋈dim. Expect: two BroadcastHashJoins (nation 25 rows,
        |region 5 rows) — zero shuffle of the customer side at any
        |scale; broadcast cost is O(dim × executors), constant in fact
        |size.""".stripMargin,
    "join_bucketed" ->
      """Both sides written bucketed(8) + sorted on the join key; scans
        |show Bucketed: true. At toy SF Catalyst still broadcasts the
        |small side (correct); once both sides exceed the broadcast
        |threshold this becomes a zero-exchange sort-merge join — the
        |100 TB fact⋈fact workhorse.""".stripMargin,
    "join_self_overlap" ->
      """Self-join on (orderkey, partkey) with linenumber inequality —
        |the therapeutic-duplication flagship. Equi keys carry the join;
        |the inequality is a post-filter, so this shuffles both sides on
        |the composite key (co-partitionable via bucketing at scale),
        |never a nested loop.""".stripMargin,
    "win_rank_topk" ->
      """Per-brand top-k, routed (r6) through the native TopKPerGroup
        |operator for the k-selection; the window over the surviving ≤3
        |rows per brand only numbers them (total order ⇒ identical
        |ranks). The shipped plan shuffles ≤ 3·partitions rows per brand
        |instead of the whole part table.""".stripMargin,
    "topk_global" ->
      """Global top-k: TakeOrderedAndProject — per-partition heaps merged
        |on the driver, no full sort, no shuffle of the table.""".stripMargin,
    "dedup_near_minhash" ->
      """Native MinHash-LSH: token explode → 8 min-aggregates (one
        |map-side-combinable groupBy) → band explode → band-keyed
        |self-join → signature compare. No all-pairs stage anywhere;
        |candidate fan-in bounded by (band, source) bucket sizes.""".stripMargin,
    "sim_cosine_topk" ->
      """Brute-force ANN baseline: probe set broadcast, candidates
        |stream, fused codegen dotproduct() per pair (custom Catalyst
        |expression — no interpreted higher-order folds), rank window on
        |the rounded cosine.""".stripMargin,
    "sink_parquet_partitioned" ->
      """Partition-pruned re-read: PartitionFilters (directory-level
        |pruning before I/O), PushedFilters empty because the predicate
        |is fully consumed by pruning.""".stripMargin,
    "agg_salted_skew" ->
      """Skew mitigation: stage 1 shuffles on (user_id, salt) spreading
        |a hot key over 8 shards; stage 2 collapses 8 rows per key.
        |Exact decimal partials make the two-stage sum equal the
        |one-stage sum bit for bit.""".stripMargin,
    "join_range_binned" ->
      """Band predicate as a shuffled EQUI join: both sides keyed by
        |floor(val/width), build side exploded to its 3 candidate bins,
        |exact predicate re-checked post-match. Expect hash joins /
        |shuffles on the bin key and NO BroadcastNestedLoop anywhere —
        |this is the range-join form that still works when neither side
        |fits the broadcast threshold.""".stripMargin,
    "join_skew_salted" ->
      """Join-side skew mitigation: fact salted by hash mod 8, dim
        |replicated ×8 via explode, equi join on (key, salt). A hot key
        |lands on 8 reducers instead of 1. Expect the join keyed on both
        |columns; at toy SF the replicated dim still broadcasts
        |(correct), at scale the (key, salt) exchange is the point.""".stripMargin,
    "pipeline_curate" ->
      """Composed curation pipeline (quality gate → exact dedup →
        |near-dedup → stats). Expect: the lang/length filters pushed
        |into the documents scan; dedups shuffling on content-derived
        |hash keys (never doc_id); left-semi and left-anti joins for
        |keep/drop sets; one final map-side-combined aggregate.""".stripMargin,
    "sim_ann_ivf" ->
      """IVF ANN: 16-centroid set broadcast, spilled Repl=2 inverted
        |file (each vector under its two nearest cells), nprobe=6
        |per-cell candidate join. Expect BroadcastNestedLoopJoin ONLY
        |against the 16-row centroid set (bounded), then hash joins on
        |the cell id for probe×candidate.""".stripMargin,
    "domain_ep1_recommend" ->
      """The reference's EP1 flow end to end (README.md:41-71) as ONE
        |Catalyst plan: substitution candidates (broadcast Orange Book
        |+ price joins, allergy left-anti), formulary lookup, logistic
        |denial score as folded Column arithmetic, best-per-med window,
        |FHIR JSON serialization. Expect the drug-knowledge side to be
        |all BroadcastHashJoins (bounded catalogs) and only the
        |patient-scaled meds stream to shuffle — the per-patient tables
        |scale, the knowledge base replicates.""".stripMargin,
    "sql_branch_wap" ->
      """Branch WAP with row-level repair (r20): INSERT → UPDATE →
        |DELETE each one branch commit (COW rewrites scanning the
        |branch head), then ONE atomic squash link publishes the lot.
        |Expect plain scan→filter/project→write shapes per statement
        |and an era-union read at the end — fixture cost is the three
        |write jobs, the publish itself is metadata-only.""".stripMargin,
    "snapshot_rewrite_cdf" ->
      """Materialized rewrite CDF (r20): each COW statement's commit
        |runs old-state exceptAll new-state both ways (shuffles over
        |O(statement-touched) rows at this fixture size) and writes
        |O(touched) sidecar parquet; the read side is a plain flat scan
        |of the sidecars. Opt-in per table — no other query's rewrite
        |pays this.""".stripMargin,
    "sql_delete_mor_bucketed" ->
      """Keyed MOR on a bucket layout (r20): DELETE commits key files
        |only (no data movement); UPDATE's delta write stages insert
        |halves under _gbucket= via the dynamic-partition task writer.
        |Expect the head read to be one MOR scan (flat over
        |derived-layout files — value-exact, segment pruning paused)
        |probing the delete-key covers per row under each file's
        |sequence number, no join.""".stripMargin,
    "dedup_embedding_cosine" ->
      """Banded near-dup (r4): pair generation keyed on (label, integer
        |LSH bucket), never label alone — expect the self-join's equi
        |keys to include the bucket column, so per-band fan-in is capped
        |(measured max 24 members at sf0.1) and the within-band
        |all-pairs never grows quadratic in the corpus. The bucket is
        |integer-exact (floor-quantized vector × integer hyperplanes),
        |which is why the oracle can check the banded semantics.""".stripMargin,
    "stream_stateful" ->
      """Secondary sort (r4): expect Exchange hashpartitioning(user_id)
        |→ Sort [user_id, us, event_id] → MapPartitions, and NO
        |per-group buffering operator — running state is O(1) per task;
        |a hot user is a longer iterator, not an executor OOM. The sort
        |is Spark's spillable external sort.""".stripMargin,
    "stream_watermark_late" ->
      """Distributed prefix-max (r3, single-scan r4): events projected
        |+ cached once (InMemoryTableScan in the downstream plans, one
        |FileScan total); range-bucketed on (event_id − minId) so offset
        |id spaces keep all B buckets; bucket-partitioned running-max
        |window + B-row carry-in broadcast. No `WindowExec: No Partition
        |Defined` anywhere.""".stripMargin,
    "scan_fhir_bundle" ->
      """Bundle ingest (r4; parser rewritten r8): per-patient
        |collect_list is keyed by the patient exchange (bounded by
        |per-patient fills, never global). The parse path is now
        |ROW-LOCAL — from_json, lambda-filter the patient entry out of
        |the array, explode only the med entries — so expect NO join
        |and no second exchange after the bundle construction (the
        |r4–r7 form exploded everything and hash-joined patient back on
        |bundle_id; one exchange saved, and the same parser now runs
        |unchanged inside the streaming file-source ingest).""".stripMargin,
    "ts_gap_fill" ->
      """Per-key hourly resample (r4): the spine generates per user via
        |sequence+explode bounded by that user's own span — expect NO
        |global calendar cross join anywhere; spine and counts hash-join
        |on (user, hour).""".stripMargin,
    "dedup_cluster_keeper" ->
      """Multi-signal CC dedup (r4): the displayed plan is the final
        |label generation — a scan of the localCheckpoint'ed labels (the
        |iterative min-label joins ran before it, each against the
        |checkpointed edge list, lineage truncated per iteration). The
        |absence of the pair-generation joins here IS the point: the
        |loop never re-derives edges.""".stripMargin,
    "topk_per_group_native" ->
      """Native whole-operator extension (r5): TopKPerGroup partial
        |(bounded k-heap per group, map side, group map capped at
        |spark.graft.topk.maxPartialGroups with pass-through degrade —
        |r6) → hash exchange on the group key → TopKPerGroup final.
        |Contrast with win_rank_topk's window plan: the exchange here
        |carries ≤ k·partitions rows per group instead of every fact
        |row, and nothing is ever sorted beyond a k-heap.
        |
        |Codegen status (r6, shipped): the FINAL exec implements
        |BlockingOperatorWithCodegen (SortExec-style produce/consume
        |over the shared heap buffer), so the post-exchange stage is
        |one fused WholeStageCodegen span — expect `*(n) TopKPerGroup
        |… false` in the plan. The PARTIAL exec stays interpreted by
        |design: its over-cap pass-through emits rows mid-stream,
        |which a blocking codegen operator cannot do without buffering
        |them unboundedly (needStopCheck=false) — the exact hazard the
        |group cap prevents. Measured (sf0.1 lineitem, local[32], 7
        |interleaved passes): codegen on min/med 0.23/0.31 s vs off
        |0.23/0.28 s — parity; the final side is row-starved (≤
        |k·partitions rows/group), so the codegen win here is fusing
        |downstream consumers into the stage, not the heap loop
        |itself. Both beat the window plan (0.28/0.31 s), whose map
        |side sorts every fact row (n·log n vs this heap's n·log k).
        |Kill-switch: spark.graft.topk.codegen.""".stripMargin,
    "sample_stratified" ->
      """Deterministic stratified sampler (r5) on the same native
        |operator: per-stratum 20-heaps keyed on the id hash. No rand(),
        |no full sort, no per-stratum skew sensitivity — the exchange
        |carries ≤ 20·partitions rows per language.""".stripMargin,
    "ts_retention_cohort" ->
      """Retention triangle (r5): two map-side-combined aggregates and
        |one join keyed on user_id — cohort assignment shuffles one row
        |per user; the event stream shuffles once for its own distinct
        |agg and never again.""".stripMargin,
    "topk_sql_rewrite" ->
      """Optimizer capability (r6): the ANSI row_number()<=k idiom from
        |the spark.sql surface, replanned by RewriteRowNumberTopK to the
        |native TopKPerGroup (the rank column is pruned, so the window
        |existed only to filter). Expect NO Window/Sort pair before the
        |exchange — partial heap → exchange → final heap, same as the
        |DataFrame-API route.""".stripMargin,
    "decontaminate_eval" ->
      """Train/test contamination audit (r6): 20-docs/lang holdout
        |sample (native TopKPerGroup) checked for 5-gram overlap against
        |the train split. The gram membership semi-join shuffles
        |xxhash64 longs banded by language — never gram strings; the
        |collision set broadcast is tiny-to-empty; every join against
        |the bounded eval side broadcasts. The train gram set is the
        |only data-scaled shuffle, as it must be.""".stripMargin,
    "stream_window_topk" ->
      """Windowed agg composed with the native operator (r6): one
        |(window, type) HashAggregate with partial combine, then
        |TopKPerGroup partial/final around the window-key exchange.
        |The Sort + row_number Window ABOVE the heap operator ranks
        |only the ≤3 survivors per window (the heaps already filtered),
        |so it is bounded per group — not the data-scaled
        |sort-every-fact-row shape the native operator exists to
        |avoid.""".stripMargin,
    "text_repetition_filter" ->
      """Repetition quality gate (r6): word and bigram branches are
        |two-level HashAggregates — (doc, term) partial combine before
        |the exchange, then per-doc max/sum. The max-run branch has NO
        |explode and NO window: a linear aggregate() fold over the token
        |array, per-row inside codegen. Three doc_id-keyed joins close
        |the plan; AQE broadcasts them at small SF, and at scale they
        |shuffle on the same doc_id key the aggregates already
        |established.""".stripMargin,
    "join_fuzzy_levenshtein" ->
      """Catalog-scale fuzzy matching (r6): the FIRST operation is the
        |distinct-name aggregate — everything downstream (band join,
        |thresholded levenshtein) runs on vocabulary cardinality, not
        |corpus rows. Expect the pair join keyed on the type word with
        |the levenshtein filter ABOVE it (post-band), and no
        |corpus-sized shuffle anywhere after the first aggregate.""".stripMargin,
    "agg_weighted_median" ->
      """Exact weighted median (r6): the FIRST operation is the
        |(group, value) grid HashAggregate with partial combine — the
        |cumulative window above it runs over grid rows (value
        |cardinality), never raw lineitem rows. Expect two aggregates,
        |one window whose exchange carries the grid, and a broadcast of
        |the 3-row totals side. The initial plan PRINTS the grid twice
        |(window branch + totals branch) but AQE dedupes it at runtime —
        |executed plan shows ReusedExchange, one real scan+grid-agg. A
        |plan that windowed directly over the scan would be the 100 TB
        |failure shape this query avoids.""".stripMargin,
    "embedding_quantize" ->
      """Int8 quantization (r6): per-dimension min/max is a 64-row
        |aggregate broadcast back onto the exploded coordinate stream —
        |expect BroadcastHashJoin, never a shuffle of vector rows for
        |the stats join; the only data-scaled exchange is the final
        |per-vector regroup.""".stripMargin,
    "pipeline_pretrain" ->
      """Composed pretraining prep (r6): repetition-metrics subplan
        |(shared with text_repetition_filter, no trailing sort) feeding
        |gate → content-hash dedup (left_semi on min-doc_id keepers) →
        |md5-nibble split filter → final (lang, source) aggregate.
        |Every stage is hash-pure, so the whole chain is one
        |oracle-checked query rather than trusted glue code.""".stripMargin,
    "join_asof_native" ->
      """Whole-operator as-of merge join (r6): expect ONE AsOfJoin node
        |fed by two Exchange+Sort pairs (EnsureRequirements satisfying
        |the operator's declared distribution/ordering) and NO Window,
        |BNLJ, or join-then-filter pair blow-up. Contrast with
        |join_asof (kept as the composable twin and the oracle): that
        |plan joins every order to ALL earlier same-customer orders —
        |O(history²) intermediate rows — then discards all but one per
        |order with a row_number window. Here n+m rows move through
        |one exchange per side and the merge holds one candidate row.""".stripMargin,
    "ts_anomaly_zscore" ->
      """Trailing z-score monitor (r6): (hour, type) HashAggregate with
        |partial combine collapses the event stream BEFORE the analytic
        |window — the window sees one row per series point, not per
        |event. Single exchange on event_type for the window; ROWS
        |frame [-24, -1] keeps state at 24 rows per series; final sort
        |is the deterministic output order only.""".stripMargin,
    "cdc_upsert_latest" ->
      """Changelog compaction (r7): expect TopKPerGroup partial/final
        |around ONE exchange on user_id — each map task emits at most
        |one row per key from its bounded heap, so the shuffle carries
        |≤ |keys|·|tasks| rows however large the raw log is. The
        |row_number-window alternative would shuffle and sort the
        |ENTIRE changelog. Tombstone filter is post-final (it inspects
        |the winning row, so it cannot push below the k-selection).""".stripMargin,
    "scd2_intervals" ->
      """SCD-2 history build (r7): one exchange on user_id, one
        |in-partition sort, ONE WindowExec computing lead(ts) — version
        |chaining without a self-join (the naive form joins each row to
        |its successor: a second shuffle plus a pair blow-up on ties).
        |Final sort is output determinism only.""".stripMargin,
    "cdc_merge_apply" ->
      """MERGE INTO shape (r7): the changeset compacts FIRST (bounded
        |TopK heaps, one row per key) and only then meets the snapshot
        |in a single full-outer SortMergeJoin — the raw changelog never
        |reaches the join. At toy SF AQE may broadcast the compacted
        |side; at 100 TB both sides shuffle once on the key, and the
        |case-projection is codegen'd row-local work.""".stripMargin,
    "agg_hll_partial_merge" ->
      """Mergeable-sketch rollup (r7): two HashAggregate levels — per
        |(type, day) HLL partials (partial_hllsketchagg before the
        |exchange: each task ships one ~KB sketch per group, not user
        |ids), then per-type sketch UNION. The exchange payload is
        |sketches; the raw stream is read exactly once, and any coarser
        |rollup could reuse the materialized partials without touching
        |it again.""".stripMargin,
    "agg_approx_topk" ->
      """Frequent-items heavy hitters (r7): two-phase ApproxTopK
        |aggregate — per-task bounded sketches combine into one final
        |sketch; memory is O(maxItemsTracked) per task regardless of
        |key cardinality, where the exact groupBy alternative's hash
        |map grows with distinct keys. Explode of the (item, count)
        |structs is driver-trivial (k rows).""".stripMargin,
    "stream_timer_session" ->
      """Timer-session batch twin (r7): one exchange on user_id feeds
        |BOTH window passes (lag/session-id marking and the cumulative
        |sum) and the final per-session HashAggregate — the partitioning
        |is reused, no second shuffle of event rows. The streaming form
        |(StreamRunner.timerSessions) replaces all of it with O(1)
        |ValueState + one timer per key.""".stripMargin,
    "layout_zorder" ->
      """Z-order layout (r7): the Morton key is the native codegen'd
        |interleave_bits expression — expect it INSIDE the
        |WholeStageCodegen span of the scan projection (12 branch-free
        |ALU ops per row, no UDF black box), then one two-phase
        |HashAggregate on the cell prefix. No window, no global sort:
        |at a real write the same key feeds repartitionByRange, whose
        |sampled range exchange is the only data-scaled movement. The
        |per-cell min/max output IS the zone-map evidence: both
        |dimensions' spans bounded < 64 in every cell.""".stripMargin,
    "profile_table" ->
      """ANALYZE-style profile (r7): FOUR exact NDVs in one pass —
        |expect a single Expand (×4 row multiplication tagged by gid)
        |feeding two HashAggregate levels, then a 1-row pivot to
        |per-column rows. One scan, one shuffle; the naive per-column
        |loop would rescan the 100 TB table four times. Expand's ×4 is
        |the explicit, bounded price of exactness — swap to HLL partials
        |(agg_hll_partial_merge) when approximate NDV suffices.""".stripMargin,
    "cdc_incremental_agg" ->
      """Incremental view maintenance (r7): two filtered aggregates
        |(each partial-combined before its exchange) merged by ONE
        |full-outer join on user_id. Work is ∝ |delta| + |snapshot|,
        |never history; the DECIMAL(38,6) sums make the merge order
        |irrelevant (bit-exact associativity doubles lack). The oracle
        |recomputes from scratch — merge == recompute is the IVM
        |correctness claim, hash-checked.""".stripMargin,
    "dedup_spans" ->
      """Duplicate-span removal (r7): explode to 3-word spans, ONE
        |hash exchange on the span string for the first-occurrence
        |window (high-cardinality, uniform — no skew key), re-agg by
        |doc_id. Never all-pairs: fan-in per span is its duplicate
        |count. At 100 TB the span column folds to xxhash64 before the
        |exchange (8-byte keys, same routing) with a collision re-check
        |— the dedup_ngram_jaccard recipe.""".stripMargin,
    "win_ewma" ->
      """Truncated EWMA (r7): ONE exchange on user_id, one in-partition
        |sort, one WindowExec evaluating all 8 lags in a single frame
        |pass — constant state per row, no self-join, no frame rescan.
        |The infinite-recurrence EWMA is inherently sequential; the
        |8-term truncation (error < 0.4%) is what makes it one parallel
        |window pass at any scale.""".stripMargin,
    "stream_cdc_upsert" ->
      """Upsert-sink state, batch twin (r7): TopKPerGroup k=1 — per-task
        |bounded 1-heaps, exchange carries ≤ one row per (task, key),
        |never the raw changelog. The streaming form
        |(StreamRunner.upsertLatest) replaces even that with ONE
        |ValueState row per key updated in place, emitting only keys
        |whose winner changed per micro-batch.""".stripMargin,
    "agg_histogram" ->
      """Equi-width histogram (r7): pass 1 is a 1-row min/max aggregate;
        |expect it to re-enter as a BroadcastNestedLoopJoin build side
        |(1 row — bounded by construction, the allowlisted shape) onto
        |the scan, then a two-phase HashAggregate on the bin id: the
        |fact table crosses the exchange as ≤ 20 partial bin counts per
        |task. The second 1-row broadcast labels bin bounds on the ≤ 20
        |result rows — driver-trivial.""".stripMargin,
    "join_asof_nearest" ->
      """Nearest-in-time as-of (r7): TWO AsOfJoin nodes stacked — the
        |outer (forward) consumes the inner (backward) DIRECTLY: expect
        |exactly three hashpartitioning exchanges (one per scanned
        |input) and NO exchange or sort between the two merges — the
        |inner's declared output partitioning/ordering satisfies the
        |outer's left-side requirement, so adding the second direction
        |costs only the right-side scan. The window alternative would
        |run two O(history²) self-join+rank passes.""".stripMargin,
    "pipeline_cdc_roundtrip" ->
      """Composed CDC round trip (r7): merge-apply's plan (TopK k=1
        |compaction + full-outer MERGE join) flows DIRECTLY into the
        |diff's second full-outer join — expect the compaction heaps,
        |two key-hashed full-outer joins, and row-local CASE
        |projections, with no window over fact rows and no re-derivation
        |of the changeset between stages. The output stream is the
        |changed fraction only — what a 100 TB refresh would publish
        |downstream instead of the rebuilt table.""".stripMargin,
    "stats_cbo_join" ->
      """Statistics→optimizer feedback (r8): the join runs over CATALOG
        |tables carrying ANALYZE … FOR ALL COLUMNS stats. Expect a
        |BroadcastHashJoin with the filtered customer side built — at
        |the default threshold the dim broadcasts either way; the
        |stats' plan CONSEQUENCE is pinned in Round8OpsSpec under an
        |explicitly scoped conf (the op itself never mutates the shared
        |session's optimizer mode): with the threshold held between the
        |size-only estimate (no CBO: filter keeps the table's on-disk
        |bytes → SortMergeJoin) and the column-stats estimate (CBO
        |FilterEstimation applies the ~10% selectivity → broadcast).
        |At 100 TB this is the shuffle-the-fact vs
        |broadcast-the-filtered-dim decision, made from ANALYZE numbers
        |instead of file sizes.""".stripMargin,
    "join_bloom_pruned" ->
      """Runtime bloom-filter join (r8): at toy SF the selective dim
        |broadcasts (correct — no bloom needed when the build side
        |ships whole). The 100 TB behavior — bloom_filter_agg subquery
        |on the dim + might_contain on the fact scan once the join
        |shuffles — is pinned in Round8OpsSpec with the broadcast
        |disabled and the application-side size gate lowered, plus
        |result equality with the unfiltered plan. Completes the
        |runtime-filtering trio: DPP prunes partitions
        |(join_partition_pruned), the bloom filter prunes rows of an
        |unpartitioned fact, stats_cbo_join picks the strategy.""".stripMargin,
    "layout_compact" ->
      """Small-file compaction (r8): expect ONE range exchange
        |(repartitionByRange on the recomputed interleave_bits key) over
        |the fragmented table followed by an in-partition sort and the
        |rewrite — no global sort, no shuffle of anything but the data
        |being compacted once. The final re-read plan shows PushedFilters
        |on both clustering dims against the compacted files.""".stripMargin,
    "table_commit_swap" ->
      """Atomic table maintenance (r9): the same fragment→compact cycle
        |as layout_compact, but every rewrite is a SNAPSHOT COMMIT
        |(graft.sources.Snapshots — immutable versioned data dirs, the
        |head advanced by one atomic manifest create-if-absent; readers
        |resolve the manifest's pinned file list, never a directory
        |glob). The query-side plan is identical to layout_compact's
        |(one range exchange + in-partition sort per rewrite; the
        |re-read scans ≤4 compacted files with PushedFilters on both
        |clustering dims) — atomicity costs zero data movement, which
        |is the point: at 100 TB the commit moves one small metadata
        |file. Round9OpsSpec proves pinned-reader isolation, a live
        |interleaved-reader race, orphan invisibility, and retention.""".stripMargin,
    "snapshot_incremental_read" ->
      """The read side of the snapshot store (r9): the change range
        |(vFrom, vTo] resolves to an explicit delta file list by
        |manifest set difference — pure metadata, two small file reads
        |and a subtraction. Expect the scan node's file list to contain
        |ONLY post-base version dirs (spec-asserted on the planned files):
        |the base is never re-listed, never re-scanned, so incremental
        |catch-up costs O(delta) not O(table). Above the scan: a plain
        |two-phase hash agg per range, union of the two tagged frames.
        |Time travel (snapshot_time_travel) shares the mechanism — a
        |historical read resolves ONE manifest and plans a normal scan
        |over its pinned, immutable file set.""".stripMargin,
    "snapshot_schema_evolution" ->
      """Schema evolution across snapshot commits (r9): v1 lacks the
        |o_band column and declares the root's schema; the append commit
        |adds the column and widens the declaration (ALTER TABLE ADD
        |COLUMN's effect, checked over the appended files' footers at
        |commit). The head read presents the declared schema — expect
        |ONE BatchScan over both eras' files whose ReadSchema carries
        |o_band (pre-evolution rows null-fill at the reader, no rewrite
        |of history, zero data movement to add the column), feeding one
        |map-side-combined hash agg over (priority, band). Planning
        |reads the declaration, no footer. A time-travel readAt of v1
        |still plans the pre-evolution schema — spec-pinned.""".stripMargin,
    "sql_update_mor" ->
      """Merge-on-read UPDATE (r9) — the Hudi upsert shape: ONE atomic
        |commit stages the rewritten rows plus a delete file SCOPED to
        |pre-existing files (DeleteFile.coversBelow, Iceberg v2's
        |equality-delete sequence rule), then a MOR DELETE stacks on
        |the post-update values. Expect the head read to be ONE MOR scan
        |over every file — the base files' rows meet BOTH deletes while
        |the upsert's own rows meet only the later one, by each file's
        |sequence number against each key's newest delete version —
        |then the agg, no join. Update cost is O(matching rows) written at any table
        |size; the COW twin (sql_update_delete) pays a full table pass
        |instead and the oracle pins both to the same answer.""".stripMargin,
    "sql_time_travel" ->
      """VERSION AS OF SQL (r9): the statement substitutes each
        |RelationTimeTravel node with that version's pinned manifest
        |read and re-enters Spark's analyzer — expect a plain UNION of
        |two aggregated scans, v1's scan planning over ONLY the first
        |commit's files while the head scan covers all three eras'
        |files, each side map-side-combined before its exchange. Time
        |travel adds NO operator of its own: history is a different
        |file list, so a today-vs-last-week audit at 100 TB costs two
        |ordinary pruned scans + one small manifest read per version —
        |never a restore, never a second copy of the table.""".stripMargin,
    "dedup_incremental" ->
      """Incremental corpus dedup (r12): the crawl batch anti-joins the
        |corpus's DISTINCT fingerprint set — expect the corpus side to
        |collapse through a map-side-combined HashAggregate on
        |(md5, text) BEFORE the join (the persisted index shape: O(corpus
        |docs) fixed-width rows, never re-scanned text), one LeftAnti
        |join keyed on the hash with text equality backing it, and full
        |text projected only above the join. At 100 TB the corpus never
        |re-dedups; each batch pays O(batch) + one probe of the
        |index.""".stripMargin,
    "ts_sessionize" ->
      """Batch sessionization (r12): gap-flag lag and running-sum
        |session index share ONE window spec — expect a single
        |Exchange(user_id) + Sort feeding BOTH Window nodes
        |back-to-back, then the per-session HashAggregate pair with NO
        |exchange between window and aggregate: hashpartitioning on
        |user_id already clusters the (user_id, session_idx) group
        |keys. The whole operator is one data shuffle; no task ever
        |holds more than one user's ordered events, so the shape is
        |flat at 100 TB.""".stripMargin,
    "snapshot_wap_publish" ->
      """Write-audit-publish (r12): the staged batch commits to its own
        |root, the audit gate runs there (main untouched), and
        |publishFrom appends the audited files into main BY REFERENCE —
        |expect the post-publish head scan to list BOTH roots' files in
        |one BatchScan with zero copy jobs between them; the failed
        |second batch appears in no main scan. Publish cost is one
        |manifest write at any batch size.""".stripMargin,
    "sql_time_travel_ts" ->
      """TIMESTAMP AS OF SQL (r12): every commit stamps a strictly-
        |monotonic #ts:<µs> header into its manifest, and resolution is
        |newest-commit-<=-literal (Delta's rule) — one header line per
        |retained manifest, metadata-only, independent of data size.
        |After resolution the plan is IDENTICAL to VERSION AS OF: a
        |UNION of two aggregated scans, the as-of side planning over
        |only the first two commits' files. The monotonic clamp (parent
        |ts + 1 under clock skew) is what keeps audit queries
        |deterministic under concurrent writers at 100 TB — commit
        |order and timestamp order can never disagree.""".stripMargin,
    "snapshot_partition_prune" ->
      """Manifest-level partition pruning (r9): orders committed
        |.partitionBy(o_orderpriority) across two eras, read back for 2
        |of 5 priorities. The pruning happens BEFORE Spark — the
        |manifest's file list is filtered on the partition path segment,
        |so expect ONE BatchScan over both eras whose file set carries
        |ONLY the two wanted priorities (spec asserts the planned files),
        |its file index re-attaching the partition column from the paths,
        |feeding a map-side-combined hash agg on that column.
        |At 100 TB: planning touches exactly the matching partitions'
        |files with zero LIST of the base — the manifest is the listing,
        |and filtering it is a metadata-only string match, the same move
        |Iceberg makes with partition summaries in manifest files.""".stripMargin,
    "sql_delete_mor" ->
      """Merge-on-read DELETE (r9): two DELETE statements commit tiny
        |delete-key files (#del manifest lines) — base files never move
        |(spec-pinned identical file list). Expect the head read to be
        |ONE MOR scan probing the in-memory delete keys per row (shipped
        |inline = O(deleted keys), the base side never shuffles), then
        |the usual agg. Statement cost is
        |O(matching rows) written; at 100 TB deleting a key costs
        |kilobytes vs copy-on-write's full rewrite (sql_update_delete
        |is the COW contrast) — the read-side key probe is the rent
        |until a rewrite commit absorbs the deletes (also spec-pinned,
        |as is vacuum keeping referenced delete files).""".stripMargin,
    "sql_update_delete" ->
      """UPDATE then DELETE on a copy-on-write snap. catalog table
        |(r9): Spark's own analyzer rewrites each statement into a
        |ReplaceData plan that computes the full survivor set,
        |executors stage parquet, and the commit is ONE atomic
        |full-rewrite manifest; time travel keeps each pre-statement
        |version. Both statements run eagerly inside spark.sql, so the
        |plan below is the key's read of the post-statement head: one
        |BatchScan of the rewritten table (the rewrite re-materialized
        |every survivor into one file) feeding the two-phase
        |HashAggregate and the ordering sort. At 100 TB the production
        |refinement is scoping the rewrite to files whose zone maps can
        |satisfy the predicate and carrying untouched files forward by
        |reference in the manifest — the append-manifest machinery
        |this store already has.""".stripMargin,
    "stream_snapshot_append" ->
      """Exactly-once streaming ingest into the snapshot store (r9):
        |each micro-batch is one idempotent APPEND commit
        |(Snapshots.appendBatch, the foreachBatch binding) whose
        |manifest carries a #txn:<appId>:<batchId> tag — a replayed
        |batch after a crash-restart finds its tag and no-ops, which is
        |what upgrades foreachBatch from at-least-once to exactly-once
        |(Delta's txnAppId/txnVersion). Query-side plan: three filtered
        |scans of events feeding parquet appends (each O(micro-batch),
        |never O(table) — an append manifest carries the parent's file
        |list forward without re-listing it), then one map-side-combined
        |hash agg over the resolved head. The idempotence gate is
        |metadata-only: one header line per retained manifest. The live
        |checkpointed stream form (stop/restart between feeds, zombie
        |replay, idle restart) is pinned in Round9OpsSpec.""".stripMargin,
    "domain_diversify" ->
      """Therapy diversification (r13; REPLANNED r14 — the round's
        |headline fix, 34.6s → ~2.8s at sf0.1). Three moves: (1) the
        |type-match join no longer explodes |ptypes|·|type slice| rows
        |(151M at sf0.1) — candidates come from a pre-ranked
        |per-(type, excluded-class) alternative list cut to each row's
        |n_taken(patient, type)+1 prefix, an EXACT bound (only the
        |patient's own type-t drugs can strike list entries), so the
        |pre-argmin set is regimen-sized (~8M → ~400k); (2) the argmin
        |is the native TopKPerGroup k=1 heap — expect TopKPerGroup
        |partial/final and NO SortAggregate anywhere (min_by's struct
        |buffer fell off HashAggregate and sorted the candidate set
        |twice); (3) the shared sampled-meds subtree is guard-persisted
        |(InMemoryTableScan in all four domain queries). The catalog
        |side (rank window over |catalog|·|classes| rows) is bounded by
        |the knowledge base, independent of patient scale, and
        |broadcasts pre-cut to the per-type max(n_taken)+1 worst
        |case. The clinical-history anti join is deliberately UNHINTED
        |— the history is patient-scaled, so a forced broadcast would
        |collect it on the driver at any scale; the initial plan below
        |shows the safe SortMergeJoin LeftAnti shape and AQE converts
        |it to broadcast at runtime while the measured side fits
        |(bench-verified: same ~2.8s warm as the hinted form).""".stripMargin,
    "dedup_ngram_jaccard" ->
      """N-gram Jaccard near-dup (audited r14): shingle explode →
        |per-doc gram sets, pair generation keyed on xxhash64-folded
        |gram longs (8-byte shuffle keys, never gram strings), exact
        |Jaccard re-check above the candidate join — collision-exact.
        |The cost (2.8s at sf0.1) IS the gram-set shuffle; no all-pairs
        |stage exists, fan-in per gram is its duplicate count.""".stripMargin,
    "rewrite_deletes" ->
      """Delete-file compaction (r13): scope-equivalence classes merge
        |stacked delete files — expect the compaction commit to move
        |O(deleted keys) (the distinct-union of the mergeable delete
        |parquets, coalesced to one file) and ZERO table data; the
        |post-compaction read plans the same one MOR scan with fewer
        |delete files. Era-straddling deletes (a re-insert between
        |them) must stay apart — merging across the boundary would
        |re-hide re-inserted keys (Round14OpsSpec pins it, now for
        |composite keys too).""".stripMargin,
    "snapshot_partition_evolution" ->
      """Partition-spec evolution (r13): era A partitioned on priority,
        |era B on (priority, band). The first commit declares priority a
        |path column; era B's commit adds band as one (partition
        |evolution widens the declaration at commit, typed by Spark's
        |partition inference over the staged dirs). Pruning is per-spec
        |and METADATA-ONLY (manifest path-segment match before Spark
        |lists anything): priority prunes both eras, band prunes only
        |era-B files, era-A files are kept (band unprovable from their
        |spec) and the residual predicate re-derives band from the price
        |column — Iceberg's transform-on-read. Expect ONE BatchScan over
        |both eras' kept files (era-A rows read band as NULL — their
        |paths carry no band segment, as for every table), the band
        |filter above it, and the planned files pinned in
        |Round14OpsSpec.""".stripMargin,
    "sql_schema_evolution" ->
      """ALTER TABLE ADD COLUMN through the v2 catalog (r13): the
        |declared schema grows by one properties-file write; expect ONE
        |scan whose ReadSchema carries the evolved column, pre-evolution
        |files null-filling at the reader (parquet missing-column rule),
        |then the usual two-phase agg. Time travel to v1 presents the
        |pre-evolution schema. Zero data movement at any table size —
        |the add-column contract Delta/Iceberg give.""".stripMargin,
    "sql_rename_evolution" ->
      """ALTER TABLE RENAME/DROP COLUMN (r14): metadata-only like
        |add-column, but resolution is the interesting half — the head
        |scan reads the UNION of current + prior physical names and
        |coalesces per output column (RenameAwareScanBuilder), exact
        |because the tombstone ledger forbids name reuse, so no file
        |ever carries two spellings. Expect one scan whose ReadSchema
        |lists both spellings of the renamed column and a row-level
        |projection above it; filter pushdown is traded away until a
        |rewrite re-materializes current names (the MOR-scan trade).
        |Time travel presents historical names (footer-inferred).""".stripMargin,
    "snapshot_delete_composite" ->
      """Composite-key merge-on-read delete (r14): the delete file
        |carries (l_orderkey, l_linenumber) PAIRS — the natural key of a
        |table with no single-column key. Expect the head read to be ONE
        |MOR scan whose delete set keys on BOTH columns (a single-column
        |collapse would also hide order-6k's lines 4+, which must
        |survive — the oracle pins it), version scoping unchanged (the
        |post-delete re-insert of deleted pairs stays visible). Cost
        |model identical to the single-key form: O(deleted pairs)
        |written, base untouched.""".stripMargin,
    "stream_catalog_sink" ->
      """Streaming sink into the catalog (r13): writeStream.toTable
        |lands each micro-batch as staged parquet + ONE #txn-tagged
        |manifest commit — idempotent on replay (exactly-once). Expect
        |the landed-table read to be a plain manifest-pinned scan +
        |two-phase agg; the streaming side's per-batch cost is
        |O(micro-batch) + one metadata write, never O(table).""".stripMargin,
    "snapshot_prune_mor" ->
      """Partition pruning COMPOSED with pending MOR deletes (r13):
        |manifest-level partition pruning first (metadata string match),
        |then the deletes applied inside ONE MOR scan over only the
        |surviving files. Expect one BatchScan naming its delete files,
        |and no join —
        |the delete never un-prunes a partition, and the pruned read
        |applies exactly the deletes whose scope covers it.""".stripMargin,
    "cdc_merge_sql" ->
      """MERGE INTO as a SQL statement on a copy-on-write snap.
        |catalog table (r9). Stock Spark 4 refuses MERGE on
        |default-catalog tables; the graft catalog's row-level
        |operations let Spark's own RewriteMergeIntoTable plan it —
        |clause semantics and the cardinality check included
        |(CatalogSpec pins both on COW and MOR tables) — and the
        |ReplaceData write commits ONE atomic full-rewrite manifest, the
        |same read isolation a Delta MERGE gives. The MERGE runs eagerly
        |inside spark.sql, so the plan below is the key's read of the
        |post-merge head: one BatchScan of the merged table and the
        |ORDER BY as a root SmallSort, which collect() sorts on the
        |driver (SmallSortStrategy: the head is under the broadcast
        |threshold, so no exchange and no second job). Spec-pinned
        |equal to the DataFrame cdc_merge_apply row for row
        |(CdcMergeSpec).""".stripMargin,
    "snapshot_stats_prune" ->
      """File skipping on manifest column bounds (r15), explicit API.
        |readStatsPruned keeps only files whose recorded [min,max] for
        |l_partkey intersects the window — metadata-only, decided before
        |any listing or footer read — so expect a plain vectorized
        |BatchScan over the KEPT files (Round15OpsSpec pins the
        |planned-file shrink), the residual partkey filter re-applied
        |above (pushed to the scan too), then the standard two-phase
        |HashAggregate. At 100 TB with 1M files the prune is manifest
        |arithmetic on the driver; a 0.1% window opens ~0.1% of the
        |files.""".stripMargin,
    "snapshot_stats_prune_sql" ->
      """The same bounds reached the way users reach them (r16): a
        |plain WHERE on a snap.* catalog table. The DSv2 scan's file
        |index evaluates the PUSHED predicates against each file's
        |stats inside listFiles, so expect a single BatchScan whose
        |planned partitions cover only intersecting files (Round16Ops-
        |Spec pins the planned-file shrink, including under MOR), with
        |PushedFilters intact and whole-stage codegen above — no
        |explicit API in sight.""".stripMargin,
    "snapshot_cdf_rows" ->
      """Row-level change feed whose range CROSSES an unmarked rewrite
        |(r15). Expect the documented fallback: both pinned states
        |packed to (key struct, row struct), ONE full-outer
        |SortMergeJoin on the key, change rows classified by null-side
        |and value inequality — the price Delta pays for CDF across
        |untracked row-changing rewrites. Ranges whose rewrites carry
        |the r16 #rowsunchanged marker never reach this join
        |(Round16OpsSpec pins the join-free plan); append-only ranges
        |read only the added files.""".stripMargin,
    "stream_snapshot_source" ->
      """Native streaming source (r15): readStream.table over the
        |snapshot catalog, offsets = committed versions (exclusive),
        |each micro-batch planning the added files of the append steps
        |in its (start, end] range — Snapshots.steps, the one commit
        |classifier the .changes feed and readChangesRows share. The
        |audited plan is the sink-side aggregate over the tailed parquet
        |output — the interesting property is the SOURCE cost model: per
        |batch O(new files) planning + O(new rows) I/O, never a re-list
        |or re-scan of the base; r16 adds startingVersion/
        |startingTimestamp catch-up and silent pass-over of
        |rows-unchanged maintenance commits; any other non-append step
        |(including a restore that un-hides deleted rows) refuses, or is
        |skipped under skipChangeCommits.""".stripMargin,
    "sql_type_widening" ->
      """Metadata-only ALTER COLUMN widening (r15). Expect a UNION of
        |two branches — head (both eras under the widened types, narrow
        |files upcast natively by the vectorized reader) and VERSION AS
        |OF 1 (its own narrow footer schema) — each a plain pushdown
        |FileScan + two-phase HashAggregate; no rewrite anywhere in the
        |history. The scan stays vectorized because int32→int64 /
        |float→double promotion is native to the parquet reader.""".stripMargin,
    "sql_evolution_mor" ->
      """Rename + widen of a merge-on-read KEY with deletes pending
        |(r16) — the composition Iceberg needs field-ids for, carried
        |here by the rename ledger. Expect the MOR scan shape: one
        |parquet scan under the physical union schema, the prior-name
        |coalesce folding `k` into `ok` BEFORE the row-level delete
        |filter, delete keys loaded once (narrow files upcast by footer
        |type) and applied as in-memory sets, then the aggregate. The
        |rent is row-based batches until compaction absorbs the
        |deletes — the same transient degrade Iceberg v2 accepts.""".stripMargin,
    "sql_maintenance" ->
      """SQL-first maintenance (r16): CALL snap.system.compact_deletes /
        |compact / vacuum ran before this read, so expect the PLAIN
        |vectorized pushdown scan — no MOR wrapper, no delete sets, no
        |rename coalesce — over the bin-packed post-compaction files:
        |maintenance restored the fast-path plan, which is the point.
        |The compaction commit itself is basedOn-guarded and stamped
        |rows-unchanged, so concurrent change feeds and streams ignore
        |it.""".stripMargin,
    "join_bucket_partitioned" ->
      """Bucket-transform SPJ fixture (r17). The bench/verify run keeps
        |the v2-bucketing conf OFF (session hygiene), so expect the
        |ordinary two-sided shuffle join here; the zero-Exchange
        |key-grouped plan is pinned under a scoped conf in
        |Round17OpsSpec. What this plan must still show: both sides are
        |plain vectorized BatchScans over _gbucket=<id> bucket dirs with
        |the synthetic segment absent from ReadSchema, and the
        |post-join two-phase HashAggregate. At 100 TB with the conf on,
        |the exchanges under this join disappear entirely — that is the
        |point of the layout.""".stripMargin,
    "agg_pushdown_group" ->
      """Per-partition manifest aggregates (r17). Expect NO file scan:
        |the optimized plan's scan relation is a GraftManifestAgg
        |LocalScan and the physical plan a five-row LocalTableScan —
        |one row per o_orderpriority partition, counts and bounds
        |folded from #stats lines grouped by the partition path values,
        |across BOTH commits. The ORDER BY above is the only real
        |operator. "Rows per partition" on a 100 TB table at zero data
        |I/O is the plan's point.""".stripMargin,
    "agg_pushdown_filtered" ->
      """Filtered manifest aggregates (r17). Expect NO file scan: the
        |WHERE pri IN (...) is a whole-file keep/drop evaluated on
        |partition path values driver-side, the GROUP BY folds the
        |surviving files' #stats lines, and the physical plan is a
        |three-row LocalTableScan under the ORDER BY. A data-column
        |filter here would leave a post-scan filter and Spark would
        |never ask — the decline path is the ordinary pruned scan.""".stripMargin,
    "agg_pushdown_stats" ->
      """Manifest-served aggregate pushdown (r17). Expect NO file scan
        |at all: the optimized plan's DataSourceV2ScanRelation carries a
        |GraftManifestAgg LocalScan and the physical plan is a one-row
        |LocalTableScan — count(*)/count(c)/min/max answered from the
        |head manifest's #stats lines, folded driver-side across both
        |commits. At 100 TB this plan shape is identical: O(files)
        |manifest strings, zero data I/O. Any file scan here means a
        |serve gate declined (and the query require-fails first).""".stripMargin,
    "maintenance_orphan_sweep" ->
      """remove_orphan_files (r17): the sweep itself is driver-side
        |metadata work (manifest-line set difference + quiet-dir
        |listing — zero Spark jobs), so the audited plan is the
        |POST-SWEEP read: expect the ordinary MOR catalog scan over the
        |v2 head (the %5 rewrite's files), its pending deletes
        |untouched by the sweep, two-phase HashAggregate above. A sweep
        |that ate a referenced file would surface here as a missing
        |input file, not a plan change — the oracle's row recount is
        |the real gate.""".stripMargin,
    "sql_partitioned_time" ->
      """Time-transform partitioning (r18): days(ts) routes rows to
        |derived _gtpart=<epoch-day> segments; the five-day range
        |predicate prunes whole ordinal DIRECTORIES from the manifest at
        |planning time (monotone transform ⇒ range ⇒ ordinal range) —
        |check the scan's file count against the ~30 day dirs, not a
        |post-filter. The source ts column stays a DATA column (unlike
        |identity partitioning), read from footers; stats skipping
        |composes in the same index. Expect a plain vectorized BatchScan
        |over the kept day dirs + two-phase HashAggregate.""".stripMargin,
    "sql_delete_positional" ->
      """Position deletes (r18): two stacked non-key DELETEs on a
        |keyless lineitem slice wrote (file, pos) pair files; the read
        |is the delete-aware MOR scan with the affected files repacked
        |to SINGLE-FILE partitions (each reader knows which file its
        |generated row ordinals index) and pair sets applied as per-file
        |ordinal filters. Expect the row-based MOR scan (the documented
        |transient degrade while deletes pend — compact_deletes already
        |merged the pair files; a full rewrite would restore the
        |vectorized path), never a table rewrite: the plan moves
        |O(pairs) bytes beside the untouched data files.""".stripMargin,
    "sql_partitioned_table" ->
      """CREATE TABLE PARTITIONED BY through the catalog (r16). Expect
        |a BatchScan over ONLY the two matching priorities' partition
        |directories (the partition-aware index is rebuilt from the
        |manifest's col=value paths, so the IN predicate prunes at
        |listFiles time — check the scan's file count, not a
        |post-filter), partition values re-attached per directory, and
        |the usual two-phase HashAggregate above. Joins on the
        |partition column additionally get runtime (DPP) filtering —
        |spec-pinned.""".stripMargin,
    "snapshot_bloom_prune" ->
      """Per-file Bloom skipping (r16): evens and odds committed
        |separately, so every file spans the whole key domain and
        |min/max refutes nothing — the point-lookup IN plans only the
        |files whose sketch might contain a listed key (absent keys
        |plan ZERO files, spec-pinned). Expect a plain vectorized scan
        |over the surviving files with the IN residual above; the
        |sketch decision itself never appears in the plan (driver-side
        |manifest+sidecar arithmetic).""".stripMargin,
    "snapshot_prefix_prune" ->
      """LIKE-prefix skipping (r16): the string key is range-clustered,
        |so [prefix, nextPrefix] intersects few files' recorded string
        |bounds. Expect StartsWith in PushedFilters AND a planned file
        |count below the table's total (spec-pinned) — parquet's own
        |row-group bounds then skip within the kept files.""".stripMargin,
    "domain_denial_train" ->
      """Trained denial model (r16): ONE map-side-combined aggregation
        |computes the nine exact integer moments, the 3×3 Cramer solve
        |is plan-level scalar algebra on the 1-row frame, and scoring
        |broadcasts it back over the claims (BroadcastNestedLoopJoin of
        |a single row — the documented 1-row stats-frame cross join
        |shape). No iteration, no collect; the whole fit is two
        |aggregations at any scale.""".stripMargin,
    "sql_evolution_drop" ->
      """DROP of the column keying every pending MOR delete (r17 — the
        |lifted refusal). Expect the same one MOR row-filter scan
        |shape as sql_evolution_mor: the dropped key is read as a
        |hidden shadow field (dropchain-coalesced across its rename
        |eras, droptype-width), consumed by the delete filter, never
        |projected — the plan shows only the surviving columns above
        |the scan. Nothing about the drop adds a join or a shuffle;
        |the rent is one extra pruned column until compaction.""".stripMargin,
    "join_storage_partitioned" ->
      """Storage-partitioned join (r17): both snap tables PARTITIONED
        |BY (pri), scans report KeyGroupedPartitioning from their
        |manifests' col=value paths (one input split per value, keys
        |metadata-only). Under the v2-bucketing conf the join on pri
        |plans with ZERO exchange on either side (spec-pinned with
        |broadcast disabled); at 100 TB that is the difference between
        |shuffling both tables and shuffling nothing. In THIS audit
        |profile the 5-row weights side broadcasts instead — also a
        |zero-shuffle plan, the threshold decision working as
        |designed.""".stripMargin,
    "stats_cbo_join_snap" ->
      """ANALYZE→CBO on snap tables (r17): CALL snap.system.analyze
        |records per-column NDVs; the DSv2 scan reports them plus
        |manifest-folded min/max/nullCount as v2 column statistics.
        |Expect the dim side's selective c_acctbal filter to broadcast
        |(the stats-driven flip, statically under cbo.enabled —
        |spec-pinned with AQE scoped off; in this audit profile the
        |dim broadcasts on size alone). The analyze pass itself is one
        |map-side-combined aggregation, never part of the read
        |plan.""".stripMargin,
    "sim_ann_ivf" ->
      """IVF ANN with the r17 recall gate: trained centroids broadcast,
        |spilled Repl=2 assignment via bounded-heap top-k (r20),
        |per-cell candidate join, rank window on ≤5 survivors — and the
        |recall-vs-exact column arrives as a ONE-ROW aggregate
        |cross-joined onto the output (BroadcastNestedLoopJoin of a
        |single row, the documented 1-row stats-frame shape), so the
        |quality gate adds no shuffle to the retrieval path.""".stripMargin)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit (generated by graft.PlanAudit)\n\n")
    sb.append(s"Scale factor: `$sfDir`. For each representative operator: the\n")
    sb.append("expectation we iterated toward, then the actual formatted plan.\n")
    picks.foreach { case (name, commentary) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      // captured plans can embed raw control bytes (NUL separators in
      // grouping-key literals) — git then treats the whole artifact as
      // binary and its diffs become unreviewable. Escape them to
      // visible \u00XX so PLANS.md stays text (same fix SnapAggPush's
      // sort key got in r17).
      val textPlan = plan.trim.flatMap {
        case c if c < ' ' && c != '\n' && c != '\t' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      sb.append(s"\n## $name\n\n")
      sb.append(commentary.linesIterator.map(l => s"> ${l.trim}").mkString("\n"))
      sb.append("\n\n```\n").append(textPlan).append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${picks.size} plans)")
    spark.stop()
  }
}
