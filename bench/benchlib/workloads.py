"""The workloads: which operations each runs and on what inputs.

Each workload is one closed loop with one client, run in whole rounds:
every round runs the same multiset of operations in a seeded order, so
every seed runs every operation equally often.
"""
import os

from . import gen

# analyst_mix: read-side analytic keys, one or two per module, chosen for
# the mechanism each exercises and a result small enough for an analyst to
# read. All 104 such keys take ~114 s a round at sf0.1 on 4 cores, and one
# round of the chosen ones gave too few samples to be steady, so they run
# on sf0.01, where each costs ~0.15 to 0.55 s of mostly driver work.
ANALYST_KEYS = {
    "sources.Scans": ["scan_csv_hl7"],
    "operators.Projections": ["filter_predicate", "topk_sql_rewrite"],
    "operators.Joins": ["join_asof_native"],
    "operators.SetOps": ["set_except"],
    "operators.Aggs": ["agg_pivot"],
    "operators.Windows": ["win_rank_topk"],
    "functions.Scalars": ["fn_struct_fhir"],
    "functions.Udfs": ["udtf_generator"],
    "domain.DomainQueries": ["domain_formulary"],
    # one key each keeps the TextOps and SimOps layers measured (the
    # corpus workload is left out; see bench/README.md)
    "operators.TextOps": ["text_fingerprint"],
    "operators.SimOps": ["sim_cosine_topk"],
}

NAMES = ("analyst_mix", "table_churn")
# whole timed rounds per run (a run starts no new round after --seconds;
# a traced run orders its rounds untraced, traced, traced, untraced, so it
# rounds this up to a multiple of four), after untimed warm-up rounds at
# the workload's own scale
ROUNDS = {"analyst_mix": 5, "table_churn": 3}
WARMUP_ROUNDS = {"analyst_mix": 6, "table_churn": 1}
# test-data scale each workload reads (the set-up always reads sf0.001)
SCALE = {"analyst_mix": "sf0.01", "table_churn": "sf0.1"}
VEC_DOT_PAIRS = (1000, 2000)


def module_of(key, catalog):
    for m, ks in catalog["modules"].items():
        if key in ks:
            return m
    return None


def flat(keys_by_module):
    return sorted(k for ks in keys_by_module.values() for k in ks)


def _check_keys(keys, catalog):
    missing = [k for k in keys if module_of(k, catalog) is None]
    if missing:
        raise KeyError(f"keys not in SparkEntry.queries: {missing}")


def build(workload, seed, data_root, work, catalog, traced=False):
    """Generate the workload's inputs under `work`.

    Returns (spec fields, context for checking, description)."""
    if workload not in NAMES:
        raise KeyError(f"unknown workload {workload!r}; one of {', '.join(NAMES)}")
    sf_dir = os.path.join(data_root, SCALE[workload])
    warm_dir = os.path.join(data_root, "sf0.001")
    rounds, warmup = ROUNDS[workload], WARMUP_ROUNDS[workload]
    if traced:
        rounds += -rounds % 4
    spec = {"rounds": rounds, "warmup_rounds": warmup, "data_dir": sf_dir}
    if workload == "analyst_mix":
        keys = flat(ANALYST_KEYS)
        _check_keys(keys, catalog)
        spec.update(keys=keys, round=len(keys),
                    schedule=gen.query_schedule(keys, seed, warmup + rounds),
                    vec_dot={"path": os.path.join(data_root, "sf0.1", "embeddings.parquet"),
                             "left": VEC_DOT_PAIRS[0], "right": VEC_DOT_PAIRS[1]})
        return spec, {"data_dir": sf_dir, "keys": keys}, {"data": SCALE[workload],
                                                          "keys": len(keys)}
    inputs = os.path.join(work, "churn")
    part, schedule, expect, written, desc = gen.churn_inputs(
        sf_dir, warm_dir, seed, inputs, (warmup + rounds) * len(gen.CHURN_CYCLE))
    part["scratch"] = os.path.join(work, "plain")
    spec.update(keys=[], round=len(gen.CHURN_CYCLE), schedule=schedule, churn=part,
                warm=part["warm"], warehouse=os.path.join(work, "warehouse"))
    return spec, {"expect": expect, "written": written}, desc
