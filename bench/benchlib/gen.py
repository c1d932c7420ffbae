"""Seeded input generation. The same seed gives byte-identical files.

Nothing here runs inside the measured program: `run.py` generates the
inputs before it starts the JVM, and the JVM only receives the files and
the schedule written here.
"""
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# --- table_churn -----------------------------------------------------------
CHURN_SEED_ROWS = 60000
CHURN_INSERT_ROWS = 2000
CHURN_MERGE_ROWS = 1000      # half existing ids, half new ids
CHURN_DELETE_IDS = 400
CHURN_UPDATE_IDS = 400
CHURN_POINT_IDS = 50
CHURN_ASOF_BACK = 4          # time travel reads one of the last 4 versions
CHURN_CYCLE = ["insert", "read_head", "delete", "read_point", "update",
               "read_asof", "merge", "read_point", "read_head", "read_asof",
               "read_point", "compact"]
WARM_SEED_ROWS = 2000

CHURN_SCHEMA = pa.schema([("id", pa.int64()), ("okey", pa.int64()),
                          ("part", pa.int64()), ("qty", pa.int64()),
                          ("price_c", pa.int64()), ("flag", pa.string())])


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=False,
                   write_statistics=True)


def query_schedule(keys, seed, rounds):
    """`rounds` seeded permutations of `keys`: every key equally often."""
    rng = random.Random(seed)
    out = []
    for _ in range(rounds):
        p = sorted(keys)
        rng.shuffle(p)
        out.extend({"kind": "query", "key": k} for k in p)
    return out


# --- table_churn -----------------------------------------------------------

def _lineitem_rows(sf_dir, start=0, count=None):
    """`count` lineitem rows from row `start` on, wrapping around, as
    (okey, part, qty, price_c, flag) tuples."""
    t = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"),
                      columns=["l_orderkey", "l_partkey", "l_quantity",
                               "l_extendedprice", "l_returnflag"])
    n = t.num_rows
    count = n if count is None else count
    start %= n
    parts = []
    while count > 0:
        s = t.slice(start, min(count, n - start))
        parts.append(s)
        count -= s.num_rows
        start = 0
    d = pa.concat_tables(parts).to_pydict()
    return list(zip(d["l_orderkey"], d["l_partkey"],
                    (int(q) for q in d["l_quantity"]),
                    (int(round(p * 100)) for p in d["l_extendedprice"]),
                    d["l_returnflag"]))


def _rows_table(ids, src):
    cols = list(zip(*src)) if src else [[]] * 5
    return pa.table({"id": pa.array(ids, pa.int64()),
                     "okey": pa.array(cols[0], pa.int64()),
                     "part": pa.array(cols[1], pa.int64()),
                     "qty": pa.array(cols[2], pa.int64()),
                     "price_c": pa.array(cols[3], pa.int64()),
                     "flag": pa.array(cols[4], pa.string())}, schema=CHURN_SCHEMA)


class ChurnModel:
    """In-memory model of the table's live rows: id -> (qty, price_c)."""

    def __init__(self):
        self.rows = {}
        self.total = 0
        self.history = []        # (count, sum) after each write

    def put(self, i, qty, price):
        old = self.rows.get(i)
        if old is not None:
            self.total -= old[1]
        self.rows[i] = (qty, price)
        self.total += price

    def delete(self, lo, hi):
        for i in range(lo, hi + 1):
            old = self.rows.pop(i, None)
            if old is not None:
                self.total -= old[1]

    def commit(self):
        self.history.append((len(self.rows), self.total))

    def answer(self, count, total):
        return f"{count}:{total if count else 'null'}"

    def head(self):
        return self.answer(len(self.rows), self.total)

    def point(self, lo, hi):
        hit = [self.rows[i][1] for i in range(lo, hi + 1) if i in self.rows]
        return self.answer(len(hit), sum(hit))


def churn_inputs(sf_dir, warm_dir, seed, out, max_ops):
    """Write the table_churn inputs to `out`. Return (spec part, schedule,
    expected answers by op index, rows written by op index, description)."""
    os.makedirs(out, exist_ok=True)
    rng = random.Random(seed)
    cycles = -(-max_ops // len(CHURN_CYCLE))
    need = CHURN_SEED_ROWS + cycles * (
        CHURN_CYCLE.count("insert") * CHURN_INSERT_ROWS +
        CHURN_CYCLE.count("merge") * CHURN_MERGE_ROWS)
    n_li = pq.ParquetFile(os.path.join(sf_dir, "lineitem.parquet")).metadata.num_rows
    src = _lineitem_rows(sf_dir, rng.randrange(n_li), min(need, n_li))
    cursor = 0

    def take(n):
        nonlocal cursor
        got = [src[(cursor + k) % len(src)] for k in range(n)]
        cursor += n
        return got

    model = ChurnModel()
    seed_rows = take(CHURN_SEED_ROWS)
    _write(_rows_table(list(range(CHURN_SEED_ROWS)), seed_rows),
           os.path.join(out, "seed.parquet"))
    for i, r in enumerate(seed_rows):
        model.put(i, r[2], r[3])
    model.commit()
    next_id = CHURN_SEED_ROWS
    schedule, expect, written = [], {}, {}
    for i in range(max_ops):
        kind = CHURN_CYCLE[i % len(CHURN_CYCLE)]
        op = {"kind": kind}
        if kind == "insert":
            rows = take(CHURN_INSERT_ROWS)
            ids = list(range(next_id, next_id + len(rows)))
            next_id += len(rows)
            f = os.path.join(out, f"insert_{i:04d}.parquet")
            _write(_rows_table(ids, rows), f)
            op["file"] = f
            for k, r in zip(ids, rows):
                model.put(k, r[2], r[3])
            written[i] = len(rows)
        elif kind == "merge":
            half = CHURN_MERGE_ROWS // 2
            old = sorted(rng.sample(range(next_id), half))
            new = list(range(next_id, next_id + half))
            next_id += half
            rows = take(CHURN_MERGE_ROWS)
            f = os.path.join(out, f"merge_{i:04d}.parquet")
            _write(_rows_table(old + new, rows), f)
            op["file"] = f
            for k, r in zip(old + new, rows):
                model.put(k, r[2], r[3])
            written[i] = len(rows)
        elif kind in ("delete", "update"):
            width = CHURN_DELETE_IDS if kind == "delete" else CHURN_UPDATE_IDS
            lo = rng.randrange(next_id - width)
            op["lo"], op["hi"] = lo, lo + width - 1
            if kind == "delete":
                model.delete(lo, lo + width - 1)
                written[i] = 0
            else:
                hit = [k for k in range(lo, lo + width) if k in model.rows]
                for k in hit:
                    q, p = model.rows[k]
                    model.put(k, q + 1, p + 7)
                written[i] = len(hit)
        elif kind == "compact":
            written[i] = 0
        elif kind == "read_head":
            expect[i] = model.head()
        elif kind == "read_point":
            lo = rng.randrange(next_id - CHURN_POINT_IDS)
            op["lo"], op["hi"] = lo, lo + CHURN_POINT_IDS - 1
            expect[i] = model.point(lo, lo + CHURN_POINT_IDS - 1)
        elif kind == "read_asof":
            # one of the last few versions before the head
            back = rng.randint(1, min(CHURN_ASOF_BACK, len(model.history) - 1) or 1)
            j = max(0, len(model.history) - 1 - back)
            op["at_write"] = j
            expect[i] = model.answer(*model.history[j])
        if kind in ("insert", "merge", "delete", "update", "compact"):
            model.commit()
        schedule.append(op)
    # the warm table: every statement kind once on a small slice of sf0.001
    wsrc = _lineitem_rows(warm_dir, 0, WARM_SEED_ROWS + CHURN_MERGE_ROWS)
    wseed = os.path.join(out, "warm_seed.parquet")
    _write(_rows_table(list(range(WARM_SEED_ROWS)), wsrc[:WARM_SEED_ROWS]), wseed)
    wbatch = os.path.join(out, "warm_batch.parquet")
    _write(_rows_table(list(range(WARM_SEED_ROWS - CHURN_MERGE_ROWS // 2,
                                  WARM_SEED_ROWS + CHURN_MERGE_ROWS // 2)),
                       wsrc[WARM_SEED_ROWS:]), wbatch)
    warm_ops = [{"kind": "insert", "file": wbatch},
                {"kind": "delete", "lo": 0, "hi": 99},
                {"kind": "update", "lo": 100, "hi": 199},
                {"kind": "merge", "file": wbatch},
                {"kind": "read_head"}, {"kind": "read_point", "lo": 300, "hi": 349},
                {"kind": "read_asof", "at_write": 0},
                {"kind": "compact"}]
    desc = {"seed_rows": CHURN_SEED_ROWS, "insert_rows": CHURN_INSERT_ROWS,
            "merge_rows": CHURN_MERGE_ROWS, "delete_ids": CHURN_DELETE_IDS,
            "update_ids": CHURN_UPDATE_IDS, "point_ids": CHURN_POINT_IDS,
            "cycle": CHURN_CYCLE, "compact_every": len(CHURN_CYCLE)}
    spec = {"seed": os.path.join(out, "seed.parquet"),
            "warm": {"seed": wseed, "ops": warm_ops}}
    return spec, schedule, expect, written, desc
