"""Seeded inputs for the HTTP workloads: tables, query texts, operation
plans and their expected answers.

Everything here is a pure function of the seed. Expected answers come from
DuckDB over the same generated tables, with an explicit ingest-order column
(`rid`) standing in for the dialect's row order, and are computed before
any server starts.
"""
import io
import json
import math
import random

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv

COLUMNS = ["id", "qty", "delta", "price", "ratio", "score",
           "name", "city", "kind", "tier"]
KINDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
TYPES_HEADER = "kind=enum;tier=enum"

READ_HOT_DATASETS = 4
READ_HOT_ROWS = 200_000
# share of requests per query shape (read_hot)
READ_HOT_MIX = [("count", 20), ("distinct", 20), ("grouped", 15),
                ("page", 15), ("in", 10), ("like", 10), ("dump", 10)]
# response encodings asked for (read_hot): 20% gzip, 10% lz4, except that
# lz4 is never asked of the ~5k-row dump, whose client-side pure-Python
# decode would load the client

WARM_ROWS = 5_000                  # rows of the set-up's priming datasets

CHURN_MIN_ROWS, CHURN_MAX_ROWS = 1_000, 100_000
CHURN_STEPS = 10                   # stores per cycle
CHURN_BUDGET = 6_000_000           # server --size for churn, bytes
CHURN_EVICTING_STEPS = 3           # stores per cycle that must overflow
CHURN_ORDER = [5, 9, 0, 7, 2, 8, 4, 1, 6, 3]   # store order, by size rank
CHURN_UPDATE_EVERY = 3
# Planning-side bounds on a cached dataset's in-memory bytes per row; the
# measured size is ~85 for this column family (CSV-typed, 200k rows).
PLAN_BYTES_PER_ROW_LOW, PLAN_BYTES_PER_ROW_HIGH = 70, 120


_VOCAB = {}


def _padded(r, rows, prefix, hi, width):
    """`rows` seeded draws from the strings prefix + zero-padded 0..hi-1."""
    key = (prefix, hi, width)
    if key not in _VOCAB:
        _VOCAB[key] = np.array([f"{prefix}{i:0{width}d}" for i in range(hi)],
                               dtype=object)
    return _VOCAB[key][r.integers(0, hi, rows)]


def make_table(rows, seed):
    """One dataset of the shared 10-column int/float/string/enum family."""
    r = np.random.default_rng(seed)

    def padded(prefix, hi, width):
        return _padded(r, rows, prefix, hi, width)
    return pd.DataFrame({
        "id": np.arange(rows, dtype=np.int64),
        "qty": r.integers(0, 1000, rows),
        "delta": r.integers(-5000, 5001, rows),
        "price": np.round(r.uniform(0, 1000, rows), 2),
        "ratio": np.round(r.uniform(0, 1, rows), 4),
        "score": np.round(r.normal(50, 15, rows), 3),
        "name": padded("n", 50000, 5),
        "city": padded("city_", 200, 3),
        "kind": np.array(KINDS, dtype=object)[r.integers(0, len(KINDS), rows)],
        "tier": padded("t", 20, 2),
    })


def csv_body(df):
    """Header line, then unquoted rows (integral floats print without a
    fraction, which the server still infers as a float column)."""
    out = io.BytesIO()
    out.write((",".join(df.columns) + "\n").encode())
    pacsv.write_csv(pa.Table.from_pandas(df, preserve_index=False), out,
                    pacsv.WriteOptions(include_header=False, quoting_style="none"))
    return out.getvalue()


def json_body(df):
    return df.to_json(orient="records").encode()


# --- query shapes: (qcache query, DuckDB SQL over table `t`) -------------

def _sql_list(values):
    return ", ".join(f"'{v}'" for v in values)


def shape(kind, r):
    """A query of the given shape with seeded parameters, as
    (query dict, SQL, ordered output columns)."""
    if kind == "count":
        t = r.randrange(20, 900)
        return ({"select": [["count"]], "where": ["<", "qty", t]},
                f"SELECT count(*) AS count FROM t WHERE qty < {t}", ["count"])
    if kind == "distinct":
        p = round(r.uniform(100, 900), 1)
        lim = r.choice([10, 25, 50])
        cols = ["city", "kind", "price"]
        return ({"select": cols, "distinct": ["city", "kind"],
                 "where": [">", "price", p], "limit": lim},
                f"SELECT {', '.join(cols)} FROM (SELECT *, row_number() OVER "
                f"(PARTITION BY city, kind ORDER BY rid) AS rn FROM t "
                f"WHERE price > {p}) WHERE rn = 1 ORDER BY rid LIMIT {lim}", cols)
    if kind == "grouped":
        key = r.choice(["kind", "tier"])
        q = r.randrange(0, 500)
        return ({"select": [key, ["sum", "price"], ["mean", "score"]],
                 "group_by": [key], "where": [">", "qty", q]},
                f"SELECT {key}, sum(price) AS price, avg(score) AS score "
                f"FROM t WHERE qty > {q} GROUP BY {key} ORDER BY {key}",
                [key, "price", "score"])
    if kind == "page":
        off = r.randrange(0, 5000)
        return ({"order_by": ["-price", "id"], "offset": off, "limit": 50},
                f"SELECT {', '.join(COLUMNS)} FROM t "
                f"ORDER BY price DESC, id ASC LIMIT 50 OFFSET {off}", COLUMNS)
    if kind == "in":
        tiers = sorted(r.sample([f"t{i:02d}" for i in range(20)], 3))
        cols = ["id", "tier", "qty"]
        return ({"select": cols, "where": ["in", "tier", tiers], "limit": 100},
                f"SELECT {', '.join(cols)} FROM t WHERE tier IN "
                f"({_sql_list(tiers)}) ORDER BY rid LIMIT 100", cols)
    if kind == "like":
        prefix = f"n{r.randrange(0, 500):03d}"
        cols = ["id", "name", "price"]
        return ({"select": cols, "where": ["like", "name", f"'{prefix}%'"]},
                f"SELECT {', '.join(cols)} FROM t WHERE name LIKE '{prefix}%' "
                f"ORDER BY rid", cols)
    if kind == "dump":
        lo = r.randrange(0, 975)
        cols = ["id", "price", "name", "kind"]
        return ({"select": cols, "where": ["&", [">=", "qty", lo],
                                           ["<", "qty", lo + 25]]},
                f"SELECT {', '.join(cols)} FROM t WHERE qty >= {lo} AND "
                f"qty < {lo + 25} ORDER BY rid", cols)
    raise ValueError(kind)


def update_stmt(r):
    """A churn update: (qcache update query, DuckDB UPDATE over `t`)."""
    q = r.randrange(5, 200)
    v = round(r.uniform(0, 10), 2)
    return ({"update": [["price", v]], "where": ["<", "qty", q]},
            f"UPDATE t SET price = {v} WHERE qty < {q}")


def _text(q):
    return json.dumps(q, separators=(",", ":"))


def _answer(con, sql, cols):
    rows = con.execute(sql).fetchall()
    return {"columns": cols, "rows": [list(x) for x in rows]}


def _register(con, df, table=False):
    """Expose `df` as `t` with its ingest order as `rid`: a view over the
    frame, or with `table` an updatable copy."""
    kind = con.execute("SELECT table_type FROM information_schema.tables "
                       "WHERE table_name = 't'").fetchall()
    if kind:
        con.execute("DROP VIEW t" if kind[0][0] == "VIEW" else "DROP TABLE t")
    frame = df.assign(rid=np.arange(len(df), dtype=np.int64))
    if not table:
        con.register("t", frame)
        return
    con.register("frame", frame)
    con.execute("CREATE TABLE t AS SELECT * FROM frame")
    con.unregister("frame")


# --- read_hot -------------------------------------------------------------

def read_hot_plan(seed):
    """Datasets, the fixed pool of query texts (7 shapes per dataset) and
    their expected answers."""
    r = random.Random(f"read_hot/{seed}")
    con = duckdb.connect()
    datasets, pool = [], []
    for d in range(READ_HOT_DATASETS):
        key = f"hot{d}"
        df = make_table(READ_HOT_ROWS, r.randrange(2**32))
        datasets.append({"key": key, "df": df})
        _register(con, df)
        for kind, weight in READ_HOT_MIX:
            q, sql, cols = shape(kind, r)
            pool.append({"key": key, "shape": kind, "weight": weight,
                         "text": _text(q), "expect": _answer(con, sql, cols)})
    con.close()
    return {"datasets": datasets, "pool": pool}


def client_stream(seed, client, pool):
    """Endless seeded stream of (pool index, accept-encoding) for one
    read_hot client: shuffled passes over a deck that holds every pool
    text in proportion to its shape's weight, so a window of a deck's
    length sees the stated mix exactly."""
    r = random.Random(f"read_hot/{seed}/client/{client}")
    deck = [i for i, p in enumerate(pool) for _ in range(p["weight"] // 5)]
    encoded = []
    for j, i in enumerate(deck):
        slot = j % 10                     # 2 in 10 gzip, 1 in 10 lz4
        enc = "gzip" if slot < 2 else ("lz4" if slot == 2 else None)
        if enc == "lz4" and pool[i]["shape"] == "dump":
            enc = None
        encoded.append((i, enc))
    while True:
        r.shuffle(encoded)
        yield from encoded


# --- churn ----------------------------------------------------------------

class _LruModel:
    """The server's byte-budget LRU under a per-row size model: store
    reserves the body estimate first, evicting least-recently-used keys."""

    def __init__(self, budget, bytes_per_row):
        self.budget, self.bpr = budget, bytes_per_row
        self.keys = []                    # least recently used first
        self.size = {}

    def store(self, key, rows, reserve):
        """Returns the number of keys this store evicts."""
        evicted = 0
        while self.keys and self.budget - sum(self.size.values()) < reserve:
            self.size.pop(self.keys.pop(0))
            evicted += 1
        self.keys.append(key)
        self.size[key] = rows * self.bpr + 100
        return evicted

    def touch(self, key):
        self.keys.remove(key)
        self.keys.append(key)


def churn_steps():
    """The cycle's stores as (rows, format, encoding), the same for every
    seed: sizes at the CHURN_STEPS quantiles of a log-uniform 1k-100k
    distribution, CSV and JSON alternating by size rank, 3 in 10 bodies
    gzip- and 2 in 10 LZ4-encoded across both formats, in CHURN_ORDER.
    The seed draws the tables' values, the query constants and the
    updates; a seeded store order would add its own run-to-run spread."""
    lo, hi = math.log(CHURN_MIN_ROWS), math.log(CHURN_MAX_ROWS)
    steps = []
    for k in range(CHURN_STEPS):
        rows = int(round(math.exp(lo + (hi - lo) * (k + 0.5) / CHURN_STEPS)))
        enc = "gzip" if k % 8 in (1, 4) else ("lz4" if k % 8 in (2, 7) else None)
        steps.append((rows, "csv" if k % 2 == 0 else "json", enc))
    return [steps[k] for k in CHURN_ORDER]


def churn_plan(seed):
    """One cycle of the churn stream: a seeded, fixed sequence of
    store / query / update operations with expected answers. Keys are
    relative (`s<step>`); each timed cycle prefixes them.

    Two size models bracket the server's cache: the key the plan queries
    besides the fresh one must be resident under the LARGE model, and the
    SMALL model must overflow the budget on at least CHURN_EVICTING_STEPS
    stores, so the real server evicts at least that often."""
    r = random.Random(f"churn/{seed}")
    q_new = [shape("distinct", r), shape("grouped", r)]
    q_prev = shape("distinct", r)
    q_check = q_new[1]                    # re-read after an update
    steps = churn_steps()
    small = _LruModel(CHURN_BUDGET, PLAN_BYTES_PER_ROW_LOW)
    large = _LruModel(CHURN_BUDGET, PLAN_BYTES_PER_ROW_HIGH)
    con = duckdb.connect()
    tables = {}                           # key -> df (post-update state)
    ops, overflows = [], 0
    for step, (rows, fmt, enc) in enumerate(steps):
        key = f"s{step}"
        df = make_table(rows, r.randrange(2**32))
        body = csv_body(df) if fmt == "csv" else json_body(df)
        # the server reserves the body size (JSON: half) before it parses
        reserve = len(body) if fmt == "csv" else len(body) // 2
        overflows += small.store(key, rows, reserve) > 0
        large.store(key, rows, reserve)
        ops.append({"op": "store", "key": key, "fmt": fmt, "enc": enc,
                    "rows": rows, "body": body})
        tables[key] = df
        _register(con, df)
        for q, sql, cols in q_new:
            ops.append({"op": "query", "key": key, "text": _text(q),
                        "expect": _answer(con, sql, cols)})
        keys = large.keys
        prev = keys[-2] if len(keys) > 1 and keys[-2] in small.size else None
        if prev is not None:
            _register(con, tables[prev])
            q, sql, cols = q_prev
            ops.append({"op": "query", "key": prev, "text": _text(q),
                        "expect": _answer(con, sql, cols)})
            small.touch(prev)
            large.touch(prev)
        if step % CHURN_UPDATE_EVERY == CHURN_UPDATE_EVERY - 1:
            target = prev if prev is not None else key
            _register(con, tables[target], table=True)
            uq, usql = update_stmt(r)
            con.execute(usql)
            tables[target] = con.execute(
                f"SELECT {', '.join(COLUMNS)} FROM t ORDER BY rid").df()
            q, sql, cols = q_check
            ops.append({"op": "update", "key": target, "text": _text(uq)})
            ops.append({"op": "query", "key": target, "text": _text(q),
                        "expect": _answer(con, sql, cols)})
            small.touch(target)
            large.touch(target)
    con.close()
    assert overflows >= CHURN_EVICTING_STEPS, overflows
    return {"ops": ops, "steps": len(steps), "budget": CHURN_BUDGET}


def warmup_ops(seed, texts, update_text):
    """Churn's set-up: a small dataset stored as gzip CSV and as LZ4 JSON,
    each queried with every text, updated and deleted, so both ingest
    paths, both codecs and every query shape are warm before the window."""
    df = make_table(WARM_ROWS, seed)
    ops = []
    for key, fmt, enc in (("warm0", "csv", "gzip"), ("warm1", "json", "lz4")):
        body = csv_body(df) if fmt == "csv" else json_body(df)
        ops.append({"op": "store", "key": key, "fmt": fmt, "enc": enc, "body": body})
        ops += [{"op": "query", "key": key, "text": t} for t in texts]
        ops.append({"op": "update", "key": key, "text": update_text})
        ops.append({"op": "delete", "key": key})
    return ops


def prime_ops(seed):
    """read_hot's priming store: a small dataset stored and deleted before
    the measured stores, so the JVM's cold start does not land on them."""
    body = csv_body(make_table(WARM_ROWS, seed))
    return [{"op": "store", "key": "prime", "fmt": "csv", "enc": None, "body": body},
            {"op": "delete", "key": "prime"}]


def corrupt(expect):
    """Negative control: the same expected answer with one value changed."""
    rows = [list(x) for x in expect["rows"]]
    if rows:
        v = rows[0][-1]
        rows[0][-1] = (v + 1) if isinstance(v, (int, float)) else f"{v}~"
    else:
        rows = [[None] * len(expect["columns"])]
    return {"columns": expect["columns"], "rows": rows}
