"""Seeded inputs for the benchmark.

Everything the program sees is made here from the workload seed: the
parquet tables (the column set and arrow types of the repository's
TPC-H-style fixtures, see FIXTURES.md), the radb/SQL query pairs of
`ra_doors` and, for `contract_store_stream`, the contract sample, the
document slices and probe batches of the stored-artifact round trips and
the stream input files.
The same seed gives byte-identical tables and an identical plan; no
input is read from outside the checkout.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMB_DIM = 64
EMB_LABELS = 10

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
TPCH = TABLES[:7]


def _rng(seed, *salt):
    return np.random.default_rng([seed, *salt])


def _days(rng, n, start, end):
    """Midnight timestamps (microseconds) uniform on [start, end]."""
    d0 = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - d0).astype(int) + 1
    return (d0 + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf, seed):
    """All ten tables at scale factor `sf` as {name: pyarrow.Table}."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": pa.array(REGIONS, s)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array(_rng(seed, 1).permutation(
            np.arange(25) % 5), i32)})

    r = _rng(seed, 2)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(r, n_cust, -999.99, 9999.99), f64),
        "c_mktsegment": pa.array(r.choice(SEGMENTS, n_cust), s)})

    r = _rng(seed, 3)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(r, n_supp, -999.99, 9999.99), f64)})

    r = _rng(seed, 4)
    names = np.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(r.choice(names, n_part), s),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             r.integers(1, 26, n_part)], s),
        "p_type": pa.array(r.choice(P_TYPES, n_part), s),
        "p_size": pa.array(r.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(
            900.0 + (np.arange(n_part) % 1000) / 10.0, f64)})

    r = _rng(seed, 5)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(r.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_money(r, n_ord, 1000, 500000), f64),
        "o_orderdate": pa.array(_days(r, n_ord, "1995-01-01", "2001-08-01"),
                                ts),
        "o_orderpriority": pa.array(r.choice(PRIORITIES, n_ord), s)})

    r = _rng(seed, 6)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(_money(r, n_line, 900, 105000), f64),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(r.choice(["F", "O"], n_line), s),
        "l_shipdate": pa.array(_days(r, n_line, "1995-01-02", "2001-11-04"),
                               ts)})

    out["events"] = events(n_evt, seed, 7, users=max(1, int(15_000 * sf)))
    out["documents"] = documents(n_doc, seed, 8)

    r = _rng(seed, 9)
    centers = r.normal(0, 1, (EMB_LABELS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = r.integers(0, EMB_LABELS, n_emb)
    v = 0.14 * centers[label] + r.normal(0, 0.125, (n_emb, EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(v.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(label, i32)})
    return out


def events(n, seed, salt, users, id0=0):
    """`n` events over January 2024, ascending in time."""
    r = _rng(seed, salt)
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    return pa.table({
        "event_id": pa.array(np.arange(id0, id0 + n), pa.int64()),
        "ts": pa.array(np.sort(t0 + r.integers(0, span, n))
                       .astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, users, n), pa.int64()),
        "event_type": pa.array(r.choice(EVENT_TYPES, n), pa.string()),
        "value": pa.array(np.maximum(0.01, np.round(
            r.exponential(50.0, n), 2)), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
                          pa.string())})


def documents(n, seed, salt, id0=0, reach=None):
    """`n` documents of 10-99 words; about 5% are near-duplicates of an
    earlier document (its text plus " dup") and a few are exact copies.
    With `reach`, copies only take an original at most `reach` documents
    back, so every pair of equal texts lies close together in time."""
    r = _rng(seed, salt)
    lens = r.integers(10, 100, n)
    words = r.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB)
    texts, pos = [], 0
    for i, ln in enumerate(lens):
        texts.append(" ".join(vocab[words[pos:pos + ln]]))
        pos += ln
    kind = r.random(n)
    src = r.integers(0, max(1, n), n)
    original = [True] * n
    for i in range(1, n):
        j = int(src[i] % i) if reach is None else max(0, i - 1 - int(src[i] % reach))
        if not original[j]:
            continue
        if kind[i] < 0.05:
            texts[i] = texts[j] + " dup"
        elif kind[i] < 0.07:
            texts[i] = texts[j]
        else:
            continue
        original[i] = False
    return pa.table({
        "doc_id": pa.array(np.arange(id0, id0 + n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(r.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{k}" for k in r.integers(0, 20, n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def write_tables(out_dir, sf, seed, names=TABLES):
    """Write the tables to `<out_dir>/<name>.parquet` (one file each)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf, seed).items():
        if name in names:
            pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# ───────────────────────────── ra_doors ──────────────────────────────────

# (relation, key attributes, other projectable attributes, predicates).
# Predicates are (sql, radb) pairs over the relation's own columns; radb
# compares with the same operators, so both doors state the same query.
# Timestamp columns are left out of every projection so the DuckDB check
# never compares time zones.
_RA_RELS = {
    "customer": (["c_custkey"], ["c_name", "c_nationkey", "c_mktsegment",
                                 "c_acctbal"]),
    "orders": (["o_orderkey"], ["o_custkey", "o_orderstatus",
                                "o_orderpriority", "o_totalprice"]),
    "part": (["p_partkey"], ["p_name", "p_brand", "p_type", "p_size"]),
    "supplier": (["s_suppkey"], ["s_name", "s_nationkey"]),
    "lineitem": (["l_orderkey", "l_linenumber"],
                 ["l_partkey", "l_suppkey", "l_quantity", "l_returnflag",
                  "l_linestatus", "l_discount"]),
}


def _pred(rel, r, kind):
    """One selective comparison on `rel` with a seeded constant. Every
    constant of a predicate kind selects the same share of the uniform
    generated column (at most a few percent of the rows), so results
    stay small, a query's time goes to the doors, the planner and job
    scheduling rather than to moving rows, and the seed does not change
    the amount of work. Both grammars share `=`, `<`, `>=` and quoting,
    so the text serves the SQL and the radb door alike."""
    return {
        "customer": [lambda: f"c_nationkey = {r.integers(0, 25)}",
                     lambda: f"c_acctbal >= {r.integers(9450, 9550)}"],
        "orders": [lambda: f"o_custkey = {r.integers(0, 1500)}",
                   lambda: f"o_totalprice < {r.integers(10000, 11000)}"],
        "part": [lambda: f"p_size = {r.integers(1, 51)}",
                 lambda: f"p_brand = 'Brand#{r.integers(1, 26)}'"],
        "supplier": [lambda: f"s_nationkey = {r.integers(0, 25)}",
                     lambda: f"s_acctbal >= {r.integers(8950, 9050)}"],
        "lineitem": [lambda: f"l_partkey = {r.integers(0, 2000)}",
                     lambda: f"l_suppkey = {r.integers(0, 100)}"],
    }[rel][kind]()


def _cols(rel, s, k):
    keys, rest = _RA_RELS[rel]
    pick = list(s.choice(rest, size=min(k, len(rest)), replace=False))
    return keys[:1] + pick


# Join edges of the dd schema: (left, right, left attr, right attr).
_EDGES = [("customer", "orders", "c_custkey", "o_custkey"),
          ("orders", "lineitem", "o_orderkey", "l_orderkey"),
          ("part", "lineitem", "p_partkey", "l_partkey"),
          ("supplier", "lineitem", "s_suppkey", "l_suppkey"),
          ("customer", "nation", "c_nationkey", "n_nationkey"),
          ("supplier", "nation", "s_nationkey", "n_nationkey")]

# Query shapes in a fixed rotation, so every seed issues the same mix.
RA_SHAPES = ["select", "select_and", "join", "join_select", "rename",
             "cross", "join3"]


def ra_query(shape, r, s):
    """One query as {"shape", "sql", "ra"}: an SQL text for the SQL door
    (and the DuckDB check) and the same query in radb text. The
    structure (relations, join edge, predicate kinds, columns) comes
    from `s`, the same for every seed; the constants come from `r`."""
    if shape in ("select", "select_and", "rename"):
        rel = str(s.choice(list(_RA_RELS)))
        preds = ([_pred(rel, r, 0), _pred(rel, r, 1)]
                 if shape == "select_and" else [_pred(rel, r, s.integers(0, 2))])
        cols = _cols(rel, s, 2)
        where = " AND ".join(preds)
        if shape == "rename":
            alias = "t"
            ra = (f"\\project_{{{', '.join(f'{alias}.{c}' for c in cols)}}} "
                  f"\\select_{{{' and '.join(f'{alias}.{p}' for p in preds)}}} "
                  f"\\rename_{{{alias}: *}} {rel}")
            sql = (f"SELECT DISTINCT {', '.join(f'{alias}.{c}' for c in cols)} "
                   f"FROM {rel} {alias} WHERE "
                   f"{' AND '.join(f'{alias}.{p}' for p in preds)}")
            return {"shape": shape, "sql": sql, "ra": ra}
        ra = (f"\\project_{{{', '.join(cols)}}} "
              f"\\select_{{{' and '.join(preds)}}} {rel}")
        sql = f"SELECT DISTINCT {', '.join(cols)} FROM {rel} WHERE {where}"
        return {"shape": shape, "sql": sql, "ra": ra}
    if shape in ("join", "join_select"):
        left, right, la, ra_ = _EDGES[s.integers(0, len(_EDGES))]
        cols = [la] + ([_cols(left, s, 1)[-1]] if left in _RA_RELS else []) \
            + ([_cols(right, s, 1)[-1]] if right in _RA_RELS else ["n_name"])
        cols = list(dict.fromkeys(cols))
        # "join" filters its left input, "join_select" filters the join
        preds = [_pred(left, r, s.integers(0, 2))]
        if shape == "join":
            body = (f"\\select_{{{preds[0]}}} {left} "
                    f"\\join_{{{la} = {ra_}}} {right}")
        else:
            body = (f"\\select_{{{preds[0]}}} "
                    f"({left} \\join_{{{la} = {ra_}}} {right})")
        ra = f"\\project_{{{', '.join(cols)}}} ({body})"
        where = " AND ".join([f"{la} = {ra_}"] + preds)
        sql = (f"SELECT DISTINCT {', '.join(cols)} FROM {left}, {right} "
               f"WHERE {where}")
        return {"shape": shape, "sql": sql, "ra": ra}
    if shape == "cross":
        k = r.integers(0, 5)
        ra = (f"\\project_{{r_name, n_name}} \\select_{{n_regionkey = {k}}} "
              f"(region \\cross nation)")
        sql = ("SELECT DISTINCT r_name, n_name FROM region, nation "
               f"WHERE n_regionkey = {k}")
        return {"shape": shape, "sql": sql, "ra": ra}
    # join3: customer ⨝ orders ⨝ lineitem with a seeded filter on each end
    pc = _pred("customer", r, s.integers(0, 2))
    pl = _pred("lineitem", r, s.integers(0, 2))
    ra = ("\\project_{c_name, o_orderkey, l_linenumber} "
          f"(\\select_{{{pc}}} customer \\join_{{c_custkey = o_custkey}} "
          f"orders \\join_{{o_orderkey = l_orderkey}} \\select_{{{pl}}} "
          "lineitem)")
    sql = ("SELECT DISTINCT c_name, o_orderkey, l_linenumber "
           "FROM customer, orders, lineitem WHERE c_custkey = o_custkey "
           f"AND o_orderkey = l_orderkey AND {pc} AND {pl}")
    return {"shape": shape, "sql": sql, "ra": ra}


def ra_plan(seed, n=len(RA_SHAPES)):
    """One query of each shape. Each pass repeats them, so their plans'
    generated classes (about 3.5 per door call) stay within Spark's
    codegen cache of 100 entries with room to spare: at 14 queries the
    run sat on the edge of that cache, and whether a seed's classes fit
    moved its p50 by 17%."""
    r, s = _rng(seed, 100), _rng(0, 101)
    return [dict(ra_query(RA_SHAPES[i % len(RA_SHAPES)], r, s), id=f"ra{i:02d}")
            for i in range(n)]


# ──────────────────── contract_store_stream: contract ─────────────────────

def contract_sample(seed, pairs):
    """One query of each matched pair, chosen by the seed. Each pair holds
    two queries of one family (analytic or pipeline) with a similar cost
    at sf0.1, so every sample has the same size, the same family share
    and nearly the same total cost while its membership varies."""
    r = _rng(seed, 200)
    picked = [p[int(r.integers(0, 2))] for p in pairs]
    return [str(q) for q in r.permutation(picked)]


# ───────────────────── contract_store_stream: store ──────────────────────

def store_plan(seed, n_docs, cycles=64, slice_docs=400, batch=16):
    """Per cycle: a doc-id window of the sf0.1 documents and a probe
    batch, half drawn from inside the window (so every answer has hits)
    and half from the whole corpus."""
    r = _rng(seed, 300)
    out = []
    for c in range(cycles):
        d0 = int(r.integers(0, n_docs - slice_docs))
        out.append({
            "cycle": c, "doc_lo": d0, "doc_hi": d0 + slice_docs,
            "probe_docs": sorted({int(x) for x in np.concatenate([
                r.integers(d0, d0 + slice_docs, batch // 2),
                r.integers(0, n_docs, batch // 2)])})})
    return out


# ───────────────────── contract_store_stream: stream ─────────────────────

STREAM_FILES = 2
STREAM_EVENTS_PER_FILE = 4000
STREAM_DOCS_PER_FILE = 400


STREAM_USERS = 600
STREAM_WARM_FILES = 1


def write_stream_inputs(out_dir, seed):
    """Fixed-size stream input: STREAM_FILES event files and as many
    document files, each one micro-batch under maxFilesPerTrigger=1, plus
    a short warm-up copy of their first files.

    The stream and its batch twin must give the same answer, so the
    input avoids the two places where they may differ. The last event
    file ends with one event per user a day after all others: it closes
    every open session by its gap in both, so no answer depends on the
    event-time timeout. Equal document texts lie at most 50 documents
    (150 s of event time) apart, inside cleanStream's 10-minute dedup
    watermark, so the stream drops the same duplicates the batch does."""
    n_ev = STREAM_FILES * STREAM_EVENTS_PER_FILE
    ev = events(n_ev - STREAM_USERS, seed, 400, users=STREAM_USERS)
    flush_ts = np.datetime64("2024-02-01", "us")
    flush = pa.table({
        "event_id": pa.array(np.arange(n_ev - STREAM_USERS, n_ev),
                             pa.int64()),
        "ts": pa.array(np.full(STREAM_USERS, flush_ts), pa.timestamp("us")),
        "user_id": pa.array(np.arange(STREAM_USERS), pa.int64()),
        "event_type": pa.array(["view"] * STREAM_USERS, pa.string()),
        "value": pa.array(np.ones(STREAM_USERS), pa.float64()),
        "props": pa.array(['{"k": 0}'] * STREAM_USERS, pa.string())})
    ev = pa.concat_tables([ev, flush])
    docs = documents(STREAM_FILES * STREAM_DOCS_PER_FILE, seed, 401, reach=50)
    t0 = dt.datetime(2024, 1, 1)
    docs = docs.append_column("ts", pa.array(
        [t0 + dt.timedelta(seconds=3 * i) for i in range(docs.num_rows)],
        pa.timestamp("us")))
    for name, t, per in (("events", ev, STREAM_EVENTS_PER_FILE),
                         ("docs", docs, STREAM_DOCS_PER_FILE)):
        for sub, files in (("", STREAM_FILES), ("_warm", STREAM_WARM_FILES)):
            d = os.path.join(out_dir, name + sub)
            os.makedirs(d, exist_ok=True)
            for f in range(files):
                pq.write_table(t.slice(f * per, per),
                               os.path.join(d, f"part-{f:04d}.parquet"))


def plan(workload, seed, pairs=None):
    """The seed-derived operation plan handed to the JVM as JSON."""
    if workload == "ra_doors":
        return {"queries": ra_plan(seed)}
    if workload == "contract_store_stream":
        return {"queries": contract_sample(seed, pairs),
                "cycles": store_plan(seed, 5000), "files": STREAM_FILES}
    raise ValueError(f"unknown workload {workload!r}")
