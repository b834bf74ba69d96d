"""Seeded input generator for the benchmark.

Every workload reads only the parquet files written here. `events.parquet`
has the schema of the project's test data (event_id, ts, user_id,
event_type, value, props); the documents and TPC-H tables that the query
leaves read are generated from a fixed seed, so only the events vary with
`--seed`.

The same (workload, seed) always produces byte-identical files.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
START_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
HOUR_US = 3600 * 1_000_000

# Properties of each workload's events. See README.md for why each was chosen.
#   hot_share   share of all events owned by one user (one hot conversation)
#   bursts      (first hour, length) of the daily bursts, UTC; the extra load
#               factors of all bursts in the span are evenly spaced over
#               [0, burst_max] in seeded order, so quiet, rerouting and
#               discarding bursts always mix
#   hours       hour-bucket span of the timestamps
#   mix         event-type weights in EVENT_TYPES order; they set the fan-out
#               (error rows reach two sinks) and the dead-letter share (click)
#   pad         mean length of the padding inside `props`, i.e. row bytes
PROFILES = {
    "fanout_bulk": dict(events=24_000, users=360, hours=720, hot_share=0.05,
                        bursts=((9, 4),), burst_max=4.0,
                        mix=(0.20, 0.20, 0.20, 0.20, 0.20), pad=24, mult=24),
    "pipeline_run": dict(events=1_500, users=150, hours=12, hot_share=0.10,
                         bursts=((1, 3), (5, 3), (9, 3)), burst_max=4.0,
                         mix=(0.15, 0.20, 0.20, 0.15, 0.30), pad=16, mult=1),
    "query_leaves": dict(events=20_000, users=300, hours=720, hot_share=0.02,
                         bursts=((9, 4),), burst_max=4.0,
                         mix=(0.20, 0.20, 0.20, 0.20, 0.20), pad=8, mult=1),
}

# Fixed-seed side tables of the query leaves (not varied by --seed).
FIXED_SEED = 20240101
DOCS = 1_500
ORDERS = 15_000
CUSTOMERS = 1_500
SUPPLIERS = 100
WORDS = ("batch part spark line column order small sort fast value scan hash "
         "slow group agg filter query a big key window row table stream merge "
         "data join vector customer the").split()


def _rng(*parts):
    digest = hashlib.sha256("/".join(map(str, parts)).encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def events(workload, seed):
    """The events table of `workload` for `seed`, as a pyarrow Table."""
    p = PROFILES[workload]
    rng = _rng("events", workload, seed)
    n = p["events"]
    hours = p["hours"]

    # hour weights: flat base load plus the bursts
    windows = [d * 24 + first for d in range((hours + 23) // 24) for first, _ in p["bursts"]]
    lengths = [length for _ in range((hours + 23) // 24) for _, length in p["bursts"]]
    amp = rng.permutation(np.linspace(0.0, p["burst_max"], len(windows)))
    weight = np.ones(hours)
    for first, length, a in zip(windows, lengths, amp):
        weight[first:first + length] += a
    hour = rng.choice(hours, size=n, p=weight / weight.sum())
    ts = START_US + hour * HOUR_US + rng.integers(0, HOUR_US, size=n)

    n_hot = int(round(n * p["hot_share"]))
    user = rng.integers(1, p["users"], size=n)
    user[rng.permutation(n)[:n_hot]] = 0

    etype = rng.choice(len(EVENT_TYPES), size=n, p=np.array(p["mix"]) / sum(p["mix"]))
    value = np.round(rng.uniform(0.0, 560.0, size=n), 2)
    k = rng.integers(0, 100, size=n)
    pad = rng.integers(0, 2 * p["pad"] + 1, size=n)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    pool = letters[rng.integers(0, 26, size=int(pad.sum()))].tobytes().decode()
    ends = np.cumsum(pad)
    props = [f'{{"k": {k[i]}, "p": "{pool[ends[i] - pad[i]:ends[i]]}"}}'
             for i in range(n)]

    order = np.argsort(ts, kind="stable")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts[order], type=pa.timestamp("us")),
        "user_id": pa.array(user[order].astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in etype[order]]),
        "value": pa.array(value[order]),
        "props": pa.array([props[i] for i in order]),
    })


def documents():
    """Documents with planted near-duplicate pairs (lower-case, single-spaced
    text, so normalization leaves it unchanged)."""
    rng = _rng("documents", FIXED_SEED)
    texts = []
    for i in range(DOCS):
        if i % 10 == 9:  # near-duplicate of the previous doc: one word changed
            words = texts[-1].split(" ")
            words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), size=rng.integers(12, 70))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(["en" if i % 3 else "zh" for i in range(DOCS)]),
        "source": pa.array([f"src{i % 10}" for i in range(DOCS)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def orders_lineitem():
    """TPC-H-shaped orders and lineitem (the columns the bucketed fact tables
    and q_pagerank read), from the fixed seed."""
    rng = _rng("tpch", FIXED_SEED)
    okey = np.arange(1, ORDERS + 1, dtype=np.int64)
    odate = START_US + rng.integers(0, 365 * 24, size=ORDERS) * HOUR_US
    orders = pa.table({
        "o_orderkey": pa.array(okey),
        "o_custkey": pa.array(rng.integers(1, CUSTOMERS + 1, size=ORDERS).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=ORDERS)),
        "o_totalprice": pa.array(np.round(rng.uniform(900.0, 500000.0, size=ORDERS), 2)),
        "o_orderdate": pa.array(odate, type=pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], size=ORDERS)),
    })
    lines = rng.integers(1, 8, size=ORDERS)
    n = int(lines.sum())
    lokey = np.repeat(okey, lines)
    linenum = np.concatenate([np.arange(1, c + 1) for c in lines]).astype(np.int32)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(lokey),
        "l_partkey": pa.array(rng.integers(1, 20_001, size=n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(1, SUPPLIERS + 1, size=n).astype(np.int64)),
        "l_linenumber": pa.array(linenum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2000.0, size=n), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, size=n) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, size=n) / 100.0, 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], size=n)),
        "l_shipdate": pa.array(np.repeat(odate, lines) + rng.integers(1, 122, size=n) * 24 * HOUR_US,
                               type=pa.timestamp("us")),
    })
    return orders, lineitem


def write(workload, seed, out_dir):
    """Writes the inputs of `workload` for `seed` under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {"events": events(workload, seed)}
    if workload == "query_leaves":
        tables["documents"] = documents()
        tables["orders"], tables["lineitem"] = orders_lineitem()
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _text_bytes(table):
    """octet_length of the transcript text each event becomes (the derivation
    of graft.model.Transcripts.fromEvents), or -1 for malformed rows."""
    level = {"error": "ERROR", "signup": "WARN"}
    tool = {"click": "none", "view": "search", "signup": "edit",
            "purchase": "bash", "error": "bash"}
    out = []
    for eid, et, v, props in zip(table["event_id"].to_pylist(), table["event_type"].to_pylist(),
                                 table["value"].to_pylist(), table["props"].to_pylist()):
        if eid % 17 == 0:
            out.append(-1)
        else:
            status = "ok" if v >= 50 else "err"
            out.append(len(f"[{level.get(et, 'INFO')}] tool={tool[et]} dur={int(np.floor(v * 10))}"
                           f"ms status={status} {props}".encode()))
    return np.array(out)


def limit_bytes(workload, table):
    """(search, fallback) bytes-per-hour limits of the workload's LimitRules.

    m is the expected sink_search volume of a quiet hour (after
    amplification): the view rows per unit of hour weight times their mean
    text bytes. The search limit 2m passes quiet hours and reroutes bursts;
    the fallback limit 3.5m passes bursts of up to ~2.5x extra load and
    discards stronger ones, so pass-through, fallback and discard all occur.
    Using the expectation, not a sampled quantile, keeps that true on every
    seed."""
    p = PROFILES[workload]
    b = _text_bytes(table)
    view = (np.array(table["event_type"].to_pylist()) == "view") & (b >= 0)
    burst_hours = (p["hours"] + 23) // 24 * sum(n for _, n in p["bursts"])
    weight = p["hours"] + p["burst_max"] / 2 * burst_hours  # the mean burst adds max/2
    m = view.sum() / weight * b[view].mean() * p["mult"]
    return int(2 * m), int(3.5 * m)
