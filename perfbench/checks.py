"""Output checks. Every job's output is checked once the run ends, outside
the timed window; each check returns the job's mismatches (empty: correct),
the parquet files and bytes it wrote, and the turns it routed.

- fanout_bulk: rows and text bytes per sink equal the two-pass
  `RateLimit.apply` on the same input (the harness's spec).
- pipeline_run: each committed sink's manifest entry (rows, bytes,
  conversations) equals a recompute from its committed files; the
  `_metrics_<run>.json` file keeps scan = parse_ok + quarantined and
  route_in = scan; rows and bytes per sink equal the two-pass limiter.
- query leaves: each leaf with a DuckDB twin in `SparkEntry.oracleSql` is
  compared the way the project's oracle compare does it: columns sorted by
  name, values canonicalized, rows sorted, then equal row for row.
  q_minhash_pairs has no twin; every pair it emits must be a distinct pair
  of existing documents whose exact word-3-shingle Jaccard (floored to
  thousandths) is the one reported and at least the 0.5 threshold.
"""
import glob
import json
import math
import os

import duckdb
import pandas as pd


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("int64")
        try:
            df[c] = df[c].astype("float64") if df[c].dtype.kind in "fiu" else df[c].astype(str)
        except (TypeError, ValueError):
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(name, got, want):
    """Mismatch messages between two canonical frames (empty: equal)."""
    if list(got.columns) != list(want.columns):
        return [f"{name}: columns {list(got.columns)} != oracle {list(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows != oracle {len(want)}"]
    if not got.equals(want):
        bad = ((got != want) & ~(got.isna() & want.isna())).any(axis=1)
        return [f"{name}: {int(bad.sum())} rows differ from the oracle"]
    return []


def shingles(text, w=3):
    words = text.lower().split()
    if len(words) < w:
        return {" ".join(words)}
    return {" ".join(words[i:i + w]) for i in range(len(words) - w + 1)}


def minhash_mismatches(got, docs):
    out = []
    pairs = set()
    for a, b, milli in zip(got["id_a"], got["id_b"], got["jaccard_milli"]):
        key = (min(a, b), max(a, b))
        if a == b or key in pairs or a not in docs or b not in docs:
            out.append(f"q_minhash_pairs: bad pair ({a}, {b})")
            continue
        pairs.add(key)
        sa, sb = docs[a], docs[b]
        j = len(sa & sb) / len(sa | sb)
        if j < 0.5 or math.floor(j * 1000) != milli:
            out.append(f"q_minhash_pairs: ({a}, {b}) reports {milli}, exact {j:.4f}")
    if not pairs:
        out.append("q_minhash_pairs: no pairs")
    return out


def read(out_dir, name):
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else None


def parquet_files(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))


def files_and_bytes(d):
    files = parquet_files(d)
    return len(files), sum(os.path.getsize(f) for f in files)


def diff(what, want, got):
    return [f"{what}[{k}]: expected {want.get(k)}, got {got.get(k)}"
            for k in sorted(set(want) | set(got)) if want.get(k) != got.get(k)]


def sums(files, by_sink):
    """[sink →] (rows, text bytes, distinct conversations) of parquet files."""
    if not files:
        return {} if by_sink else (0, 0, 0)
    rows = duckdb.execute(
        f"SELECT {'sink, ' if by_sink else ''}count(*), sum(strlen(text)), "
        f"count(DISTINCT conv_id) FROM read_parquet(?) {'GROUP BY sink' if by_sink else ''}",
        [files]).fetchall()
    if by_sink:
        return {r[0]: (int(r[1]), int(r[2])) for r in rows}
    return tuple(int(x) for x in rows[0])


class Fanout:
    def __init__(self, spec):
        self.want = {k: tuple(v) for k, v in spec["sinks"].items()}
        self.routed = spec["routed_rows"]

    def check(self, out):
        got = sums(parquet_files(out), by_sink=True)
        return (diff("sink rows/bytes", self.want, got), *files_and_bytes(out), self.routed)


class Pipeline:
    def __init__(self, spec):
        self.want = {k: tuple(v) for k, v in spec["sinks"].items()}

    def check(self, root):
        man = os.path.join(root, "_manifest")
        entries = {}
        for f in sorted(os.listdir(man)):
            if f.endswith(".json") and not f.startswith("_"):
                with open(os.path.join(man, f)) as fh:
                    e = json.load(fh)
                entries[f[:-5]] = (e["row_count"], e["bytes"], e["convs"])
        recomputed = {s: sums(parquet_files(os.path.join(root, "sinks", s)), by_sink=False)
                      for s in entries}
        (metrics_file,) = glob.glob(os.path.join(man, "_metrics_*.json"))
        with open(metrics_file) as fh:
            m = json.load(fh)
        st = m["stages"]
        scan, ok = st["scan"]["rows"], st["parse"]["rows_ok"]
        quarantined, route_in = st["parse"]["rows_quarantined"], st["route"]["rows_in"]
        laws = [msg for holds, msg in (
            (scan == ok + quarantined, f"scan {scan} != parse_ok {ok} + quarantined {quarantined}"),
            (route_in == scan, f"route_in {route_in} != scan {scan}"),
            (scan > 0, "empty scan")) if not holds]
        committed = {s: e[:2] for s, e in entries.items()}
        return (diff("manifest rows/bytes/convs", recomputed, entries) + laws
                + diff("sink rows/bytes vs two-pass limiter", self.want, committed),
                *files_and_bytes(os.path.join(root, "sinks")), m["routed_rows"])


class Queries:
    def __init__(self, spec, input_dir):
        con = duckdb.connect()
        for p in glob.glob(os.path.join(input_dir, "*.parquet")):
            con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
        self.want = {q: canon(con.execute(sql).df()) for q, sql in spec["oracle_sql"].items()}
        d = con.execute("SELECT doc_id, text FROM documents").df()
        self.docs = {i: shingles(t) for i, t in zip(d["doc_id"], d["text"])}
        con.close()

    def check(self, out):
        """Every way the leaves written under `out` are wrong."""
        mism = []
        for q, want in sorted(self.want.items()):
            got = read(out, q)
            mism += [f"{q}: missing output"] if got is None else compare(q, canon(got), want)
        got = read(out, "q_minhash_pairs")
        mism += (["q_minhash_pairs: missing output"] if got is None
                 else minhash_mismatches(got, self.docs))
        return (mism, *files_and_bytes(out), 0)


def checker(name, spec, input_dir):
    """The check of workload or traced path `name`."""
    if name == "fanout_bulk":
        return Fanout(spec)
    if name == "pipeline_run":
        return Pipeline(spec)
    return Queries(spec, input_dir)
