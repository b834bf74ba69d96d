"""The benchmark's own self-tests.

Run from the root of the repository:
    python3 -m unittest discover -s perfbench/tests -v
The last test builds the harness (if needed) and starts two JVMs.
"""
import glob
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import checks  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(run.WORK, "selftest")
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}\Z")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}\Z")


def scratch(name):
    d = os.path.join(SCRATCH, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def limiter_fates(workload, seed):
    """(passed, rerouted, dropped) sink_search rows under the workload's
    LimitRules: a Python twin of RateLimit.runChain over sink_search's
    hourly volumes."""
    t = gen.events(workload, seed)
    search, fallback = gen.limit_bytes(workload, t)
    mult = gen.PROFILES[workload]["mult"]
    b = gen._text_bytes(t)
    view = (np.array(t["event_type"].to_pylist()) == "view") & (b >= 0)
    hour = (t["ts"].cast(pa.int64()).to_numpy() - gen.START_US) // gen.HOUR_US
    vol = np.bincount(hour[view], weights=b[view]) * mult
    rows = np.bincount(hour[view])
    sink = {h: "search" for h in np.nonzero(rows)[0]}
    for name, limit, to in (("search", search, "fallback"), ("fallback", fallback, None)):
        window = []
        for h in sorted(h for h, s in sink.items() if s == name):
            window = (window + [vol[h]])[-3:]
            if sum(window) / len(window) > limit:
                sink[h] = to
    fate = lambda s: sum(rows[h] for h, v in sink.items() if v == s)  # noqa: E731
    return fate("search"), fate("fallback"), fate(None)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_input(self):
        for w in gen.PROFILES:
            a, b = scratch("same-a"), scratch("same-b")
            gen.write(w, 7, a)
            gen.write(w, 7, b)
            self.assertEqual(run.tree_hash(a), run.tree_hash(b), w)

    def test_other_seed_gives_other_rows_with_the_same_statistics(self):
        for w, p in gen.PROFILES.items():
            x, y = gen.events(w, 1), gen.events(w, 2)
            self.assertNotEqual(x.to_pylist()[:100], y.to_pylist()[:100], w)
            self.assertEqual(x.num_rows, y.num_rows, w)
            self.assertEqual(x.schema, y.schema, w)
            for t in (x, y):
                users = np.array(t["user_id"].to_pylist())
                self.assertAlmostEqual((users == 0).mean(), p["hot_share"], delta=0.001)
                types = np.array(t["event_type"].to_pylist())
                for et, share in zip(gen.EVENT_TYPES, p["mix"]):
                    self.assertAlmostEqual((types == et).mean(), share / sum(p["mix"]), delta=0.03)
                hours = (t["ts"].cast(pa.int64()).to_numpy() - gen.START_US) // gen.HOUR_US
                self.assertTrue(0 <= hours.min() and hours.max() < p["hours"])
            lx = np.mean([len(s) for s in x["props"].to_pylist()])
            ly = np.mean([len(s) for s in y["props"].to_pylist()])
            self.assertAlmostEqual(lx / ly, 1.0, delta=0.05)

    def test_events_have_the_testdata_schema(self):
        self.assertEqual([(f.name, str(f.type)) for f in gen.events("pipeline_run", 1).schema], [
            ("event_id", "int64"), ("ts", "timestamp[us]"), ("user_id", "int64"),
            ("event_type", "string"), ("value", "double"), ("props", "string")])

    def test_limits_give_pass_through_reroute_and_discard(self):
        for w in ("fanout_bulk", "pipeline_run"):
            for seed in range(1, 21):
                self.assertTrue(all(n > 0 for n in limiter_fates(w, seed)), (w, seed))


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_names_and_units_are_well_formed(self):
        names = [w["name"] for w in self.spec["workloads"]]
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            names.append(m["name"])
            self.assertRegex(m["unit"], UNIT)
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))

    def test_workloads_and_end_to_end_metrics_match_the_harness(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]], list(run.WORKLOADS))
        job = {"wall_s": 1.0, "cpu_s": 1.0, "files": 1, "bytes": 1, "routed_rows": 1}
        res = {"setup_s": [1.0] * run.SETUP_REPS, "warm_up": [job]}
        got = run.end_to_end(res, [0.1] * run.SETUP_REPS, [job])
        want = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in got.items()}, want)

    def test_per_layer_units_follow_the_names(self):
        for m in self.spec["per_layer"]:
            self.assertEqual(run.unit_of(m["name"]), m["unit"], m["name"])


class OracleCheckTest(unittest.TestCase):
    """The query leaves' checks fail on a corrupted output."""

    def setUp(self):
        self.input = scratch("oracle-in")
        gen.write("query_leaves", 1, self.input)
        self.sql = {"q_types": "SELECT event_type, count(*) AS n FROM events GROUP BY 1"}
        self.out = scratch("oracle-out")
        t = pq.read_table(os.path.join(self.input, "events.parquet")).to_pandas()
        types = t.groupby("event_type").size().reset_index(name="n")
        self.write("q_types", types)
        docs = pq.read_table(os.path.join(self.input, "documents.parquet")).to_pandas()
        sh = {i: checks.shingles(s) for i, s in zip(docs["doc_id"], docs["text"])}
        pairs = [(i - 1, i) for i in range(9, 200, 10)]
        self.pairs = pd_frame(pairs, [int(len(sh[a] & sh[b]) * 1000 // len(sh[a] | sh[b]))
                                      for a, b in pairs])
        self.write("q_minhash_pairs", self.pairs)

    def write(self, name, df):
        os.makedirs(os.path.join(self.out, name), exist_ok=True)
        df.to_parquet(os.path.join(self.out, name, "part-0.parquet"), index=False)

    def test_correct_output_passes(self):
        self.assertEqual(checks.Queries({"oracle_sql": self.sql}, self.input).check(self.out)[0], [])

    def test_dropped_row_fails(self):
        t = pq.read_table(os.path.join(self.out, "q_types", "part-0.parquet")).to_pandas()
        self.write("q_types", t.iloc[1:])
        self.assertTrue(checks.Queries({"oracle_sql": self.sql}, self.input).check(self.out)[0])

    def test_wrong_minhash_similarity_fails(self):
        bad = self.pairs.copy()
        bad.loc[0, "jaccard_milli"] += 1
        self.write("q_minhash_pairs", bad)
        self.assertTrue(checks.Queries({"oracle_sql": self.sql}, self.input).check(self.out)[0])


def pd_frame(pairs, milli):
    return pd.DataFrame({"id_a": [a for a, _ in pairs], "id_b": [b for _, b in pairs],
                         "jaccard_milli": milli})


class HarnessTest(unittest.TestCase):
    def test_refuses_to_run_without_the_program(self):
        d = scratch("bare")
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "target", "__pycache__"))
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "fanout_bulk",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=d, capture_output=True, text=True, timeout=170)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout, "")

    def test_output_checks_fail_on_corrupted_outputs(self):
        for name in run.WORKLOADS:
            d = scratch(f"jvm-{name}")
            os.makedirs(os.path.join(d, "tmp"))
            gen.write(name, 1, os.path.join(d, "input"))
            path = {**run.plan_path(name, 1, os.path.join(d, "input")), "mult": 2}
            plan = run.write_plan(d, [path], trace=0, seconds=0, setup_reps=1, warmup_jobs=1)
            run.run_jvm(run.classpath(), [plan], os.path.join(d, "harness.log"), timeout=600)
            with open(os.path.join(d, "result.json")) as f:
                res = json.load(f)["paths"][name]
            check = checks.checker(name, res["spec"], None)
            out = res["warm_up"][0]["out"]
            self.assertEqual(check.check(out)[0], [], name)
            if name == "pipeline_run":
                (metrics,) = glob.glob(os.path.join(out, "_manifest", "_metrics_*.json"))
                with open(metrics) as f:
                    good = f.read()
                with open(metrics, "w") as f:
                    f.write(re.sub(r'"scan":\{"rows":(\d+)', r'"scan":{"rows":1\1', good))
                self.assertTrue(check.check(out)[0], "broken scan count")
                with open(metrics, "w") as f:
                    f.write(good)
                out = os.path.join(out, "sinks")
            victim = checks.parquet_files(out)[0]
            pq.write_table(pq.read_table(victim).slice(1), victim)
            self.assertTrue(check.check(res["warm_up"][0]["out"])[0], f"{name}: dropped row")


if __name__ == "__main__":
    unittest.main()
