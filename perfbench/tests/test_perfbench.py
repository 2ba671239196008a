"""Tests of the benchmark's own logic; they need no Spark.

    python3 -m unittest discover -s perfbench/tests
"""

import copy
import json
import pathlib
import sys
import tempfile
import unittest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import run        # noqa: E402
import telemetry  # noqa: E402
import trace      # noqa: E402

SMALL = telemetry.Fleet(devices=30, sample_s=300, drop_s=7200, drops=6)


def program_output(tel, last):
    """What a correct program commits after drops 0..last, in the shape the
    benchmark JVM reports it."""
    hist = [list(r) for r in telemetry.expected_history(tel, last)]
    return {
        "last_drop": last,
        "history": hist,
        "clean_summary": [list(r) for r in telemetry.expected_clean_summary(tel, range(last + 1))],
        "rollup": [[d, n, t] for d, (n, t) in telemetry.expected_rollup(tel, last).items()],
        "daily": [[d, n, t] for d, (n, t) in telemetry.expected_daily(tel, last).items()],
        "replay_new_work": 0, "replay_rows": 0, "resealed_tables": 0, "empty_run_rows": 0,
        "counts_before": {"cleaning_history": len(hist)},
        "counts_after": {"cleaning_history": len(hist)},
        "quarantined": sum(tel.malformed[:last + 1]),
        "landed_samples": sum(tel.samples[:last + 1]),
        "inconsistent": 0,
        "asof": [list(r) for r in telemetry.expected_asof(tel, last, run.readings(tel))],
    }


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        a, b = telemetry.generate(5, SMALL), telemetry.generate(5, SMALL)
        self.assertEqual(a.drops, b.drops)
        self.assertEqual(a.snapshots, b.snapshots)

    def test_other_seed_gives_other_drops(self):
        a, b = telemetry.generate(5, SMALL), telemetry.generate(6, SMALL)
        self.assertTrue(all(x != y for x, y in zip(a.drops, b.drops)))

    def test_fleet_shape(self):
        tel = telemetry.generate(5, telemetry.Fleet(devices=200, sample_s=300,
                                                    drop_s=7200, drops=12))
        lines = sum(tel.samples)
        self.assertAlmostEqual(sum(tel.malformed) / lines, 0.01, delta=0.002)
        per_device = len(tel.sessions) / 200  # one simulated day
        self.assertGreater(per_device, 0.6)
        self.assertLess(per_device, 1.4)
        # Drops are in time order, samples inside a drop are not.
        first = [json.loads(l)["timestamp"] for l in tel.drops[3].decode().splitlines()
                 if l.startswith("{") and l.endswith("}")]
        self.assertNotEqual(first, sorted(first))
        self.assertLess(max(first), min(json.loads(l)["timestamp"]
                                        for l in tel.drops[4].decode().splitlines()
                                        if l.startswith("{") and l.endswith("}")))


class AnswerKeyTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tel = telemetry.generate(9, SMALL)
        # A sync run syncs every drop but the last, which its replay reads.
        cls.good = program_output(cls.tel, SMALL.drops - 2)
        cls.loaded = program_output(cls.tel, SMALL.drops - 1)

    def test_correct_output_passes(self):
        self.assertEqual(run.check_telemetry("telemetry_sync", self.tel, self.good), [])
        self.assertEqual(run.check_telemetry("telemetry_backfill", self.tel, self.loaded), [])

    def test_perturbed_output_is_rejected(self):
        def perturbed(path, change):
            out = copy.deepcopy(self.loaded if path == "asof" else self.good)
            change(out[path])
            return out

        def bump_time(rows):
            rows[0][2] += 0.1

        cases = {
            "history": perturbed("history", bump_time),
            "rollup": perturbed("rollup", lambda rows: rows.pop()),
            "daily": perturbed("daily", lambda rows: rows[0].__setitem__(1, rows[0][1] + 1)),
            "clean_summary": perturbed("clean_summary", lambda rows: rows.append(rows[0])),
            "asof": perturbed("asof", lambda rows: rows[0].__setitem__(2, None)),
        }
        for name, out in cases.items():
            w = "telemetry_backfill" if name == "asof" else "telemetry_sync"
            self.assertIn(name, run.check_telemetry(w, self.tel, out), name)
        replayed = copy.deepcopy(self.good)
        replayed["replay_new_work"], replayed["replay_rows"] = 2, 3
        self.assertIn("replay_adds_nothing", run.check_telemetry("telemetry_sync", self.tel, replayed))
        # A run that also synced the spare drop leaves its replay nothing
        # new to skip, so the replay check would prove nothing.
        short = program_output(self.tel, SMALL.drops - 1)
        bad = run.check_telemetry("telemetry_sync", self.tel, short)
        self.assertIn("every_tick_ran", bad)
        self.assertIn("replay_snapshot_has_new_work", bad)
        late = copy.deepcopy(self.good)
        late["counts_after"] = {"cleaning_history": len(late["history"]) + 1}
        self.assertIn("counts_unchanged", run.check_telemetry("telemetry_sync", self.tel, late))

    def test_gate_key_rejects_a_perturbed_hash(self):
        key = json.loads(run.GATE_KEY.read_text())
        g, (n, h) = next(iter(key.items()))
        self.assertEqual(run.check_gates({"key": [[g, n, h]]}), [])
        self.assertEqual(run.check_gates({"key": [[g, n, str(int(h) + 1)]]}), [g])
        self.assertEqual(run.check_gates({"key": [[g, n + 1, h]]}), [g])

    def test_gate_key_covers_every_gate(self):
        key = json.loads(run.GATE_KEY.read_text())
        self.assertEqual(sorted(key), sorted(run.GATES["gate_mix"] + run.GATES["wedge_census"]))


class TraceTest(unittest.TestCase):
    def span(self, i, name, parent, start, end):
        return {"id": i, "name": name, "parent": parent, "start": start, "end": end, "attrs": {}}

    def test_self_time_of_nested_spans(self):
        # root 0..1000 ms holds two children, one of which holds a grandchild.
        spans = [self.span(0, "root", -1, 0, 1000),
                 self.span(1, "a", 0, 100, 400),
                 self.span(2, "a.inner", 1, 150, 250),
                 self.span(3, "b", 0, 600, 700)]
        raw = {"cores": 4, "spans": spans, "jobs": [[0, 160, 240], [1, 620, 690], [2, 800, 900]],
               "stages": [{"id": 0, "attempt": 0, "submit": 161, "complete": 239, "tasks": 4,
                           "run_ms": 200, "cpu_ns": 1.5e8, "gc_ms": 10, "sched_ms": 5,
                           "shuffle_read_bytes": 0, "shuffle_write_bytes": 100,
                           "spill_bytes": 0}],
               "plans": [[155, 2, 3, 4]], "passes": [[True, 0, 1000], [False, 1000, 1990]]}
        agg = trace.aggregate(raw)
        s = agg["scopes"]
        self.assertAlmostEqual(s["root"]["self_s"], 0.6)
        self.assertAlmostEqual(s["a"]["self_s"], 0.2)
        self.assertAlmostEqual(s["a.inner"]["self_s"], 0.1)
        self.assertAlmostEqual(s["b"]["self_s"], 0.1)
        # Jobs go to the innermost open span; driver-only time is self time
        # outside the span's own jobs.
        self.assertEqual((s["a.inner"]["jobs"], s["b"]["jobs"], s["root"]["jobs"]), (1, 1, 1))
        self.assertAlmostEqual(s["a.inner"]["driver_only_s"], 0.02)
        self.assertAlmostEqual(s["root"]["driver_only_s"], 0.5)
        self.assertEqual(s["a.inner"]["tasks"], 4)
        self.assertAlmostEqual(s["a.inner"]["plan.planning_s"], 0.004)
        self.assertAlmostEqual(agg["totals"]["unattributed_s"], 0.0)
        self.assertAlmostEqual(agg["totals"]["trace_overhead_frac"], 1000 / 990 - 1)

    def test_interval_helpers(self):
        self.assertEqual(trace.merge([(5, 7), (1, 3), (2, 4)]), [[1, 4], [5, 7]])
        self.assertEqual(trace.intersect([(0, 10)], [(2, 3), (8, 12)]), [[2, 3], [8, 10]])


class EmptyCheckoutTest(unittest.TestCase):
    def test_refuses_without_program_sources(self):
        with tempfile.TemporaryDirectory() as d:
            root = pathlib.Path(d)
            import shutil
            shutil.copytree(run.HERE, root / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            import subprocess
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "gate_mix",
                                "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=root,
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE, timeout=60)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout, b"")


if __name__ == "__main__":
    unittest.main()
