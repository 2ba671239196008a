"""Per-change benchmark of the telemetry pipeline and the oracle-gated queries.

    python3 perfbench/run.py --workload telemetry_sync --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all --seed 1          # every workload, named metrics

The last line of standard output is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with --trace 0, per-layer metrics
with --trace 1). See perfbench/README.md for the workloads and metrics.
"""

import argparse
import dataclasses
import json
import os
import pathlib
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build      # noqa: E402
import telemetry  # noqa: E402
import trace      # noqa: E402

WORKLOADS = ("telemetry_sync", "telemetry_backfill", "gate_mix", "wedge_census")
# sf0.01 fixture tables for gate_mix; the census gate reads sf0.1 lineitem.
GATE_DATA = {"gate_mix": HERE / "gatedata", "wedge_census": HERE / "censusdata"}
GATE_KEY = HERE / "gate_key.json"
GATES = {
    "gate_mix": ["q01_daily_summary", "q06_sessionize", "q14_asof_join", "q28_sessions_batch",
                 "q119_pagerank", "q182_hits", "q139_restore_roundtrip", "q17_dedup_exact",
                 "q19_minhash_candidates", "q24_lang_id"],
    "wedge_census": ["q221_adamic_adar"],
}
# telemetry_sync: 400 devices sampled every 5 min, one drop per simulated 2 h.
# The drop count is set per run by sync_drops().
SYNC_FLEET = telemetry.Fleet(devices=400, sample_s=300, drop_s=7200, drops=0)
SYNC_WARMUP = 2  # untimed ticks; the JVM passes the same number to Telemetry.sync
# telemetry_backfill: the same fleet, one simulated day in one drop.
BACKFILL_FLEET = telemetry.Fleet(devices=400, sample_s=300, drop_s=7200, drops=12)
RUN_LIMIT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
END_TO_END = (("setup_s", "s"), ("op_p50_s", "s"), ("pass_s", "s"), ("heap_retained_mb", "MB"))
PER_LAYER = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("driver_only_s", "s"),
    ("sched_delay_s", "s"), ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"), ("cores_busy", "ratio"),
    ("plan.analysis_s", "s"), ("plan.optimization_s", "s"), ("plan.planning_s", "s"),
    ("unattributed_s", "s"), ("trace_overhead_frac", "ratio"))


class RunError(Exception):
    pass


def cores():
    return max(1, min(4, os.cpu_count() or 1))


# ---------------------------------------------------------------- inputs

def sync_drops(seconds, traced):
    """Drops for one telemetry_sync run: the warm-up ticks, one untimed tick
    more in a traced run, the timed ticks and one spare drop that is never
    synced. A tick takes about 3 s on the recorded machine, so the timed
    ticks fill about `seconds`; the count is fixed before the run starts and
    never depends on the program's speed."""
    ticks = max(4, round(seconds / 3))
    return SYNC_WARMUP + (1 if traced else 0) + ticks + 1


def write_telemetry(work, workload, seed, seconds, traced):
    """Generate the workload's drops and device snapshots under `work`."""
    drops, snaps = work / "drops", work / "snaps"
    drops.mkdir()
    snaps.mkdir()
    if workload == "telemetry_sync":
        tel = telemetry.generate(seed, dataclasses.replace(
            SYNC_FLEET, drops=sync_drops(seconds, traced)))
        for k, (d, s) in enumerate(zip(tel.drops, tel.snapshots)):
            (drops / ("drop-%05d.json" % k)).write_bytes(d)
            (snaps / ("snap-%05d.json" % k)).write_bytes(s)
    else:
        tel = telemetry.generate(seed, BACKFILL_FLEET)
        lines = b"".join(tel.drops).splitlines()
        random.Random(seed).shuffle(lines)
        (drops / "drop-00000.json").write_bytes(b"\n".join(lines) + b"\n")
        # The warm-up load takes the same path over the first two hours only.
        (work / "warmup.json").write_bytes(tel.drops[0])
        (snaps / "snap-final.json").write_bytes(tel.snapshots[-1])
        (snaps / "consumables.json").write_bytes(b"".join(tel.snapshots[k] for k in readings(tel)))
    created = time.time()
    (work / "drops.json").write_text(json.dumps(
        {"created_at": created, "drops": len(tel.drops),
         "lines": [s + m for s, m in zip(tel.samples, tel.malformed)]}))
    return tel


def readings(tel):
    """Drops at whose end a consumables reading is taken (every 6 h)."""
    return list(range(2, tel.fleet.drops, 3))


# ---------------------------------------------------------------- answer key

def close(a, b):
    return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))


def rows_match(got, want):
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for x, y in zip(g, w):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not close(x, y):
                    return False
            elif x != y:
                return False
    return True


def check_telemetry(workload, tel, check):
    """Compare what the program committed with the answer key; returns the
    list of mismatching items (empty when correct)."""
    bad = []

    def expect(name, ok):
        if not ok:
            bad.append(name)

    last = check["last_drop"] if workload == "telemetry_sync" else tel.fleet.drops - 1
    hist = sorted(tuple(r) for r in check["history"])
    expect("history", rows_match(hist, telemetry.expected_history(tel, last)))
    roll = sorted(tuple(r) for r in check["rollup"])
    want_roll = sorted((d, n, t) for d, (n, t) in telemetry.expected_rollup(tel, last).items())
    expect("rollup", rows_match(roll, want_roll))
    daily = sorted(tuple(r) for r in check["daily"])
    want_daily = sorted((d, n, t) for d, (n, t) in telemetry.expected_daily(tel, last).items())
    expect("daily", rows_match(daily, want_daily))
    expect("quarantined", check["quarantined"] == sum(tel.malformed[:last + 1]))
    expect("landed_samples", check["landed_samples"] == sum(tel.samples[:last + 1]))
    if workload == "telemetry_sync":
        summary = sorted(tuple(r) for r in check["clean_summary"])
        expect("clean_summary", summary == telemetry.expected_clean_summary(tel, range(last + 1)))
        # Every drop but the spare one was synced. The replay re-runs a sealed
        # sync id over the spare drop's snapshot, which must carry new work,
        # or a replay that adds nothing would prove nothing.
        spare = tel.fleet.drops - 1
        expect("every_tick_ran", last == spare - 1)
        expect("replay_snapshot_has_new_work",
               telemetry.devices_with_new_work(tel, last, spare) > 0)
        expect("replay_adds_nothing", check["replay_new_work"] == 0 and check["replay_rows"] == 0
               and check["resealed_tables"] == 0)
        expect("empty_stream_run", check["empty_run_rows"] == 0)
        expect("counts_unchanged", check["counts_before"] == check["counts_after"])
    else:
        expect("summary_consistency", check["inconsistent"] == 0)
        asof = sorted((tuple(r) for r in check["asof"]), key=lambda r: (r[0], r[1]))
        expect("asof", asof == telemetry.expected_asof(tel, last, readings(tel)))
    return bad


def check_gates(check):
    key = json.loads(GATE_KEY.read_text())
    return ["%s" % g for g, n, h in check["key"] if key.get(g) != [n, h]]


# ---------------------------------------------------------------- one run

def percentile_tail(xs):
    """The highest whole percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return None, None
    p = int(100 * (n - 10) / n)
    s = sorted(xs)
    return p, s[max(0, -(-p * n // 100) - 1)]


def new_work_dir(name):
    runs = build.OUT / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    work = runs / ("%s-%d" % (name, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    return work


def jvm(built, flags, work, args, deadline, gate_data=GATE_DATA["gate_mix"]):
    """Run one benchmark JVM to completion; returns its result JSON."""
    out = work / "result.json"
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            "-Djava.io.tmpdir=%s" % (work / "tmp")] + flags
           + [x for p in JVM_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", build.classpath(built), "perfbench.Main"]
           + [str(a) for a in args] + [str(cores()), str(work), str(gate_data), str(out)])
    with open(work / "jvm.log", "wb") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise RunError("benchmark JVM exceeded its time limit")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not out.exists():
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        raise RunError("benchmark JVM failed (exit %s):\n%s" % (proc.returncode, tail))
    return json.loads(out.read_text())


def train(built, flags):
    """The build's training run: a small telemetry fleet through every stage,
    so the class archive holds the Spark classes the workloads load."""
    work = new_work_dir("train")
    try:
        tel = telemetry.generate(0, telemetry.Fleet(devices=20, sample_s=300, drop_s=7200, drops=3))
        (work / "drops").mkdir()
        (work / "snaps").mkdir()
        for k, (d, s) in enumerate(zip(tel.drops, tel.snapshots)):
            (work / "drops" / ("drop-%05d.json" % k)).write_bytes(d)
            (work / "snaps" / ("snap-%05d.json" % k)).write_bytes(s)
        (work / "order.txt").write_text("")
        jvm(built, flags, work, ["train", 0, 0, 0], time.time() + 600)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(workload, seed, seconds, traced, record_key=False):
    built = build.ensure_built(train)
    t0 = time.time()
    work = new_work_dir("%s-%d" % (workload, seed))
    try:
        tel = None
        order = []
        if workload in GATES:
            order = list(GATES[workload])
            random.Random(seed).shuffle(order)
        else:
            tel = write_telemetry(work, workload, seed, seconds, traced)
        (work / "order.txt").write_text("".join(g + "\n" for g in order))
        res = jvm(built, build.jvm_flags(built), work,
                  [workload, seed, seconds, 1 if traced else 0], t0 + RUN_LIMIT_S,
                  GATE_DATA.get(workload, GATE_DATA["gate_mix"]))

        check = res["check"]
        if workload in GATES:
            if record_key:
                key = json.loads(GATE_KEY.read_text()) if GATE_KEY.exists() else {}
                key.update({g: [n, h] for g, n, h in check["key"]})
                GATE_KEY.write_text(json.dumps(dict(sorted(key.items())), indent=1) + "\n")
            bad = check_gates(check)
        else:
            bad = check_telemetry(workload, tel, check)
        attempted = int(res["attempted"])
        failed = int(res["failed"]) + (attempted if bad else 0)
        failed = min(failed, attempted)
        detail = {"failed_checks": bad, "failed_frac": failed / max(1, attempted)}
        ops, passes = res["ops"], res["passes"]
        if workload == "telemetry_sync":
            p, tail_s = percentile_tail(ops)
            detail.update(sync_p50_s=statistics.median(ops), syncs=len(ops),
                          sync_tail_s=tail_s, sync_tail_percentile=p)
        elif workload == "telemetry_backfill":
            detail.update(backfill_rows_per_s=statistics.median(res["extra"]["backfill_rows_per_s"]),
                          report_s=statistics.median(res["extra"]["report_s"]), loads=len(ops))
        elif workload == "gate_mix":
            detail.update(gate_mix_s=statistics.median(passes), gate_p50_s=statistics.median(ops))
        else:
            detail.update(census_s=statistics.median(passes))

        if traced:
            raw = json.loads((work / "trace.json").read_text())
            devices = SYNC_FLEET.devices if workload.startswith("telemetry") else None
            agg = trace.aggregate(raw, devices)
            traces = build.OUT / "traces"
            traces.mkdir(exist_ok=True)
            dest = traces / ("%s-seed%d.json" % (workload, seed))
            dest.write_text(json.dumps({"workload": workload, "seed": seed, "cores": cores(),
                                        "aggregate": agg, "raw": raw}))
            detail["trace_file"] = str(dest)
            detail["scopes"] = {k: {m: round(v, 4) for m, v in s.items()}
                                for k, s in agg["scopes"].items()}
            metrics = {name: {"value": agg["totals"][name], "unit": unit}
                       for name, unit in PER_LAYER}
        else:
            values = {"setup_s": res["timed_start_ms"] / 1e3 - t0,
                      "op_p50_s": statistics.median(ops),
                      "pass_s": statistics.median(passes),
                      "heap_retained_mb": res["heap_retained_mb"]}
            metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}
        return {"correct": not bad and failed == 0, "attempted": attempted,
                "failed": failed, "metrics": metrics}, detail
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload, untraced then traced")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-key", action="store_true",
                    help="rewrite gate_key.json from this run's results")
    args = ap.parse_args()
    if not args.all and not args.workload:
        ap.error("give --workload or --all")
    try:
        if args.all:
            for w in WORKLOADS:
                for traced in (False, True):
                    result, detail = run(w, args.seed, args.seconds, traced)
                    print(json.dumps({"workload": w, "trace": int(traced), **result,
                                      "detail": detail}, indent=1))
            return
        result, detail = run(args.workload, args.seed, args.seconds, bool(args.trace),
                             args.record_key)
    except (build.BuildError, RunError) as e:
        print("perfbench: %s" % e, file=sys.stderr)
        sys.exit(2)
    print(json.dumps(detail), file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
