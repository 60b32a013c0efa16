#!/usr/bin/env python3
"""Runs one workload of the engine's benchmark and prints its metrics.

    python3 perfbench/run.py --workload geo_chain --seed 7 --seconds 15 --trace 0

Run it from the root of the repository. On first use it builds the engine
and the harness from source (sbt, offline); later runs reuse the build
while the sources are unchanged. Each run starts one JVM for one workload.
The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 the metrics are
the end_to_end list of BENCHMARK.json, with --trace 1 its per_layer list.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("geo_chain", "operator_mix")
MIX_DATA = os.path.join(BENCH, "data", "sf0.01")
MIX_PINNED = os.path.join(BENCH, "mix_pinned.json")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch"]


# ---- arithmetic -----------------------------------------------------------

def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of the intervals."""
    total, reach = 0.0, start
    for a, b in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if b <= reach:
            continue
        total += b - max(a, reach)
        reach = b
    return total


def self_time(start, end, children):
    """A span's duration minus the part its child spans cover."""
    return (end - start) - covered(start, end, children)


def self_check():
    """The arithmetic above, each on an input with a known answer."""
    checks = [
        ("geomean", round(geomean([1.0, 10.0, 100.0]), 12), 10.0),
        ("self time", self_time(0, 10, [(1, 3), (2, 5), (8, 12), (20, 30)]), 4),
        ("self time, no children", self_time(2, 7, []), 5),
    ]
    for name, got, want in checks:
        if got != want:
            sys.exit(f"self-check failed: {name}: got {got!r}, want {want!r}")


# ---- build ----------------------------------------------------------------

def source_key():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(BENCH, "src"), os.path.join(BENCH, "project")):
        for d, subdirs, names in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout, or
    when this process is told to stop."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                break
            try:
                proc.wait(timeout=10)
                break
            except subprocess.TimeoutExpired:
                pass
        proc.wait()
        return None


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build():
    """Classpath and JVM options of the harness, building it if the sources
    changed since the last build."""
    launch = os.path.join(BENCH, "target", "launch.txt")
    stamp = os.path.join(BUILD, "launch.key")
    key = source_key()
    if os.path.exists(launch) and os.path.exists(stamp) and open(stamp).read() == key:
        with open(launch) as fh:
            lines = fh.read().splitlines()
        return lines[0], lines[1:]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/launch"],
                       BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=log,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.exit(f"build failed ({'timeout' if rc is None else 'exit ' + str(rc)})")
    with open(stamp, "w") as fh:
        fh.write(key)
    with open(launch) as fh:
        lines = fh.read().splitlines()
    return lines[0], lines[1:]


# ---- metrics --------------------------------------------------------------

def mix_mismatches(results_dir):
    """Mix queries whose results differ from the pinned oracle results."""
    from oracle_hash import result_hash
    import duckdb
    with open(MIX_PINNED) as fh:
        pinned = json.load(fh)["queries"]
    con = duckdb.connect()
    bad = []
    for q, want in sorted(pinned.items()):
        files = os.path.join(results_dir, q, "*.parquet")
        got = result_hash(con.execute(f"SELECT * FROM read_parquet('{files}')").fetchdf())
        if [got[0], got[1]] != [want["rows"], want["md5"]]:
            bad.append(f"{q}: {got[0]} rows {got[1]}, pinned {want['rows']} rows {want['md5']}")
    return bad


def end_to_end(rec, ok_ops):
    """The end-to-end metrics of an untraced run, with sample counts."""
    times = [o["seconds"] for o in ok_ops]
    items = [x for o in ok_ops for x in o["items"]]
    return {
        "setup_s": (rec["session_s"] + statistics.median(rec["setup_reps_s"])
                    + rec.get("warmup_s", 0.0), len(rec["setup_reps_s"])),
        "op_p50_s": (statistics.median(times), len(times)),
        "op_cpu_s": (statistics.median(o["cpu_s"] for o in ok_ops), len(ok_ops)),
        "item_geomean_s": (geomean(items), len(items)),
        "peak_live_heap_mb": (rec["peak_live_heap_mb"], rec["gcs"]),
    }


def per_layer(rec):
    """Per-layer metrics of a traced run: medians over its traced ops."""
    out = {k: statistics.median(v) for k, v in rec["samples"].items()}
    out["jvm.peak_rss_mb"] = rec["peak_rss_mb"]
    traced = [o for o in rec["ops"] if o["traced"]]
    plain = [o["seconds"] for o in rec["ops"] if not o["traced"]]
    ids = {o["op"] for o in traced}
    spans = rec.get("spans", [])
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)

    counters = rec.get("op_counters", {})
    for name in ("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_cpu_s",
                 "spark.executor_run_s", "spark.gc_s", "spark.shuffle_write_mb",
                 "spark.shuffle_fetch_wait_ms", "spark.spill_mb", "spark.task_skew",
                 "ops.cc_jobs"):
        vals = [counters.get(str(i), {}).get(name, 0.0) for i in ids]
        out[name] = statistics.median(vals) if vals else 0.0

    windows = [(s["op"], s["start_ms"], s["end_ms"]) for s in spans if s["name"] == "op"]
    planning = {i: 0.0 for i in ids}
    for p in rec.get("planning", []):
        for i, a, b in windows:
            if i in planning and a <= p["start_ms"] <= b:
                planning[i] += p["ms"]
    if planning:
        out["spark.planning_ms"] = statistics.median(planning.values())

    # geo_chain: stage self times are differences of the timed prefixes
    stages = []
    for i in ids:
        d = {s["name"]: s["end_ms"] - s["start_ms"] for s in by_op.get(i, [])
             if s["name"].startswith("chain.p")}
        if len(d) == 4:
            p1, p2, p3, p4 = (d[k] / 1e3 for k in sorted(d))
            stages.append((p1, p2 - p1, p3 - p2, p4 - p3))
    if stages:
        names = ("table.scan_s", "functions.bbox_quadkey_s", "table.sort_hilbert_s",
                 "table.write_s")
        for j, name in enumerate(names):
            out[name] = statistics.median(st[j] for st in stages)
        chains = [o["items"][0] for o in rec["ops"] if not o["traced"]]
        if chains:
            print(f"  chain stage self times sum to "
                  f"{sum(out[n] for n in names) / statistics.median(chains):.3f} "
                  f"of the plain ops' median chain time")

    # operator_mix: driver time is each query's span not covered by its stages
    stage_spans = {}
    for st in rec.get("stage_spans", []):
        stage_spans.setdefault((st["op"], st["query"]), []).append(
            (st["start_ms"], st["end_ms"]))
    gaps = []
    for i in ids:
        qs = [s for s in by_op.get(i, []) if s["name"].startswith("queries.")]
        if qs:
            gaps.append(sum(self_time(s["start_ms"], s["end_ms"],
                                      stage_spans.get((i, s["name"][len("queries."):]), []))
                            for s in qs) / 1e3)
    if gaps:
        out["ops.driver_gap_s"] = statistics.median(gaps)

    if traced and plain:
        base = statistics.median(plain)
        out["trace.overhead_pct"] = (
            100.0 * (statistics.median(o["seconds"] for o in traced) - base) / base)
    return out


# ---- main -----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    self_check()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit(f"no engine sources under {ROOT}/src/main/scala/graft")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    classpath, jvm_opts = build()
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record = os.path.join(work, "record.json")
    cpus = len(os.sched_getaffinity(0))
    cmd = [java(), *jvm_opts, *HEAP, f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
           "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--cpus", str(cpus),
           "--work", work, "--data", MIX_DATA, "--out", record]
    rc = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.exit(f"{args.workload} run failed ({'timeout' if rc is None else 'exit ' + str(rc)})")
    with open(record) as fh:
        rec = json.load(fh)

    ops = rec["ops"]
    failed = [o for o in ops if not o["ok"]]
    if args.workload == "operator_mix":
        bad = mix_mismatches(rec["mix_results"])
        for b in bad:
            print(f"  oracle mismatch: {b}")
        if bad:
            failed = ops
    for o in failed[:5]:
        print(f"  failed op {o['op']}: {o['note']}")
    ok_ops = [o for o in ops if o not in failed] or ops

    print(f"perfbench {args.workload} seed={args.seed} cpus={cpus} trace={args.trace} "
          f"ops={len(ops)} failed={len(failed)}")
    if args.trace == 0:
        values = end_to_end(rec, ok_ops)
        wanted = spec["end_to_end"]
    else:
        values = {k: (v, None) for k, v in per_layer(rec).items()}
        wanted = spec["per_layer"]
    metrics = {}
    for m in wanted:
        v, n = values.get(m["name"], (0.0, None))
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        count = "" if n is None else f", {n} samples"
        print(f"  {m['name']} = {v:.6g} {m['unit']} ({args.workload}{count})")
    if args.trace == 0:
        print(f"  error_rate = {len(failed) / len(ops):.6g} ratio ({args.workload}, {len(ops)} ops)")
        stored = rec["samples"].get("table.stored_bytes_per_user_byte")
        if stored:
            print(f"  stored_bytes_per_user_byte = {statistics.median(stored):.6g} ratio "
                  f"({args.workload}, {len(stored)} samples)")
    if "input_bytes" in rec:
        print(f"  input_bytes_per_row = {rec['input_bytes'] / rec['input_rows']:.1f} B "
              f"({args.workload}: {rec['input_bytes'] / 1e6:.1f} MB for {rec['input_rows']} rows; "
              f"the reference's chain input is 75 MB for 400 K rows, 187.5 B a row)")
        print(f"  output_row_groups = {rec['output_row_groups']} ({args.workload}: "
              f"row groups in the chain output the read-backs prune over)")

    for d in os.listdir(work):
        if d != "record.json":
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
