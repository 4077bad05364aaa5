#!/usr/bin/env python3
"""Benchmark of the graft engine: snapshot backup cycles and cold query
passes, driven from outside through the engine's public entry points.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

--seconds is the snapshot workload's cycle window; a suite run is one cold
pass. Run from the root of a checkout. The engine and the harness are built from
source into .bench_build/ on first use; inputs are generated from the seed
under .bench_work/. The last stdout line is the result JSON; the line
before it is the run record (host load and CPU share, seed, sample counts).
With --trace 1 the run also writes spans.json and trace_report.json into
its work directory and reports the per-layer metrics instead of the
end-to-end ones.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import trace  # noqa: E402

# Why each workload exists is recorded in BENCHMARK.json.
WORKLOADS = {
    "snapshot_cycle": dict(mode="snapshot", sf="0.1"),
    "suite_sf0001": dict(mode="suite", sf="0.001"),
}
# A suite pass runs every EVERY-th query of each operator module in name
# order: today the first of each, so all twenty modules are in every pass.
EVERY = 20
CYCLE_OPS = ("export", "append", "lookup", "restore", "retain", "vacuum")
SETUP_REPEATS = 3
HEAP = "3g"
# a run must end within 180 s of its build; this leaves room for the checks
RUN_LIMIT_S = 160
deadline = None


def cpus():
    return str(min(4, len(os.sched_getaffinity(0))))


def pct(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    i = (len(xs) - 1) * q
    lo = int(i)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)


def select_queries(modules, seed):
    names = [n for m in sorted(modules) for i, n in enumerate(modules[m]) if i % EVERY == 0]
    random.Random(seed).shuffle(names)
    return names


def launch(cp, work, args):
    """One harness JVM; returns its result.json plus the launch time."""
    work.mkdir(parents=True)
    (work / "tmp").mkdir()
    cmd = ([build.java()] + build.jvm_flags() +
           [f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "perfbench.Main", f"work={work}"] +
           [f"{k}={v}" for k, v in args.items()])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"),
               SPARK_GRAFT_CPUS=args["cpus"])
    log = open(work / "jvm.log", "w")
    t0 = time.time()
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work, env=env,
                         start_new_session=True)
    try:
        p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
    log.close()
    if p.returncode != 0 or not (work / "result.json").is_file():
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        sys.exit(f"perfbench: harness JVM failed (exit {p.returncode})\n{tail}")
    res = json.loads((work / "result.json").read_text())
    res["launch_s"] = t0
    res["exit_s"] = time.time()
    return res


def walls(ops, kind):
    return [(o["end_us"] - o["start_us"]) / 1e6 for o in ops if o["kind"] == kind and o["ok"]]


def run_suite(cp, work, data, a, modules):
    names = select_queries(modules, a.seed)
    qfile = work / "queries.txt"
    qfile.write_text("\n".join(names) + "\n")
    base = dict(mode="suite", data=data, cpus=cpus(), seconds=a.seconds, queries=qfile)
    passes = []
    if a.trace:
        # an untraced pass first, so the report can state the tracing overhead
        passes.append(launch(cp, work / "pass0", dict(base, trace=0)))
    passes.append(launch(cp, work / "pass1", dict(base, trace=a.trace, verify=work / "verify")))
    res = passes[-1]
    failed = {o["name"] for o in res["ops"] if not o["ok"]}
    bad, log = checks.oracle(Path.cwd(), data, work / "verify", names)
    failed |= bad
    if failed:
        sys.stderr.write(log + "\n" + "\n".join(
            f"{o['name']}: {o.get('error')}" for o in res["ops"] if not o["ok"]) + "\n")
    ops = res["ops"]
    q = [w * 1000 for w in walls(ops, "query")]
    pass_s = (ops[-1]["end_us"] - ops[0]["start_us"]) / 1e6
    metrics = {"pass_s": pass_s}
    extra = {"queries": len(names), "op_p50_ms": pct(q, 0.5)}
    if a.trace:
        p0 = passes[0]["ops"]
        extra["untraced_pass_s"] = (p0[-1]["end_us"] - p0[0]["start_us"]) / 1e6
    return passes, len(ops), len(failed), metrics, extra


def run_snapshot(cp, work, data, a, sf):
    snap = work / "snap"
    res = launch(cp, work / "pass1", dict(mode="snapshot", data=data, snap=snap, cpus=cpus(),
                                          seconds=a.seconds, trace=a.trace))
    ops = [o for o in res["ops"] if o["kind"] != "probe"]
    failed = {o["id"] for o in ops if not o["ok"]}
    bad, why = checks.snapshot(data, snap, sf, res)
    failed |= bad
    if failed:
        sys.stderr.write("\n".join(why + [f"{o['kind']} {o['name']}: {o.get('error')}"
                                         for o in ops if not o["ok"]]) + "\n")
    # a cycle's time is that of its backup operations; applying the delta
    # to the live tables is the source's work, not the backup's
    cycle_s, kind_s = {}, dict.fromkeys(CYCLE_OPS, 0.0)
    for o in ops:
        if o.get("cycle") and o["kind"] in CYCLE_OPS:
            w = (o["end_us"] - o["start_us"]) / 1e6
            cycle_s[o["cycle"]] = cycle_s.get(o["cycle"], 0.0) + w
            kind_s[o["kind"]] += w
    total = sum(kind_s.values())
    lk = [w * 1000 for w in walls(ops, "lookup")]
    metrics = {"pass_s": statistics.median(cycle_s.values())}
    return [res], len(ops), len(failed), metrics, {
        "cycles": res["cycles"], "cycle_s": list(cycle_s.values()), "lookups": len(lk),
        "op_p50_ms": pct(lk, 0.5),
        "cycle_share": {k: v / total for k, v in kind_s.items()} if total else {}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    checkout = Path.cwd()
    if not (checkout / "src/main/scala").is_dir() or not (checkout / "tools/oracle_check.py").is_file():
        sys.exit("perfbench: run from the root of a checkout of the engine "
                 "(src/main/scala and tools/oracle_check.py are missing)")
    spec = WORKLOADS[a.workload]
    cp, build_dir = build.build(checkout)
    modules = json.loads((build_dir / "modules.json").read_text())
    global deadline
    deadline = time.monotonic() + RUN_LIMIT_S

    work = checkout / ".bench_work" / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    data = work / "data"
    gen_s = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        gen.write_tables(data, a.seed, spec["sf"])
        if spec["mode"] == "snapshot":
            gen.snapshot_inputs(work / "snap", a.seed, spec["sf"])
        gen_s.append(time.perf_counter() - t0)

    if spec["mode"] == "suite":
        passes, attempted, failed, e2e, extra = run_suite(cp, work, data, a, modules)
    else:
        passes, attempted, failed, e2e, extra = run_snapshot(cp, work, data, a, spec["sf"])
    session_s = [p["session_ready_us"] / 1e6 - p["launch_s"] for p in passes]
    e2e["setup_s"] = statistics.median(gen_s) + statistics.median(session_s)

    res = passes[-1]
    h0, h1 = res["host_start"], res["host_end"]
    busy = h1["host_busy_s"] - h0["host_busy_s"]
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "cpus": int(cpus()), "loadavg_start": h0["loadavg1"], "loadavg_end": h1["loadavg1"],
              "jvm_cpu_s": h1["jvm_cpu_s"] - h0["jvm_cpu_s"], "host_busy_cpu_s": busy,
              "jvm_share_of_host_cpu": (h1["jvm_cpu_s"] - h0["jvm_cpu_s"]) / busy if busy else None,
              "host_steal_cpu_s": h1["host_steal_s"] - h0["host_steal_s"],
              "setup_gen_s": gen_s, "setup_session_s": session_s,
              "jvm_wall_s": [p["exit_s"] - p["launch_s"] for p in passes],
              "peak_rss_mb": [p["peak_rss_mb"] for p in passes],
              "attempted": attempted, "failed": failed, **extra}

    if a.trace:
        report = trace.report(passes, a.workload, extra, modules)
        (work / "spans.json").write_text(json.dumps(report.pop("spans")))
        (work / "trace_report.json").write_text(json.dumps(report, indent=1))
        record["trace_report"] = str((work / "trace_report.json").relative_to(checkout))
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in report["metrics"].items()}
    else:
        units = {"pass_s": "s", "setup_s": "s"}
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k in units}

    # keep the records, drop the bulky inputs and outputs
    for d in ("data", "snap", "verify"):
        shutil.rmtree(work / d, ignore_errors=True)
    for p in work.glob("pass*"):
        for d in ("snapshots", "spark-local", "tmp", "warehouse"):
            shutil.rmtree(p / d, ignore_errors=True)

    print(json.dumps({"run_record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
