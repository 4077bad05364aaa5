"""Traced-run report: spans, per-op layer self times and per-layer metrics.

Span tree: run -> op -> phase -> Spark job -> stage, plus plan spans (the
query-planning tracker's analysis, optimization and planning intervals)
under the phase they fell in. An op's wall time splits, without overlap,
into these layers:

  jobs      time at least one Spark job of the phase was running
            (exports split it into signature jobs and write jobs)
  plan      tracker planning time outside job time
  compile   janino compile time counted in the phase, capped at the
            driver time left after jobs and planning
  self      the rest of the phase (driver-side work of the call itself)
  harness   op time outside every phase

so every layer is non-negative and the layers sum to the op's wall time.
"""
import statistics

import gen

MB = 1024.0 * 1024.0
UNMEASURED = ("delta", "probe", "check")


def union(iv):
    out = []
    for s, e in sorted(i for i in iv if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def length(iv):
    return sum(e - s for s, e in iv)


def clip(iv, s, e):
    return [(max(a, s), min(b, e)) for a, b in iv if min(b, e) > max(a, s)]


def minus(iv, cut):
    """Parts of the intervals `iv` not covered by the union `cut`."""
    out = []
    for s, e in iv:
        cur = s
        for a, b in cut:
            if b <= cur or a >= e:
                continue
            if a > cur:
                out.append((cur, a))
            cur = max(cur, b)
        if cur < e:
            out.append((cur, e))
    return out


def med(xs):
    return statistics.median(xs) if xs else 0.0


def ms_to_us(t):
    return t * 1000


def op_phases(op):
    """Query ops record construct/execute; other ops are one phase."""
    if op.get("phases"):
        return op["phases"]
    return [{"name": op["kind"], "start_us": op["start_us"], "end_us": op["end_us"],
             **op.get("counters", {})}]


def analyse(res):
    """Per-op layer breakdown and spans of one traced harness JVM."""
    tr = res["trace"]
    jobs_by_op = {}
    for j in tr["jobs"]:
        if j.get("op") is not None and "end_ms" in j:
            jobs_by_op.setdefault(j["op"], []).append(j)
    stages = {s["stage"]: s for s in tr["stages"]}
    planning = [(ms_to_us(p["start_ms"]), ms_to_us(p["end_ms"]), p["phase"]) for p in tr["planning"]]
    ops, spans = [], []
    ops_all = res["ops"]
    run_id = "run"
    spans.append({"id": run_id, "parent": None, "name": "run",
                  "start_us": min(o["start_us"] for o in ops_all),
                  "end_us": max(o["end_us"] for o in ops_all)})
    for op in ops_all:
        oid = f"op{op['id']}"
        spans.append({"id": oid, "parent": run_id, "name": f"{op['kind']}:{op['name']}",
                      "start_us": op["start_us"], "end_us": op["end_us"]})
        wall = op["end_us"] - op["start_us"]
        layers = {"harness": wall}
        counts = {"jobs": 0, "stages": 0, "tasks": 0, "compile_count": 0, "records_read": 0}
        ojobs = jobs_by_op.get(op["id"], [])
        phases = op_phases(op)
        for ph in phases:
            ps, pe = ph["start_us"], ph["end_us"]
            pid = f"{oid}.{ph['name']}"
            spans.append({"id": pid, "parent": oid, "name": ph["name"], "start_us": ps, "end_us": pe})
            layers["harness"] -= pe - ps
            pj = [j for j in ojobs if j.get("phase") == ph["name"] or len(phases) == 1]
            kinds = {}
            for j in pj:
                kind = ("write" if j.get("write") else "sig") if op["kind"] == "export" else "jobs"
                kinds.setdefault(kind, []).append((ms_to_us(j["start_ms"]), ms_to_us(j["end_ms"])))
                jid = f"job{j['job']}"
                spans.append({"id": jid, "parent": pid, "name": f"{kind}-job {j['job']}",
                              "start_us": ms_to_us(j["start_ms"]), "end_us": ms_to_us(j["end_ms"])})
                counts["jobs"] += 1
                for sid in j["stages"]:
                    s = stages.get(sid)
                    if s is None:
                        continue
                    spans.append({"id": f"stage{sid}", "parent": jid, "name": f"stage {sid}",
                                  "start_us": ms_to_us(s["submit_ms"]), "end_us": ms_to_us(s["end_ms"]),
                                  "tasks": s["tasks"]})
                    counts["stages"] += 1
                    counts["tasks"] += len(s["task_ms"])
                    counts["records_read"] += s["records_read"]
            job_iv = union(clip([iv for k in kinds.values() for iv in k], ps, pe))
            jobs_t = length(job_iv)
            taken = 0
            for kind, iv in sorted(kinds.items()):
                part = length(union(clip(iv, ps, pe)))
                part = min(part, jobs_t - taken)
                layers[f"{ph['name']}.{kind}"] = part
                taken += part
            pl = [(s, e) for s, e, _ in planning if s >= ps and e <= pe]
            for s, e, name in planning:
                if s >= ps and e <= pe:
                    spans.append({"id": f"{pid}.{name}@{s}", "parent": pid, "name": name,
                                  "start_us": s, "end_us": e})
            plan_t = length(union(minus(union(pl), job_iv)))
            free = (pe - ps) - jobs_t - plan_t
            comp = min(ph.get("compile_ns", 0) / 1000.0, free)
            layers[f"{ph['name']}.plan"] = plan_t
            layers[f"{ph['name']}.compile"] = comp
            layers[f"{ph['name']}.self"] = free - comp
            counts["compile_count"] += ph.get("compile_count", 0)
        ops.append({"id": op["id"], "kind": op["kind"], "name": op["name"],
                    "module": op.get("module"), "wall_s": wall / 1e6,
                    "self_s": {k: v / 1e6 for k, v in layers.items()}, "counts": counts,
                    "layers_sum_ok": abs(sum(layers.values()) - wall) < 1.0 and
                    min(layers.values()) >= -1e-6})
    return ops, spans


def report(passes, workload, extra, modules):
    res = passes[-1]
    ops, spans = analyse(res)
    tr = res["trace"]
    by_id = {o["id"]: o for o in res["ops"]}
    q = [o for o in ops if o["kind"] == "query"]
    # the layer metrics count the measured operations only, not the
    # harness's delta application, probes and output checks
    measured = {o["id"] for o in res["ops"] if o["kind"] not in UNMEASURED}
    jobs = [j for j in tr["jobs"] if j.get("op") in measured]
    in_jobs = {s for j in jobs for s in j["stages"]}
    stages = [s for s in tr["stages"] if s["stage"] in in_jobs]

    def phase_wall(name):
        return sum((p["end_us"] - p["start_us"]) / 1e6 for o in res["ops"] if o["kind"] == "query"
                   for p in o.get("phases", []) if p["name"] == name)

    windows = [(o["start_us"], o["end_us"]) for o in res["ops"] if o["id"] in measured]

    def tracker(name):
        return sum((p["end_ms"] - p["start_ms"]) / 1e3 for p in tr["planning"]
                   if p["phase"] == name and
                   any(a <= ms_to_us(p["start_ms"]) <= b for a, b in windows))

    skews = [max(s["task_ms"]) / statistics.median(s["task_ms"]) for s in stages
             if len(s["task_ms"]) >= 2 and statistics.median(s["task_ms"]) > 0]
    counters = [o.get("counters", {}) for o in res["ops"] if o["id"] in measured]
    m = {
        "construct_s": (phase_wall("construct"), "s"),
        "construct_jobs": (sum(1 for j in jobs if j.get("phase") == "construct"), "count"),
        "analyze_s": (tracker("analysis"), "s"),
        "optimize_s": (tracker("optimization"), "s"),
        "plan_s": (tracker("planning"), "s"),
        "compile_s": (sum(c.get("compile_ns", 0) for c in counters) / 1e9, "s"),
        "compile_count": (sum(c.get("compile_count", 0) for c in counters), "count"),
        "jobs": (len(jobs), "count"),
        "stages": (len(stages), "count"),
        "tasks": (sum(len(s["task_ms"]) for s in stages), "count"),
        "sched_wait_s": (sum(max(0, s["first_launch_ms"] - s["submit_ms"]) for s in stages) / 1e3, "s"),
        "execute_s": (phase_wall("execute"), "s"),
        "task_run_s": (sum(s["run_ms"] for s in stages) / 1e3, "s"),
        "task_cpu_s": (sum(s["cpu_ns"] for s in stages) / 1e9, "s"),
        "shuffle_read_mb": (sum(s["shuffle_read"] for s in stages) / MB, "MB"),
        "shuffle_write_mb": (sum(s["shuffle_write"] for s in stages) / MB, "MB"),
        "spill_mb": (sum(s["spill"] for s in stages) / MB, "MB"),
        "peak_exec_mem_mb": (max([s["peak_mem"] for s in stages] or [0]) / MB, "MB"),
        "task_skew": (med(skews), "ratio"),
        "gc_s": (sum(c.get("gc_ms", 0) for c in counters) / 1e3, "s"),
        "jit_s": (sum(c.get("jit_ms", 0) for c in counters) / 1e3, "s"),
    }
    for mod in sorted(modules):
        m[f"wall_s.{mod}"] = (sum(o["wall_s"] for o in q if o["module"] == mod), "s")
    m.update(sources(res, ops, by_id))
    m["trace_overhead_s"] = (
        ((res["ops"][-1]["end_us"] - res["ops"][0]["start_us"]) / 1e6 - extra["untraced_pass_s"])
        if "untraced_pass_s" in extra else 0.0, "s")
    layers = {}
    for o in ops:
        for k, v in o["self_s"].items():
            layers[k] = layers.get(k, 0.0) + v
    return {"workload": workload, "metrics": m, "layers_self_s": layers,
            "all_ops_layers_sum_to_wall": all(o["layers_sum_ok"] for o in ops),
            "ops": ops, "spans": spans}


def sources(res, ops, by_id):
    """graft.sources metrics of the snapshot cycle (zero on the suites)."""
    def walls(kind, name=None):
        return [o["wall_s"] for o in ops
                if o["kind"] == kind and (name is None or o["name"] == name) and by_id[o["id"]]["ok"]]

    incr = [o for o in ops if o["kind"] == "export" and o["name"] == "incremental"]
    jobs = res["trace"]["jobs"]
    sig, wr, commit = [], [], []
    hashed = written = rewritten = inherited = 0
    write_mb = []
    for o in incr:
        raw = by_id[o["id"]]
        sig.append(o["self_s"].get(f"{raw['kind']}.sig", 0.0))
        wr.append(o["self_s"].get(f"{raw['kind']}.write", 0.0))
        ends = [ms_to_us(j["end_ms"]) for j in jobs if j.get("op") == o["id"] and "end_ms" in j]
        if ends:
            commit.append((raw["end_us"] - max(ends)) / 1e3)
        man = raw.get("manifest", {})
        tag = f"/{gen.tag(raw['cycle'])}/"
        new = {t: e for t, e in man.items() if any(tag in p for p in e["paths"])}
        hashed += sum(e["rows"] for e in man.values())
        written += sum(e["rows"] for e in new.values())
        rewritten += len(new)
        inherited += len(man) - len(new)
        app = next((a for a in res["ops"] if a["kind"] == "append" and a.get("cycle") == raw["cycle"]), None)
        appended = 0
        if app and "manifest" in app:
            appended = app["manifest"]["events"]["bytes"] - man.get("events", {}).get("bytes", 0)
        write_mb.append((sum(e["bytes"] for e in new.values()) + appended) / MB)
    n = max(len(incr), 1)
    lookups = [o for o in res["ops"] if o["kind"] == "lookup" and o["name"] in ("point", "range") and o["ok"]]
    files = tasks = read = returned = 0
    exports = {o["cycle"]: o.get("manifest", {}) for o in res["ops"] if o["kind"] == "export"}
    counts = {o["id"]: o["counts"] for o in ops}
    for lk in lookups:
        table = "lineitem" if lk["name"] == "point" else "orders"
        files += exports.get(lk["cycle"], {}).get(table, {}).get("files", 0)
        tasks += counts[lk["id"]]["tasks"]
        read += counts[lk["id"]]["records_read"]
        returned += len(lk["result"]) if lk["name"] == "point" else lk["result"][0]
    swept = sum(o.get("result", 0) for o in res["ops"] if o["kind"] == "vacuum" and o["ok"])
    probe = lambda name: [o["wall_s"] * 1e3 for o in ops if o["kind"] == "probe" and o["name"] == name]
    return {
        "export_full_s": (med(walls("export", "full")), "s"),
        "export_incr_p50_s": (med(walls("export", "incremental")), "s"),
        "append_p50_s": (med(walls("append")), "s"),
        "restore_p50_s": (med(walls("restore")), "s"),
        "export_sig_s": (med(sig), "s"),
        "export_write_s": (med(wr), "s"),
        "commit_ms": (med(commit), "ms"),
        "sig_rows_per_written_row": (hashed / written if written else 0.0, "ratio"),
        "tables_rewritten": (rewritten / n, "count"),
        "tables_inherited": (inherited / n, "count"),
        "incr_write_mb": (med(write_mb), "MB"),
        "space_amp": (res["disk_bytes"] / res["newest_ref_bytes"]
                      if res.get("newest_ref_bytes") else 0.0, "ratio"),
        "manifest_read_ms": (med(probe("manifest_read")), "ms"),
        "files_scanned_ratio": (tasks / files if files else 0.0, "ratio"),
        "rows_read_per_row_returned": (read / returned if returned else 0.0, "ratio"),
        "asof_resolve_ms": (med(probe("asof_resolve")), "ms"),
        "retain_s": (med(walls("retain")), "s"),
        "vacuum_s": (med(walls("vacuum")), "s"),
        "files_swept": (swept, "count"),
    }
