"""Statistics and metric assembly for the serving benchmark."""

import math
import statistics

# Each workload reports two latency slots, `primary` and `secondary`:
# the templates timed in each.  Slots never pool across workloads, and
# within a workload each template's share of the list is fixed.  A
# slot's figure is the p50 of each of its templates, weighted by the
# template's share of the slot (slot_ms): for a one-template slot that
# is its p50.  A median over templates whose latencies differ several
# times would sit on the boundary between two of them and jump between
# runs; a mean would follow every burst on the host.
SLOTS = {
    "lookup_read": (("point",), ("hop1",)),
    "write_mix": (("add_customer", "add_placed", "set_acctbal", "add_document"),
                  ("point", "hop1")),
}
CLASSES = ("lookup", "search", "write")
TAIL_BEYOND = 10


def tail(samples):
    """Highest whole percentile with at least TAIL_BEYOND samples beyond
    it, by nearest rank: p95 at 200 samples, p75 at 40.  Returns
    (percentile, value), or None below TAIL_BEYOND + 1 samples."""
    n = len(samples)
    if n <= TAIL_BEYOND:
        return None
    p = math.floor(100 * (n - TAIL_BEYOND) / n)
    rank = max(1, math.ceil(p * n / 100))
    return p, sorted(samples)[rank - 1]


def p50(samples):
    return statistics.median(samples) if samples else None


def slot_ms(ops, results, verdicts, tpls):
    """Share-weighted p50 of the templates in `tpls`, over successful
    operations; None when none succeeded."""
    per = {t: _timed(ops, results, verdicts, lambda op, t=t: op["tpl"] == t)
           for t in tpls}
    n = sum(len(s) for s in per.values())
    return sum(len(s) * p50(s) for s in per.values() if s) / n if n else None


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return -1.0


def _timed(ops, results, verdicts, keep):
    """Latencies of the successful operations whose template passes `keep`."""
    by_i = {r["i"]: r for r in results}
    return [by_i[op["i"]]["latency_ms"] for op, v in zip(ops, verdicts)
            if v.ok and keep(op)]


def summary(samples):
    t = tail(samples)
    return {"n": len(samples), "p50_ms": p50(samples),
            "tail_pct": t[0] if t else None, "tail_ms": t[1] if t else None}


def end_to_end(workload, ops, results, verdicts, run):
    ok = sum(1 for v in verdicts if v.ok)
    m = {"setup_s": (run["setup_s"], "s"),
         "ops_per_s": (ok / run["wall_s"], "1/s"),
         "heap_mb": (run["heap_mb"], "MB")}
    for slot, tpls in zip(("primary", "secondary"), SLOTS[workload]):
        m[f"{slot}_ms"] = (slot_ms(ops, results, verdicts, tpls) or 0.0, "ms")
    return {k: {"value": v, "unit": u} for k, (v, u) in sorted(m.items())}


def detail(workload, ops, results, verdicts, run, clients, load1):
    """Everything a reader needs to judge one run: per-class and
    per-slot latency with sample counts, failures and host context."""
    classes = {}
    for c in CLASSES:
        s = _timed(ops, results, verdicts, lambda op: op["cls"] == c)
        if s:
            classes[c] = summary(s)
    slots = {}
    for slot, tpls in zip(("primary", "secondary"), SLOTS[workload]):
        slots[slot] = dict(summary(_timed(ops, results, verdicts,
                                          lambda op: op["tpl"] in tpls)),
                           templates=list(tpls))
    templates = sorted({op["tpl"] for op in ops})
    failed = sum(1 for v in verdicts if not v.ok)
    samples = {"setup_s": 1, "ops_per_s": len(ops) - failed,
               "primary_ms": slots["primary"]["n"],
               "secondary_ms": slots["secondary"]["n"], "heap_mb": 1}
    return {"detail": {
        "workload": workload, "closed_loop": True, "clients": clients,
        "attempted": len(ops), "failed": failed, "failed_frac": failed / len(ops),
        "samples": samples, "classes": classes, "slots": slots,
        "templates": {t: summary(_timed(ops, results, verdicts,
                                        lambda op: op["tpl"] == t)) for t in templates},
        "setup_s": run["setup_s"], "wall_s": run["wall_s"],
        "jvm_to_session_s": run["jvm_to_session_s"],
        "host": {"loadavg_1m_at_start": load1, "cpu_steal_pct": run["steal_pct"],
                 "jvm_gc_ms": run["gc_ms"]}}}


def per_layer(ops, results, verdicts, run, clients, load1, traces, jobs):
    """Per-layer metrics of a traced run (see README.md for the layer
    each one times and the end-to-end metric it should move)."""
    by_i = {t["i"]: t for t in traces}
    res = {r["i"]: r for r in results}
    ok = {v.i for v in verdicts if v.ok}
    n = len(ops)
    reads = [by_i[i] for i in sorted(ok) if not ops[i]["write"]]
    writes = [by_i[i] for i in sorted(ok) if ops[i]["write"]]
    every = [by_i[i] for i in sorted(ok)]

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    def catalyst(ts):
        return sum(t["analysis_ms"] + t["optimize_ms"] + t["planning_ms"] for t in ts)

    op_jobs = {}
    for j in jobs:
        if ":" in j["span"]:
            i, span = j["span"].split(":", 1)
            op_jobs.setdefault(int(i), []).append((span, j))

    def per_op(field, spans=None):
        return sum(j[field] for lst in op_jobs.values() for s, j in lst
                   if spans is None or s in spans) / n

    def count_per_op(spans):
        return sum(1 for lst in op_jobs.values() for s, _ in lst if s in spans) / n

    waits = [sum(j["sched_wait_ms"] for _, j in op_jobs.get(t["i"], [])) for t in every]
    inproc = [t["decode_ms"] + t["build_ms"] + t["plan_ms"] + t["exec_ms"] for t in reads]
    render = [t["handle_ms"] - x for t, x in zip(reads, inproc)]
    http = [t["client_ms"] - t["handle_ms"] for t in reads]
    q = max(1, len(every) // 4)
    bm25 = [(op, res[op["i"]]["latency_ms"]) for op in ops
            if op["tpl"] == "bm25" and op["i"] in ok]
    steady = [ms for op, ms in bm25 if not op["check"].get("after_doc_write")]
    rebuilt = [ms for op, ms in bm25 if op["check"].get("after_doc_write")]
    # Tracing overhead is estimated within this run: the untraced rate
    # is taken as the clients' HTTP time alone, without the replays.
    # The live operations follow replays, so their caches are warmer
    # than in an untraced run of the same seed.
    busy_s = sum(t["client_ms"] for t in every) / 1000.0
    http_only_ops_per_s = len(every) * clients / busy_s if busy_s else 0.0
    traced_ops_per_s = len(ok) / run["wall_s"]

    m = {
        "ast.decode_ms": (med([t["decode_ms"] for t in every]), "ms"),
        "exec.build_ms": (med([t["build_ms"] for t in every]), "ms"),
        "exec.build_jobs_per_op": (count_per_op({"build"}), "count"),
        "catalyst.analysis_ms": (med([t["analysis_ms"] for t in every]), "ms"),
        "catalyst.optimize_ms": (med([t["optimize_ms"] for t in every]), "ms"),
        "catalyst.planning_ms": (med([t["planning_ms"] for t in every]), "ms"),
        "catalyst.first_quarter_ms": (catalyst(every[:q]) / q, "ms"),
        "catalyst.last_quarter_ms": (catalyst(every[-q:]) / q, "ms"),
        "spark.jobs_per_op": (count_per_op({"build", "plan", "exec"}), "count"),
        "spark.stages_per_op": (per_op("stages", {"build", "plan", "exec"}), "count"),
        "spark.task_ms_per_op": (per_op("task_ms", {"build", "plan", "exec"}), "ms"),
        "spark.shuffle_bytes_per_op": (per_op("shuffle_bytes", {"build", "plan", "exec"}), "B"),
        "spark.sched_wait_ms": (med(waits), "ms"),
        "spark.exec_ms": (med([t["exec_ms"] for t in every]), "ms"),
        "server.inprocess_ms": (med([t["handle_ms"] for t in reads]), "ms"),
        "server.render_ms": (med(render), "ms"),
        "server.http_ms": (med(http), "ms"),
        "server.response_bytes_per_op": (sum(res[i]["bytes"] for i in ok) / max(1, len(ok)), "B"),
        "search.index_entries": (med([res[i]["index_entries"] for i in ok]), "count"),
        "search.rebuild_ms": ((med(rebuilt) - med(steady)) if rebuilt and steady else 0.0, "ms"),
        "model.wal_ms": (med([t["wal_ms"] for t in writes]), "ms"),
        "model.wal_bytes_per_write": (sum(t["wal_bytes"] for t in writes) / max(1, len(writes)), "B"),
        "model.union_depth": (run["union_depth"], "count"),
        "jvm.gc_ms": (run["gc_ms"], "ms"),
        "host.loadavg_1m": (load1, "load"),
        "host.cpu_steal_pct": (run["steal_pct"], "%"),
        "trace.ops_per_s": (traced_ops_per_s, "1/s"),
        "trace.overhead_pct": (100.0 * (http_only_ops_per_s / traced_ops_per_s - 1.0)
                               if traced_ops_per_s else 0.0, "%"),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in sorted(m.items())}
