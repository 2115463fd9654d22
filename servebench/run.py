"""Serving benchmark: JSON envelopes over HTTP loopback into an in-process
graft Gateway, JSON out, for a fixed seeded list of operations.

    python3 servebench/run.py --workload lookup_read --seed 1 --seconds 25 --trace 0

Prints progress on stderr and, as the last line of stdout, one JSON
object {"correct", "attempted", "failed", "metrics"}.  With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
the per-layer metrics.  The line before it carries per-class latencies
with sample counts, failures and host context.  A run that fails, or
whose outputs fail a check, leaves its run directory (op lists,
responses, oracle answers, JVM log) under .bench_build/servebench/.
See servebench/README.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import checks  # noqa: E402
import report  # noqa: E402
import selftest  # noqa: E402
import workloads  # noqa: E402

JVM_TIMEOUT_S = 170

JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io",
               "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def log(msg):
    print(f"[servebench] {msg}", file=sys.stderr, flush=True)


def data_dir():
    d = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.expanduser("~/testdata/sf0.1")
    if not Path(d, "customer.parquet").exists():
        raise build.BuildError(f"sf0.1 test data not found at {d} (set SPARK_GRAFT_SF_DIR)")
    return d


def run_jvm(run_dir, workload, trace, deadline):
    cpus = os.cpu_count() or 4
    clients = min(workloads.CLIENTS[workload], cpus)
    cmd = ["java", "-Xmx4g", "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData",
           *[x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-cp", build.classpath(), "servebench.Harness",
           "--dir", str(run_dir), "--data", data_dir(), "--clients", str(clients),
           "--cpus", str(cpus), "--trace", str(trace),
           "--wal", "1" if workload == "write_mix" else "0"]
    (run_dir / "tmp").mkdir()
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep both in the run
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    with open(run_dir / "jvm.log", "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise RuntimeError("harness timed out")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-3000:]
        raise RuntimeError(f"harness exited {rc}:\n{tail}")
    return clients


def read_jsonl(p):
    if not p.exists():
        return []
    return [json.loads(line) for line in p.read_text().splitlines() if line.strip()]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load1 = report.loadavg()

    selftest.run_all()  # the benchmark's own logic, before any measuring
    try:
        build.build()
        data_dir()
    except build.BuildError as e:
        log(f"cannot run: {e}")
        return 2
    deadline = time.monotonic() + JVM_TIMEOUT_S

    run_dir = Path.cwd() / ".bench_build" / "servebench" / f"run-{os.getpid()}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    run_dir.mkdir(parents=True)
    ops = workloads.generate(a.workload, a.seed, a.seconds)
    warm = workloads.generate(a.workload, a.seed, a.seconds, warm=True)
    (run_dir / "ops.jsonl").write_text(workloads.dump(ops))
    (run_dir / "warm.jsonl").write_text(workloads.dump(warm))
    (run_dir / "bundle.json").write_text(workloads.bundle())
    log(f"{a.workload} seed={a.seed}: {len(ops)} operations, trace={a.trace}")
    try:
        clients = run_jvm(run_dir, a.workload, a.trace, deadline)
    except RuntimeError:
        log(f"run directory kept: {run_dir}")
        raise
    run = json.loads((run_dir / "run.json").read_text())
    results = read_jsonl(run_dir / "results.jsonl")
    oracle = {r["i"]: r["rows"] for r in read_jsonl(run_dir / "oracle.jsonl")}
    verdicts = checks.check_all(ops, results, oracle)
    detail = report.detail(a.workload, ops, results, verdicts, run, clients, load1)
    if a.trace:
        metrics = report.per_layer(ops, results, verdicts, run, clients, load1,
                                   read_jsonl(run_dir / "trace.jsonl"),
                                   read_jsonl(run_dir / "jobs.jsonl"))
    else:
        metrics = report.end_to_end(a.workload, ops, results, verdicts, run)
    failed = sum(1 for v in verdicts if not v.ok)
    for v in verdicts:
        if not v.ok:
            log(f"op {v.i} failed: {v.reason}")
    if failed:
        log(f"run directory kept: {run_dir}")
    else:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
