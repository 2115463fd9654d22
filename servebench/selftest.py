"""Self-test of the benchmark's own logic (no JVM needed).

    python3 servebench/selftest.py

run.py calls run_all() before every measurement, so a run whose
statistics, operation lists or checks are broken fails instead of
printing numbers.
"""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import checks  # noqa: E402
import report  # noqa: E402
import workloads  # noqa: E402


def test_tail_rule():
    assert report.tail(list(range(10))) is None
    # p95 at 200 samples: exactly ten samples lie above it
    p, v = report.tail([float(x) for x in range(200)])
    assert (p, v) == (95, 189.0), (p, v)
    assert sum(1 for x in range(200) if x > v) == 10
    p, v = report.tail([float(x) for x in range(40)])
    assert (p, v) == (75, 29.0), (p, v)
    for n in (11, 17, 29, 60, 333):
        p, v = report.tail([float(x) for x in range(n)])
        assert sum(1 for x in range(n) if x > v) >= 10, n
        # one percentile higher would leave fewer than ten beyond
        assert 100 * (n - 10) / n < p + 1, n
    # order of the input does not matter
    assert report.tail([3.0, 1.0, 2.0] * 5) == report.tail(sorted([3.0, 1.0, 2.0] * 5))


def test_slot_ms():
    # each template's p50, weighted by its share of the slot's samples
    ops = [{"i": i, "tpl": t} for i, t in enumerate("aaab")]
    results = [{"i": i, "latency_ms": ms} for i, ms in enumerate((1.0, 2.0, 9.0, 40.0))]
    verdicts = [checks.Verdict(i, True, "") for i in range(4)]
    assert report.slot_ms(ops, results, verdicts, ("a", "b")) == (3 * 2.0 + 40.0) / 4
    assert report.slot_ms(ops, results, verdicts, ("a",)) == 2.0
    # a failed operation is left out of its template's p50
    verdicts[3] = checks.Verdict(3, False, "wrong")
    assert report.slot_ms(ops, results, verdicts, ("a", "b")) == 2.0
    assert report.slot_ms(ops, results, verdicts, ("b",)) is None


def test_seeded_lists():
    for w in workloads.WORKLOADS:
        a = workloads.dump(workloads.generate(w, 7, 10))
        b = workloads.dump(workloads.generate(w, 7, 10))
        c = workloads.dump(workloads.generate(w, 8, 10))
        assert a == b, f"{w}: same seed gave different lists"
        assert a != c, f"{w}: different seeds gave the same list"
        # warm-up draws never repeat a timed request
        timed = {op["body"] for op in workloads.generate(w, 7, 10)}
        warm = {op["body"] for op in workloads.generate(w, 7, 10, warm=True)}
        assert not timed & warm, f"{w}: warm-up repeats a timed request"


def test_wrong_answer_counts_as_failed():
    ops = workloads.generate("lookup_read", 3, 4)
    op = next(o for o in ops if o["tpl"] == "point")
    key = json.loads(op["body"])["key"]
    good = {"i": op["i"], "status": 200, "latency_ms": 5.0,
            "body": json.dumps({"c": [{"c_custkey": key, "c_name": "x", "c_acctbal": 1.0}]})}
    wrong = dict(good, latency_ms=1.0,
                 body=json.dumps({"c": [{"c_custkey": key + 1, "c_name": "x",
                                         "c_acctbal": 1.0}]}))
    assert checks.check(dict(op, oracle=None), good).ok
    v = checks.check(dict(op, oracle=None), wrong)
    assert not v.ok
    # an oracle mismatch fails even when the shape is right
    oracle = [{"c_custkey": key, "c_name": "y", "c_acctbal": 1.0}]
    assert not checks.check(dict(op, oracle="sql"), good, oracle).ok
    # HTTP errors and missing result keys fail
    assert not checks.check(op, dict(good, status=400)).ok
    assert not checks.check(op, dict(good, body="{}")).ok
    # a failed operation is not timed as a success
    verdicts = [v]
    assert report._timed([op], [wrong], verdicts, lambda o: True) == []
    m = report.end_to_end("lookup_read", [op], [wrong], verdicts,
                          {"setup_s": 1.0, "wall_s": 1.0, "heap_mb": 1.0})
    assert m["ops_per_s"]["value"] == 0.0


def test_search_checks():
    op = workloads.bm25_op(("spark", "join"))
    op["i"] = 0
    rows = [{"id": workloads.DOCUMENT_BAND + k, "doc_id": k} for k in range(10)]
    ok = {"i": 0, "status": 200, "body": json.dumps({"r": rows})}
    assert checks.check(op, ok).ok
    too_many = dict(ok, body=json.dumps({"r": rows + rows[:1]}))
    assert not checks.check(op, too_many).ok
    other_label = dict(ok, body=json.dumps({"r": [{"id": workloads.ORDER_BAND, "doc_id": 0}]}))
    assert not checks.check(op, other_label).ok
    # a Document the list wrote carries an engine-allocated id
    written = {"id": 5 * 10**17 + 3, "doc_id": workloads.NEW_DOC_ID + 2}
    assert checks.check(op, dict(ok, body=json.dumps({"r": rows[:9] + [written]}))).ok


def run_all():
    for name, fn in sorted(globals().items()):
        if name.startswith("test_") and callable(fn):
            fn()


if __name__ == "__main__":
    run_all()
    print("servebench self-test: ok")
