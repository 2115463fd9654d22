"""Output checks: every timed operation's response is judged here.

A response passes only if it is HTTP 200, carries its result key and
matches what the operation's `check` (and, on the seeded oracle subset,
the independent Spark SQL answer over the raw parquet) expects.  A
failed operation is counted in `failed` and never timed as a success.
"""

import json
import math
from dataclasses import dataclass


@dataclass
class Verdict:
    i: int
    ok: bool
    reason: str = ""


def _same(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _rows(value):
    """Rendered result as a list of row objects: the gateway renders a
    single-row, single-column result as a bare scalar."""
    if isinstance(value, list):
        return value
    return [value]


def _row_matches(row, want):
    return isinstance(row, dict) and all(k in row and _same(row[k], v)
                                         for k, v in want.items())


def _multiset_equal(rows, want):
    left = list(rows)
    for w in want:
        hit = next((k for k, r in enumerate(left) if _row_matches(r, w)), None)
        if hit is None:
            return False
        left.pop(hit)
    return not left


def _in_label(row, c):
    """A loaded row's id is its label's id band plus its key (TestGraph);
    a row the list wrote has an engine-allocated id and a key at or
    above `written_from`."""
    if not isinstance(row, dict) or not isinstance(row.get("id"), int):
        return False
    key = row.get(c["key"])
    if not isinstance(key, int):
        return False
    if key >= c["written_from"]:
        return True
    return row["id"] == c["band"] + key


def check(op, result, oracle_rows=None):
    """Judge one response.  `result` is the harness record (status, body);
    `oracle_rows` the independent answer when the op has one."""
    i = op["i"]
    if result is None:
        return Verdict(i, False, "no response recorded")
    if result["status"] != 200:
        return Verdict(i, False, f"HTTP {result['status']}: {result['body'][:200]}")
    try:
        doc = json.loads(result["body"])
    except ValueError:
        return Verdict(i, False, "response is not JSON")
    c = op["check"]
    if not isinstance(doc, dict) or c["result"] not in doc:
        return Verdict(i, False, f"result key {c['result']!r} missing")
    value = doc[c["result"]]
    kind = c["kind"]
    if kind == "rows":
        rows = [] if value is None else _rows(value)
        if c.get("expect") is not None and not (
                len(rows) == len(c["expect"]) and
                all(any(_row_matches(r, w) for r in rows) for w in c["expect"])):
            return Verdict(i, False, f"read-your-writes mismatch: {rows[:3]} vs {c['expect']}")
        if c.get("key") is not None and not (
                len(rows) == 1 and _row_matches(rows[0], {"c_custkey": c["key"]})):
            return Verdict(i, False, f"lookup of {c['key']} returned {rows[:3]}")
    elif kind == "scalar":
        if not isinstance(value, (int, float)) or isinstance(value, bool):
            return Verdict(i, False, f"expected a number, got {str(value)[:80]}")
        if "equals" in c and not _same(value, c["equals"]):
            return Verdict(i, False, f"expected {c['equals']}, got {value}")
    elif kind == "topk":
        rows = [] if value is None else _rows(value)
        if len(rows) > c["k"]:
            return Verdict(i, False, f"{len(rows)} rows for top-{c['k']}")
        if not all(_in_label(r, c) for r in rows):
            return Verdict(i, False, f"search returned a row outside the searched label: {rows}")
    else:
        return Verdict(i, False, f"unknown check kind {kind}")
    if op.get("oracle") is not None:
        if oracle_rows is None:
            return Verdict(i, False, "oracle answer missing")
        if not _multiset_equal([] if value is None else _rows(value), oracle_rows):
            return Verdict(i, False, "rows differ from the oracle")
    return Verdict(i, True)


def check_all(ops, results, oracle):
    by_i = {r["i"]: r for r in results}
    return [check(op, by_i.get(op["i"]), oracle.get(op["i"])) for op in ops]
