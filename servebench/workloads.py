"""Seeded operation lists for the serving benchmark.

Every run executes a fixed list of operations generated here from the
seed: no loop is bounded by time, so two runs with the same seed do
identical work.  The gateway only ever sees the generated envelopes.

Each operation is a dict:
  cls       latency class (lookup, search, write)
  tpl       template inside the class
  path      HTTP path the client posts to
  body      request body sent over the wire
  inline    the same request as an inline /v1/query envelope (the traced
            run decodes and executes this form layer by layer)
  write     whether the request is a write batch
  check     what the checker expects of the response
  oracle    optional Spark SQL over the raw parquet tables whose rows the
            response must equal
"""

import bisect
import json
import random

CUSTOMERS = 15000          # c_custkey 0..14999 at sf0.1
ORDERS = 150000            # o_orderkey 0..149999
TERMS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
ORDER_BAND = 6 * 10**9     # TestGraph id band of Order nodes
DOCUMENT_BAND = 9 * 10**9
NEW_CUSTKEY = 1_000_000    # keys written by write_mix start here
NEW_DOC_ID = 1_000_000
WARM_KEYS = 1000           # last WARM_KEYS positions of the key permutation
TOP_K = 10
# Warm-up sizes.  Each run starts a cold JVM; with only a few warm-up
# operations the timed list ran while the JIT was still compiling, its
# latencies fell by about half along the list, and how fast they fell
# differed from run to run.  These sizes bring the warm-up latencies
# down to the timed list's level: lookups level off after about a
# dozen, writes after the first block (which pays the id scan).
WARM_LOOKUPS = 20
WARM_BLOCKS = 2

CLIENTS = {"lookup_read": 1, "write_mix": 1}

# Operations per second of --seconds.  The list length is a pure
# function of (workload, seconds), so every run of a workload does the
# same amount of work; the rates only size the list to roughly fill the
# requested measuring time on a 4-core host (write_mix runs whole
# blocks of about five operations: four blocks at --seconds 25).
OPS_PER_SECOND = {"lookup_read": 1.6, "write_mix": 0.9}


def _q(name, steps):
    return {"Query": {"name": name, "steps": steps, "condition": None}}


def _label_and(label, *preds):
    return {"NWhere": {"And": [{"Eq": ["$label", {"String": label}]}, *preds]}}


def _key_eq(expr):
    return {"EqExpr": ["c_custkey", expr]}


def _envelope(write, queries, returns, params=None):
    return json.dumps({"request_type": "write" if write else "read",
                       "query_name": None,
                       "query": {"queries": queries, "returns": returns},
                       "parameters": params or {}},
                      sort_keys=True, separators=(",", ":"))


# ------------------------------------------------------------- stored routes

POINT_STEPS = [_label_and("Customer", _key_eq({"Param": "key"})),
               {"Values": ["c_custkey", "c_name", "c_acctbal"]}]
HOP1_STEPS = [_label_and("Customer", _key_eq({"Param": "key"})),
              {"Out": "PLACED"},
              {"Values": ["o_orderkey", "o_totalprice"]}]
ROUTES = {"cust_point": ("c", POINT_STEPS), "cust_orders": ("o", HOP1_STEPS)}


def bundle():
    """The queries.json (v5) bundle deployed through /v1/deploy."""
    reads = {name: {"queries": [_q(res, steps)], "returns": [res]}
             for name, (res, steps) in ROUTES.items()}
    params = {name: [{"name": "key", "ty": "I64"}] for name in ROUTES}
    return json.dumps({"version": 5, "read_routes": reads, "write_routes": {},
                       "read_parameters": params, "write_parameters": {}},
                      sort_keys=True, separators=(",", ":"))


def _route_op(cls, tpl, route, key, check, oracle=None):
    res, steps = ROUTES[route]
    return {"cls": cls, "tpl": tpl, "path": "/v1/query/" + route,
            "body": json.dumps({"key": key}),
            "inline": _envelope(False, [_q(res, steps)], [res], {"key": key}),
            "write": False, "check": check, "oracle": oracle}


def point_op(key, expect=None, oracle=False):
    check = {"kind": "rows", "result": "c", "expect": expect, "key": key}
    sql = (f"SELECT c_custkey, c_name, c_acctbal FROM customer "
           f"WHERE c_custkey = {key}") if oracle else None
    return _route_op("lookup", "point", "cust_point", key, check, sql)


def hop1_op(key, expect=None, oracle=False):
    check = {"kind": "rows", "result": "o", "expect": expect}
    sql = (f"SELECT o_orderkey, o_totalprice FROM orders "
           f"WHERE o_custkey = {key}") if oracle else None
    return _route_op("lookup", "hop1", "cust_orders", key, check, sql)


# ---------------------------------------------------------- inline requests

def _inline_op(cls, tpl, steps, check, oracle=None, write=False, res="r"):
    body = _envelope(write, [_q(res, steps)], [res])
    return {"cls": cls, "tpl": tpl, "path": "/v1/query", "body": body,
            "inline": body, "write": write, "check": check, "oracle": oracle}


def bm25_op(terms):
    steps = [{"TextSearchNodes": {"label": "Document", "property": "text",
                                  "tenant_value": None,
                                  "query_text": {"Value": {"String": " ".join(terms)}},
                                  "k": {"Literal": TOP_K}}},
             {"Values": ["$id", "doc_id"]}]
    return _inline_op("search", "bm25", steps,
                      {"kind": "topk", "result": "r", "k": TOP_K, "key": "doc_id",
                       "band": DOCUMENT_BAND, "written_from": NEW_DOC_ID})


# ------------------------------------------------------------------ writes

def add_customer_op(key, name, acctbal):
    steps = [{"AddN": {"label": "Customer", "properties": [
        ["c_custkey", {"Value": {"I64": key}}],
        ["c_name", {"Value": {"String": name}}],
        ["c_acctbal", {"Value": {"F64": acctbal}}]]}},
        {"Values": ["c_custkey"]}]
    return _inline_op("write", "add_customer", steps,
                      {"kind": "scalar", "result": "r", "equals": key}, write=True)


def add_placed_op(key, orderkey):
    steps = [_label_and("Customer", _key_eq({"Constant": {"I64": key}})),
             {"AddE": {"label": "PLACED", "to": {"Ids": [ORDER_BAND + orderkey]},
                       "properties": []}},
             "Count"]
    return _inline_op("write", "add_placed", steps,
                      {"kind": "scalar", "result": "r", "equals": 1}, write=True)


def set_acctbal_op(key, acctbal):
    steps = [_label_and("Customer", _key_eq({"Constant": {"I64": key}})),
             {"SetProperty": ["c_acctbal", {"Value": {"F64": acctbal}}]},
             "Count"]
    return _inline_op("write", "set_acctbal", steps,
                      {"kind": "scalar", "result": "r", "equals": 1}, write=True)


def add_document_op(doc_id, text):
    steps = [{"AddN": {"label": "Document", "properties": [
        ["doc_id", {"Value": {"I64": doc_id}}],
        ["text", {"Value": {"String": text}}],
        ["lang", {"Value": {"String": "en"}}],
        ["source", {"Value": {"String": "bench"}}],
        ["n_chars", {"Value": {"I64": len(text)}}]]}},
        {"Values": ["doc_id"]}]
    return _inline_op("write", "add_document", steps,
                      {"kind": "scalar", "result": "r", "equals": doc_id}, write=True)


# -------------------------------------------------------------- generators

class Draws:
    """Seeded parameter draws.  Customer keys are permuted by the seed;
    the timed list draws Zipf-skewed ranks from the first
    CUSTOMERS - WARM_KEYS positions and the warm-up draws from the rest,
    so no timed key was touched during warm-up.  Warm-up searches use
    four terms and timed ones two or three, so their term sets differ."""

    def __init__(self, seed, warm):
        self.warm = warm
        self.rng = random.Random(f"{seed}:{'warm' if warm else 'timed'}")
        perm = list(range(CUSTOMERS))
        random.Random(f"{seed}:keys").shuffle(perm)
        self.keys = perm[CUSTOMERS - WARM_KEYS:] if warm else perm[:CUSTOMERS - WARM_KEYS]
        s = 1.1
        weights = [1.0 / (r + 1) ** s for r in range(len(self.keys))]
        total = sum(weights)
        acc, self.cdf = 0.0, []
        for w in weights:
            acc += w / total
            self.cdf.append(acc)

    def zipf_key(self):
        u = self.rng.random()
        return self.keys[min(bisect.bisect_left(self.cdf, u), len(self.keys) - 1)]

    def uniform_key(self):
        return self.rng.choice(self.keys)

    def terms(self, used):
        while True:
            size = 4 if self.warm else self.rng.choice((2, 3))
            t = tuple(sorted(self.rng.sample(TERMS, size)))
            if t not in used:
                used.add(t)
                return t


def _n_ops(workload, seconds):
    return max(8, int(round(OPS_PER_SECOND[workload] * seconds)))


def _by_share(rng, n, shares):
    """Exactly round(n * share) slots per template, in seeded order, so
    every seed runs the same count of each template."""
    names = []
    for name, share in shares:
        names += [name] * int(round(n * share))
    rng.shuffle(names)
    return names


def lookup_read(seed, seconds, warm=False):
    d = Draws(seed, warm)
    n = WARM_LOOKUPS if warm else _n_ops("lookup_read", seconds)
    ops = []
    for i, tpl in enumerate(_by_share(d.rng, n, [("point", 0.5), ("hop1", 0.5)])):
        key = d.zipf_key() if not warm else d.uniform_key()
        oracle = not warm and i % 4 == 0
        ops.append(point_op(key, oracle=oracle) if tpl == "point"
                   else hop1_op(key, oracle=oracle))
    return ops


def write_mix(seed, seconds, warm=False):
    """One interleaved list, run by one client so every run sees the same
    store state at every operation.  Each block adds a customer, updates
    an existing one and reads both writes back; every other block then
    runs a BM25 search, and every third block adds a Document and
    searches right after it (the postings rebuild).  One AddE PLACED,
    read back by a 1-hop lookup, sits in the middle block: its target
    is a node-id list, which re-plans over every node label on each
    later read of PLACED, so more of them would dominate the list."""
    d = Draws(seed, warm)
    blocks = WARM_BLOCKS if warm else max(2, _n_ops("write_mix", seconds) // 5)
    base = NEW_CUSTKEY + (500_000 if warm else 0)
    used = set()
    ops = []
    for block in range(blocks):
        key = base + block
        bal = round(d.rng.uniform(-999.0, 9999.0), 2)
        other = d.zipf_key() if not warm else d.uniform_key()
        newbal = round(d.rng.uniform(-999.0, 9999.0), 2)
        name = f"Customer#bench{key}"
        ops += [add_customer_op(key, name, bal),
                point_op(key, expect=[{"c_custkey": key, "c_name": name,
                                       "c_acctbal": bal}]),
                set_acctbal_op(other, newbal),
                point_op(other, expect=[{"c_custkey": other, "c_acctbal": newbal}])]
        if warm:
            continue
        if block % 2 == 0:
            ops.append(bm25_op(d.terms(used)))
        if block == blocks // 2:
            order = d.rng.randrange(ORDERS)
            ops += [add_placed_op(key, order),
                    hop1_op(key, expect=[{"o_orderkey": order}])]
        if block % 3 == 2:
            doc = NEW_DOC_ID + block
            ops += [add_document_op(doc, " ".join(d.rng.choice(TERMS) for _ in range(12))),
                    bm25_op(d.terms(used))]
            ops[-1]["check"]["after_doc_write"] = True
    return ops


WORKLOADS = {"lookup_read": lookup_read, "write_mix": write_mix}


def generate(workload, seed, seconds, warm=False):
    """The timed list, or with warm=True the warm-up list run at set-up.
    The write_mix warm-up list starts with a BM25 search, which builds
    the Document.text postings, the write-time index of a real
    deployment."""
    ops = WORKLOADS[workload](seed, seconds, warm)
    if warm and workload == "write_mix":
        ops = [bm25_op(("batch", "merge", "stream", "window"))] + ops
    for i, op in enumerate(ops):
        op["i"] = i
    return ops


def dump(ops):
    """Canonical bytes of an operation list (one JSON object per line)."""
    return "".join(json.dumps(op, sort_keys=True, separators=(",", ":")) + "\n"
                   for op in ops)
