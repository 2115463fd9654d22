#!/usr/bin/env python3
"""Empirical scaling audit over Bench JSON artifacts (a bench JSON line,
optionally after a log prefix). Errored queries (time <= 0) are excluded,
never ratioed; headline `queries` and `others` are merged.

Scale-factor ladder (the mode follows from the number of inputs):

  scaling.py <b_small> <b_big> <out.json>
      Two points. Rows grow 10x from sf0.01 to sf0.1 (documents
      500 -> 5000, events/lineitem ~10x), so a time ratio well above 10
      flags super-linear behavior worth a plan audit; sub-second
      queries are mostly fixed overhead and read below 1.

  scaling.py <b_001> <b_01> <b_1> <out.json>
      Three points (sf0.01, sf0.1, 10x-sf0.1 synth from
      graft.SynthScale). decade1 = t(sf0.1)/t(sf0.01), decade2 =
      t(sf1)/t(sf0.1); a decade2 approaching 10 flags super-linear
      behavior, and decade2 >> decade1 flags COMPOUNDING (a ratio that
      grows with scale) — which one decade of evidence cannot tell
      from fixed-overhead amortization.

  scaling.py <b_001> <b_01> <b_1> <b_3> <out.json>
      Four points (adds 30x-sf0.1 synth). step3 = t(sf3)/t(sf1) on a
      3x-row step, with step3_per_decade = step3 ** (log 10 / log 3)
      as the decade-equivalent ratio: a decade2-flagged query that is
      SETTLING reads step3_per_decade <= decade2; one still
      COMPOUNDING reads step3_per_decade > decade2.

Core-count comparison:

  scaling.py cores <b_c32> <b_c8> [out.json]
      Seconds at 32 and 8 cores per query and the 8c/32c ratio, raw and
      canary-normalized (seconds / canary mean of the same run, so
      ambient drift between the two runs cancels to first order); calls
      out the "heavy ten" explicitly. A >2 s query with ratio ~1 is a
      serial-bottleneck suspect; sub-second queries are
      scheduler-overhead-bound at sf0.1 and not diagnostic.
      out.json defaults to SCALING_r17.json.
"""
import json
import math
import sys

HEAVY = [
    "q_graph_tri", "q_embed_margin_mine_ivf", "q_embed_margin_mine_pq",
    "q_embed_margin_mine_pq_ivf", "q_doc_recipe2", "q_doc_lmi_score",
    "q_embed_knn_components", "q_doc_containment_cross",
    "q_doc_ngram_pairs", "q_doc_quality_clf",
]
STEP3_ROWS = 3.0
DECADE_EXP = math.log(10) / math.log(STEP3_ROWS)


def load(p):
    line = open(p).read().strip()
    d = json.loads(line[line.index("{"):])
    out = dict(d.get("queries", {}))
    out.update(d.get("others", {}))
    return out, d


def ladder(paths):
    """Per-query times at each point, for queries that ran at all of them."""
    loaded = [load(p) for p in paths]
    qs = [q for q, _ in loaded]
    common = sorted(set(qs[0]).intersection(*qs[1:]))
    times = {k: [q[k] for q in qs] for k in common
             if min(q[k] for q in qs) > 0}
    return times, [d for _, d in loaded]


def two_points(paths, out_path):
    times, (ds, db) = ladder(paths)
    rows = {k: {"small_sec": round(s, 4), "big_sec": round(b, 4),
                "ratio": round(b / s, 2)}
            for k, (s, b) in times.items()}
    worst = sorted(rows.items(), key=lambda kv: -kv[1]["ratio"])[:10]
    out = {
        "small_sf": ds.get("sf"),
        "big_sf": db.get("sf"),
        "rows_ratio": 10,
        "queries": rows,
        "worst": [{"query": k, **v} for k, v in worst],
        "loadavg_start": {
            "small": ds.get("loadavg_start"),
            "big": db.get("loadavg_start"),
        },
    }
    json.dump(out, open(out_path, "w"), indent=1)
    print("worst ratios:")
    for k, v in worst:
        print(f"  {v['ratio']:6.2f}x  {k}  ({v['small_sec']}s -> {v['big_sec']}s)")


def three_points(paths, out_path):
    times, ds = ladder(paths)
    rows = {}
    for k, (s, m, b) in times.items():
        d1, d2 = m / s, b / m
        rows[k] = {
            "sf001_sec": round(s, 4),
            "sf01_sec": round(m, 4),
            "sf1_sec": round(b, 4),
            "decade1": round(d1, 2),
            "decade2": round(d2, 2),
            # compounding = the second decade's ratio grew past the
            # first's AND is approaching the row ratio itself. A d2 of
            # 3-5x on 10x rows after a sub-1x-overhead first decade is
            # amortization ending (per-row work becoming visible), still
            # strongly sub-linear — the flag is for ratios that would
            # EXCEED linear if the trend continued one more decade.
            "compounding": d2 > max(d1, 1.0) * 1.25 and d2 > 0.6 * 10,
        }
    out = {
        "points": [d.get("sf") for d in ds],
        "rows_ratio_per_decade": 10,
        "loadavg_start": [d.get("loadavg_start") for d in ds],
        "queries": rows,
        "worst_decade2": sorted(
            ({"query": k, **v} for k, v in rows.items()),
            key=lambda r: -r["decade2"])[:10],
        "compounding": [k for k, v in rows.items() if v["compounding"]],
    }
    json.dump(out, open(out_path, "w"), indent=1)
    print(f"{len(rows)} queries; compounding: {out['compounding']}")
    for r in out["worst_decade2"][:6]:
        print(f"  {r['query']:24s} d1={r['decade1']:5.2f} d2={r['decade2']:5.2f}")


def four_points(paths, out_path):
    times, ds = ladder(paths)
    rows = {}
    for k, (s, m, b, x) in times.items():
        d1, d2 = m / s, b / m
        s3 = x / b
        s3dec = s3 ** DECADE_EXP
        rows[k] = {
            "sf001_sec": round(s, 4),
            "sf01_sec": round(m, 4),
            "sf1_sec": round(b, 4),
            "sf3_sec": round(x, 4),
            "decade1": round(d1, 2),
            "decade2": round(d2, 2),
            "step3": round(s3, 2),
            "step3_per_decade": round(s3dec, 2),
            # still compounding = the decade-equivalent ratio KEPT
            # GROWING past the second decade's (the settling-vs-
            # compounding question the fourth point exists to answer),
            # and is at least super-linear-adjacent
            "still_compounding": s3dec > d2 * 1.1 and s3dec > 6.0,
            "settling": s3dec <= d2,
        }
    out = {
        "points": [d.get("sf") for d in ds],
        "rows_ratio_per_step": [10, 10, 3],
        "loadavg_start": [d.get("loadavg_start") for d in ds],
        "queries": rows,
        "still_compounding": [k for k, v in rows.items()
                              if v["still_compounding"]],
        "settling": [k for k, v in rows.items() if v["settling"]],
    }
    json.dump(out, open(out_path, "w"), indent=1)
    print(json.dumps({k: {kk: v[kk] for kk in
                          ("decade2", "step3", "step3_per_decade",
                           "still_compounding", "settling")}
                      for k, v in rows.items()}, indent=1))


def cores(c32_path, c8_path, out_path):
    def canary(d):
        can = d.get("canary", {}).get("mean_total") or d.get("canary_mean")
        return float(can) if can else None
    (c32, d32), (c8, d8) = load(c32_path), load(c8_path)
    can32, can8 = canary(d32), canary(d8)
    rows = {}
    for q in sorted(set(c32) & set(c8)):
        a, b = c32[q], c8[q]
        if a is None or b is None or a < 0 or b < 0:
            continue
        row = {"c32_sec": a, "c8_sec": b,
               "ratio_8c_over_32c": round(b / a, 3) if a > 0 else None}
        if can32 and can8 and a > 0:
            row["ratio_norm"] = round((b / can8) / (a / can32), 3)
        rows[q] = row
    suspects = [q for q, r in rows.items()
                if r["c32_sec"] > 2.0 and (r["ratio_8c_over_32c"] or 9) < 1.15]
    heavy = {q: rows[q] for q in HEAVY if q in rows}
    doc = {
        "cpus_main": 32, "cpus_low": 8,
        "total_c32": d32.get("value"), "total_c8": d8.get("value"),
        "canary_mean_c32": can32, "canary_mean_c8": can8,
        "heavy_ten": heavy,
        "serial_suspects_gt2s_ratio_lt_1p15": suspects,
        "per_query": rows,
    }
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    print(f"wrote {out_path}: {len(rows)} queries, "
          f"{len(heavy)}/{len(HEAVY)} heavy, suspects={suspects}")
    for q, r in heavy.items():
        print(f"  {q}: 32c={r['c32_sec']:.2f}s 8c={r['c8_sec']:.2f}s "
              f"ratio={r['ratio_8c_over_32c']}")


def main(argv):
    if argv[:1] == ["cores"] and len(argv) in (3, 4):
        cores(argv[1], argv[2], argv[3] if len(argv) > 3 else "SCALING_r17.json")
    elif len(argv) in (3, 4, 5):
        {3: two_points, 4: three_points, 5: four_points}[len(argv)](
            argv[:-1], argv[-1])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
