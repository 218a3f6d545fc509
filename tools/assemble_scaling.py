#!/usr/bin/env python3
"""Assemble bench_scaling_r<N>.json from a round's two sweep legs.

    python3 tools/assemble_scaling.py --round N [--base PATH] [--big PATH] [--out PATH]

Inputs are full `graft.Bench` JSONs (`SPARK_GRAFT_BENCH_OUT`):
  --base  the full suite at the base scale factor
          (default /tmp/bench_base_r<N>.json)
  --big   the full suite on the factor-100 ScaleUp replica
          (default /tmp/bench_100x_r<N>.json)

Output (default bench_scaling_r<N>.json) holds, per query: base/100x raw
seconds, raw + calibrated exponents (log100 of the ratio), and the
footprint telemetry (peak shuffle-write MB and spill MB across passes) at
both legs when the base leg records it - disk, not wall time, is the
failure mode exponents miss. Queries in only one leg are listed under
`not_in_both_legs`.
"""
import argparse
import json
import math


def load(p):
    with open(p) as f:
        return json.load(f)


def expo(b, s, factor):
    if b <= 0 or s <= 0:
        return None
    return round(math.log(s / b) / math.log(factor), 3)


def assemble(base, big, factor=100):
    """Per-query comparison of a base leg and its ScaleUp replica leg of
    `factor`; exponents are log-base-`factor` of the time ratio."""
    common = sorted(set(base["queries"]) & set(big["queries"]))
    missing = sorted(set(base["queries"]) ^ set(big["queries"]))

    queries = {}
    for n in common:
        qb, qs = base["queries"][n], big["queries"][n]
        cb = base["queries_calibrated"][n]
        cs = big["queries_calibrated"][n]
        queries[n] = {
            "base_sec": qb,
            "sf10_sec": qs,
            "exponent_raw": expo(qb, qs, factor),
            "exponent_cal": expo(cb, cs, factor),
            "sf10_shuffle_mb": round(big["query_shuffle_mb"][n], 1),
            "sf10_spill_mb": round(big["query_spill_mb"][n], 1),
            "base_shuffle_mb": round(base["query_shuffle_mb"][n], 1),
        }
        if "query_spill_mb" in base:
            queries[n]["base_spill_mb"] = round(base["query_spill_mb"][n], 1)

    superlin = {n: q for n, q in queries.items()
                if q["exponent_raw"] is not None and q["exponent_raw"] > 1.0}
    worst = sorted(queries.items(), key=lambda kv: -(kv[1]["exponent_raw"] or 0))[:8]
    fat = sorted(queries.items(), key=lambda kv: -kv[1]["sf10_shuffle_mb"])[:8]
    spilled = sorted(queries.items(), key=lambda kv: -kv[1]["sf10_spill_mb"])[:8]

    return {
        "factors": [1, factor],
        "base_sf": base.get("sf"),
        "scaled_sf": big.get("sf"),
        "full_suite_100x": {
            "note": ("%d-query suite swept at the factor-%d replica, min of %s "
                     "reps per query, per-query peak shuffle-write/spill MB "
                     "recorded at BOTH legs (the r15 disk-exhaustion lesson made "
                     "footprint a standing artifact). Base leg = same-window "
                     "bench at %s.") % (len(common), factor, big.get("reps"),
                                        base.get("sf")),
            "n_ok": len(common),
            "n_err": len(big.get("errors", {})) if isinstance(big.get("errors"), dict) else 0,
            "reps": big.get("reps"),
            "total_base_sec": round(sum(base["queries"][n] for n in common), 1),
            "total_sf10_sec": round(sum(big["queries"][n] for n in common), 1),
            "total_base_cal": round(sum(base["queries_calibrated"][n] for n in common), 1),
            "total_sf10_cal": round(sum(big["queries_calibrated"][n] for n in common), 1),
            "sentinel_floor": big.get("sentinel_floor"),
            "sentinel_spread_base": base.get("sentinel_spread"),
            "sentinel_spread_sf10": big.get("sentinel_spread"),
            "n_superlinear": len(superlin),
            "superlinear": {n: q["exponent_raw"] for n, q in superlin.items()},
            "worst_exponents": {n: q["exponent_raw"] for n, q in worst},
            "top_shuffle_mb_sf10": {n: q["sf10_shuffle_mb"] for n, q in fat},
            "top_spill_mb_sf10": {n: q["sf10_spill_mb"] for n, q in spilled},
            "not_in_both_legs": missing,
            "queries": queries,
        },
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--base")
    ap.add_argument("--big")
    ap.add_argument("--out")
    a = ap.parse_args()
    base = load(a.base or "/tmp/bench_base_r%d.json" % a.round)
    big = load(a.big or "/tmp/bench_100x_r%d.json" % a.round)
    out = assemble(base, big)
    with open(a.out or "bench_scaling_r%d.json" % a.round, "w") as f:
        json.dump(out, f, indent=1)

    fs = out["full_suite_100x"]
    print("n_ok", fs["n_ok"], "n_err", fs["n_err"], "superlinear", fs["n_superlinear"])
    print("totals raw %.1f -> %.1f  cal %.1f -> %.1f" % (
        fs["total_base_sec"], fs["total_sf10_sec"],
        fs["total_base_cal"], fs["total_sf10_cal"]))
    print("worst:", json.dumps(fs["worst_exponents"]))
    print("fattest shuffle:", json.dumps(fs["top_shuffle_mb_sf10"]))
    print("spill:", json.dumps(fs["top_spill_mb_sf10"]))
    print("missing:", fs["not_in_both_legs"])


if __name__ == "__main__":
    main()
