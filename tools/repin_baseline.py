#!/usr/bin/env python3
"""Re-pin BASELINE_QUERIES.json from fresh grouped batteries.

Pin = elementwise min over (previous pin, every fresh battery's
min-of-reps). The previous pins are themselves mins over the r8/r9
batteries (+ r10 firsts for queries added then), so the result is the
least-noise estimate across five batteries of identical-or-current code.

Stability is re-derived from the FRESH batteries only — and only for
queries observed in >= 2 of them (ADVICE r17: a single battery has zero
spread by construction, so a 1-battery re-pin would silently mark
previously-unstable queries stable). Queries with < 2 fresh
observations carry their previous unstable/spread entry forward, same
as absent queries carry their pins. A query is unstable when the spread
of its fresh battery-mins exceeds 30% of the smallest (and that
smallest clears the 0.3 s noise floor). Using battery-mins (each
already min-of-3 reps) instead of raw reps separates environment drift
across batteries from scheduler noise within one.

On a new host the previous pins measured other hardware, so
`--new-host DESCRIPTION` pins every query from the fresh batteries
alone, re-derives every stability verdict from them, drops queries they
did not run, and records DESCRIPTION as `_meta.host`.

Usage: python3 tools/repin_baseline.py [--drop-absent] [--new-host DESC] bench_b1.json ...
Writes BASELINE_QUERIES.json in place; prints a summary.
"""
import argparse
import json
from datetime import date

OLD = "BASELINE_QUERIES.json"
NOISE_FLOOR = 0.3
SPREAD_LIMIT = 0.30
# Queries whose implementation changed since the last pin: the old pin
# measured a DIFFERENT plan, so their pins come from fresh batteries
# only. Empty after the r11 re-pin absorbed the rewrites — add names
# here when re-pinning across an implementation change.
# (r14 session 2 used {"q_simjoin", "q_minhash_est"} for the segmented
# exact-Jaccard verify rewrite; the c1/c2 re-pin absorbed it. New
# queries need no entry — absent-from-old keys are fresh-pinned
# automatically.)
# (r16 mid-round used {"q_simhash_pairs", "q_simhash_cluster",
# "q_image_neardup", "q_image_neardup_det"} for the 4x16 -> 8x8
# Hamming-banding widening; the b1-b3 re-pin absorbed it. The r16
# closing re-pin over b4/b5 extends the surface by the four new
# operators — fresh-pinned automatically by absence — with no
# implementation change to any pinned query.)
# (r17 session 2's re-pin absorbed the session-1 rewrite set
# {q_simhash_pairs, q_simhash_cluster, q_image_neardup,
# q_image_neardup_det, q_except, q_contrib_cap, q_editsim}; the
# session-3 re-pin had NO implementation-changed pinned queries.)
# (r18's b1-b3 re-pin used {"q_ann_lsh", "q_wiki_clean"} for the
# multi-probe banding and codegen-collapse rewrites; absorbed. The
# b4/b5 subset re-pin added the two store-probe queries by absence.)
FRESH_ONLY = {"q_ann_index_probe"}  # r19: probe gained the duplicate-deterministic store agg


def battery_mins(path):
    with open(path) as f:
        j = json.load(f)
    return {q: min(runs) for q, runs in j["runs"].items()}


def main(paths, drop_absent=False, new_host=None):
    with open(OLD) as f:
        old = json.load(f)
    old_pins = {k: v for k, v in old.items() if k != "_meta"}
    old_unstable = set(old.get("_meta", {}).get("unstable", []))
    old_spread = old.get("_meta", {}).get("spread_pct", {})
    host = new_host or old.get("_meta", {}).get("host", "local[32]")
    if new_host:
        old_pins, old_unstable, old_spread, drop_absent = {}, set(), {}, True

    batteries = [battery_mins(p) for p in paths]
    names = sorted(set().union(*[set(b) for b in batteries]))

    pins, spread_pct, unstable, changed, fresh_only = {}, {}, [], 0, 0
    carried_stability = []
    for q in names:
        fresh = [b[q] for b in batteries if q in b]
        fresh_min = min(fresh)
        if q in old_pins and q not in FRESH_ONLY:
            pins[q] = round(min(old_pins[q], fresh_min), 3)
            if pins[q] < old_pins[q] - 5e-4:
                changed += 1
        else:
            pins[q] = round(fresh_min, 3)
            fresh_only += 1
        if len(fresh) >= 2:
            # enough fresh observations to re-derive stability
            sp = (max(fresh) - fresh_min) / fresh_min if fresh_min > 0 else 0.0
            if fresh_min > NOISE_FLOOR and sp > SPREAD_LIMIT:
                unstable.append(q)
                spread_pct[q] = round(100 * sp)
        else:
            # ADVICE r17: one observation has zero spread by construction
            # — carry the previous verdict forward instead of silently
            # marking the query stable
            if q in old_unstable:
                unstable.append(q)
                spread_pct[q] = old_spread.get(q, 0)
                carried_stability.append(q)

    # Queries pinned before but absent from the fresh batteries KEEP
    # their old pins (r17 session 3: a SUBSET battery re-pin must not
    # silently drop the other ~200 pins — that happened once and had to
    # be restored from git). Dropping a deregistered query is an
    # explicit act: pass --drop-absent when the registry truly shrank.
    absent = sorted(set(old_pins) - set(names))
    if drop_absent:
        dropped = absent
    else:
        dropped = []
        for q in absent:
            pins[q] = old_pins[q]
            # instability was derived from the batteries that pinned q;
            # a subset re-pin that never ran q must not erase it
            if q in old_unstable:
                unstable.append(q)
                spread_pct[q] = old_spread.get(q, 0)
                carried_stability.append(q)

    total = round(sum(pins.values()), 3)
    meta = {
        "pinned_from": (
            ("fresh batteries only, on a new host: " if new_host else
             "elementwise min over (the prior pin, which chains back "
             "through every earlier pinned battery) and ")
            + f"{len(paths)} fresh grouped batteries (noop sink, "
            f"per-query warmup, min-of-3, sf0.1, {host}, fresh JVM "
            "per battery)."
            + (" Fresh-only (implementation changed since last pin): "
               + ", ".join(sorted(FRESH_ONLY)) + "."
               if FRESH_ONLY and not new_host else "")
            + (" Stability carried forward (absent or < 2 fresh "
               "observations this re-pin): "
               + ", ".join(sorted(set(carried_stability))) + "."
               if carried_stability else "")
        ),
        "date": date.today().isoformat(),
        "host": host,
        "total_sec": total,
        "total_sec_note": "total_sec is the sum of the rounded per-query "
                          "values; validators should compare with tolerance 1e-3.",
        "n_queries": len(pins),
        "unstable_note": (
            "queries whose fresh battery-mins spread more than 30% "
            "above the smallest (>0.3 s floor). Spread is measured across "
            "batteries (fresh JVMs, minutes apart) — environment drift, "
            "not within-battery scheduler noise. Ratio gates apply looser "
            "thresholds (warn >2x, fail >3x) to these. Entries with < 2 "
            "fresh observations at the last re-pin carry forward "
            "(see pinned_from)."
        ),
        "unstable": sorted(set(unstable)),
        "spread_pct": dict(sorted(spread_pct.items())),
    }

    out = {"_meta": meta}
    out.update(dict(sorted(pins.items())))
    with open(OLD, "w") as f:
        json.dump(out, f, indent=2)
        f.write("\n")

    btotals = [round(sum(b.values()), 1) for b in batteries]
    print(f"battery totals (min-of-reps sums): {btotals}")
    print(f"pinned {len(pins)} queries, total {total}s "
          f"({changed} tightened, {fresh_only} newly pinned, "
          f"dropped {dropped})")
    print(f"n_unstable: {len(unstable)} -> {sorted(set(unstable))}")
    if carried_stability:
        print(f"stability carried forward for: {sorted(set(carried_stability))}")


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("batteries", nargs="+",
                    help="bench battery JSONs (with per-query 'runs')")
    ap.add_argument("--drop-absent", action="store_true",
                    help="drop old pins for queries absent from the fresh "
                         "batteries (registry shrank)")
    ap.add_argument("--new-host", metavar="DESCRIPTION",
                    help="pin from the fresh batteries alone: the previous "
                         "pins were measured on other hardware")
    args = ap.parse_args()
    main(args.batteries, drop_absent=args.drop_absent, new_host=args.new_host)
