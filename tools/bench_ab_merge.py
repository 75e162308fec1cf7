#!/usr/bin/env python3
"""Merge the per-pass graft.Bench records of a paired A/B into one verdict.

Usage: bench_ab_merge.py OUT OLD_SHA NEW_SHA OLD_1.json NEW_1.json [OLD_2.json NEW_2.json ...]

Each pass file is the full JSON that graft.Bench writes (`queries_min`,
`failed`). The result goes to OUT: per-query paired min ratios, the
min-of-minimums ratio and the median over passes of each pass's own
new/old ratio (see tools/bench_ab.sh).

A query that failed in any run on either side is listed under `failed`
and makes the result unclean and the exit status 1. Without that, a query
that fails every run on one side has `null` in that pass's `queries_min`,
drops out of the paired set, and the ratio of the remaining queries can
still read clean.
"""
import json
import statistics
import sys


def per_pass(records):
    """[{query: min over the pass's runs}] per pass; a null min is absent."""
    return [{q: v for q, v in (r.get("queries_min") or {}).items() if v is not None}
            for r in records]


def failed(records):
    return sorted({q for r in records for q in r.get("failed") or []})


def mins(passes):
    acc = {}
    for d in passes:
        for q, v in d.items():
            acc.setdefault(q, []).append(v)
    return {q: min(vs) for q, vs in acc.items()}


def median(rs):
    return round(statistics.median(rs), 3) if rs else None


def merge(old_records, new_records, old_sha, new_sha):
    old_p, new_p = per_pass(old_records), per_pass(new_records)
    old, new = mins(old_p), mins(new_p)
    common = sorted(set(old) & set(new))

    def pass_ratios(qs):
        rs = []
        for o, n in zip(old_p, new_p):
            if all(q in o and q in n for q in qs) and sum(o[q] for q in qs):
                rs.append(sum(n[q] for q in qs) / sum(o[q] for q in qs))
        return rs

    qs = {q: {"old_min": old[q], "new_min": new[q],
              "ratio": round(new[q] / old[q], 3),
              "ratio_pass_median": median(pass_ratios([q]))} for q in common}
    minsum_old = sum(old[q] for q in common)
    minsum_new = sum(new[q] for q in common)
    ratio = round(minsum_new / minsum_old, 3) if minsum_old else None
    ratios = pass_ratios(common)
    fails = {"old": failed(old_records), "new": failed(new_records)}
    return {
        "metric": "bench_ab", "old_sha": old_sha, "new_sha": new_sha,
        "passes": len(old_records),
        "paired": "old/new per pass, first side alternating, same host",
        "minsum_old": round(minsum_old, 3), "minsum_new": round(minsum_new, 3),
        "ratio_minsum": ratio,
        "clean": ratio is not None and ratio <= 1.05 and not (fails["old"] or fails["new"]),
        "failed": fails,
        "ratio_pass_median": median(ratios), "pass_ratios": [round(r, 3) for r in ratios],
        "new_only": sorted(set(new) - set(old)),
        "queries": qs,
    }


def main(argv):
    out, old_sha, new_sha, files = argv[0], argv[1], argv[2], argv[3:]
    if not files or len(files) % 2:
        print("usage: bench_ab_merge.py OUT OLD_SHA NEW_SHA OLD_1.json NEW_1.json ...",
              file=sys.stderr)
        return 2
    records = [json.load(open(f)) for f in files]
    result = merge(records[0::2], records[1::2], old_sha, new_sha)
    with open(out, "w") as f:
        json.dump(result, f, separators=(",", ":"))
        f.write("\n")
    print(f"[bench_ab] wrote {out}: minsum {result['minsum_old']:.2f} -> "
          f"{result['minsum_new']:.2f} (ratio {result['ratio_minsum']}, "
          f"clean={result['clean']}); median of per-pass ratios "
          f"{result['ratio_pass_median']} over {result['pass_ratios']}")
    flagged = {q: v["ratio"] for q, v in result["queries"].items() if v["ratio"] > 1.2}
    if flagged:
        print(f"[bench_ab] per-query ratios > 1.2: {flagged}")
    fails = result["failed"]
    if fails["old"] or fails["new"]:
        print(f"[bench_ab] FAILED queries: old {fails['old']}, new {fails['new']}",
              file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
