#!/usr/bin/env python3
"""Per-query bench regression gate (round-6 verdict item 3, adapted:
`Bench.scala` is measurement-frozen, so the gate lives beside the
harness instead of inside it).

Compares two bench artifacts query-by-query and emits one JSON line:
  regressions        slower by BOTH >1.5x and >0.3 s absolute
  improvements       faster by BOTH >1.5x and >0.3 s absolute
  missing_or_failed  in the base run, but absent or failed (<0) in the
                     current one
  failed_in_base     failed (<=0) in the base run, with the current time
  only_in_current    absent from the base run, with the current time
Accepts either a driver BENCH_rNN.json (reads .parsed.queries) or a raw
Bench stdout log (reads the last total_detail/total_provisional_detail
line's .queries).

Usage:
    python3 tools/bench_diff.py BENCH_r05.json /tmp/bench_current.log
Exit code 1 when regressions or missing_or_failed are non-empty, 0
otherwise; failed_in_base and only_in_current are reported only.
"""
import json
import re
import sys


def load_queries(path):
    text = open(path).read()
    try:
        doc = json.loads(text)
        if isinstance(doc, dict):
            if "parsed" in doc and isinstance(doc["parsed"], dict):
                return doc["parsed"]["queries"]
            if "queries" in doc:
                return doc["queries"]
            # bare {query: sec} map
            if all(isinstance(v, (int, float)) for v in doc.values()):
                return doc
    except json.JSONDecodeError:
        pass
    hits = re.findall(
        r'\{"metric":"total(?:_provisional)?_detail".*?\}(?=\s*$)', text, re.M)
    if not hits:
        hits = re.findall(r'\{"metric":"total(?:_provisional)?_detail".*', text)
    if not hits:
        raise SystemExit(f"{path}: no queries map found")
    return json.loads(hits[-1])["queries"]


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    base = load_queries(sys.argv[1])
    cur = load_queries(sys.argv[2])
    regressions, improvements, missing, failed_base = [], [], [], []
    for q, b in sorted(base.items()):
        c = cur.get(q)
        if c is None or c < 0:
            missing.append(q)
            continue
        if b <= 0:
            failed_base.append({"query": q, "base": b, "cur": round(c, 3)})
        elif c > b * 1.5 and c - b > 0.3:
            regressions.append({"query": q, "base": round(b, 3),
                                "cur": round(c, 3), "ratio": round(c / b, 2)})
        elif c < b / 1.5 and b - c > 0.3:
            improvements.append({"query": q, "base": round(b, 3),
                                 "cur": round(c, 3), "ratio": round(c / b, 2)})
    out = {
        "n_base": len(base), "n_cur": len(cur),
        "total_base": round(sum(v for v in base.values() if v > 0), 1),
        "total_cur": round(sum(v for v in cur.values() if v > 0), 1),
        "regressions": sorted(regressions, key=lambda r: -r["ratio"]),
        "improvements": sorted(improvements, key=lambda r: r["ratio"]),
        "missing_or_failed": missing,
        "failed_in_base": failed_base,
        "only_in_current": [{"query": q, "cur": c} for q, c in sorted(cur.items())
                            if q not in base],
    }
    print(json.dumps(out))
    sys.exit(1 if regressions or missing else 0)


if __name__ == "__main__":
    main()
