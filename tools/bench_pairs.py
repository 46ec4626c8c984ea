#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs, summarised the way a perf
claim is judged: per side median and quartiles, the parent's spread, the
change's win count, the ratio and the BENCHMARK.json bound check.

  python3 tools/bench_pairs.py --base REV --workload ingest --pairs 10 --seed 601
  python3 tools/bench_pairs.py --summarize LOG

Pair i runs `perfbench/run.py --workload W --seed SEED+i --seconds S` once
on each side, S being BENCHMARK.json's `run_seconds`: the change side is
this working tree, the parent side an export of REV (`git archive`) under
--base-dir. Which side runs first alternates from pair to pair. Every run is
appended to LOG as one JSON line, so a summary can be printed again later
with --summarize.

A pair is the parent and change run of one seed. A log may gather several
invocations (say seeds 721-725 and 731-735), but only of one workload, one
parent revision and one run length, and each seed at most once per side;
--summarize refuses any other log, and a run refuses to append to one it
would make so.

A gain is shown as `gain` when the change wins at least nine tenths of the
pairs (ties count for neither side) and the medians differ by more than the
parent's interquartile range. `bound` is FAIL when the change's median is
worse than the parent's by more than the metric's relative bound. Otherwise
it is `unresolved` when the parent's own spread (interquartile range over
median, the `p.iqr/med` column) is wider than the bound, so the runs cannot
tell a change within the bound from one beyond it, unless every run of the
change is better than every run of the parent; and `ok` when neither holds.

Each run also records, from that side's
`.bench_build/last-WORKLOAD-trace0.json`, its per-operation medians
(`op_p50_by_name`), its Spark jobs per operation (`jobs_per_op`: the
window's `spark.jobs` over its sampled operations) and its executor task
seconds per operation (`task_s_per_op`: the window's `spark.task_s` over
them). The summary prints both per-operation figures of each side under the
end-to-end metrics, and ends with a table
of the per-operation medians, parent against change, so a query-mix
comparison shows which queries moved.

Exit status is 1 when a run failed, reported `correct: false`, or had an
`op_ok_share` below 1; otherwise 0.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")


def export_rev(rev, dest):
    """Plain export of `rev` into `dest`; reused when already there."""
    sha = subprocess.run(["git", "rev-parse", "--verify", rev + "^{commit}"], cwd=ROOT,
                         capture_output=True, text=True, check=True).stdout.strip()
    mark = os.path.join(dest, ".bench_pairs_rev")
    if os.path.exists(dest):
        if not os.path.exists(mark):
            raise SystemExit(f"bench_pairs: {dest} exists and is not an export; pick another --base-dir")
        with open(mark) as fh:
            if fh.read().strip() == sha:
                return sha
        shutil.rmtree(dest)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise SystemExit(f"bench_pairs: git archive {rev} failed")
    with open(mark, "w") as fh:
        fh.write(sha)
    return sha


def trace0_record(root, workload, since):
    """The untraced result record `root` last wrote for `workload`, if it
    was written at or after `since`; else an empty dict."""
    path = os.path.join(root, ".bench_build", f"last-{workload}-trace0.json")
    if not os.path.exists(path) or os.path.getmtime(path) < since:
        return {}
    with open(path) as fh:
        return json.load(fh)


# per-operation figures a run records: its field name and the timed
# window's `window_engine` counter it divides by the sampled operations
PER_OP = (("jobs_per_op", "spark.jobs"), ("task_s_per_op", "spark.task_s"))


def per_op(record, counter):
    """The timed window's `counter` per sampled operation, or None."""
    total = record.get("window_engine", {}).get(counter)
    ops = record.get("samples", {}).get("ops")
    return total / ops if total is not None and ops else None


def run_side(root, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    start = time.time()
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    result = None
    for line in reversed(p.stdout.strip().splitlines()):
        try:
            result = json.loads(line)
            break
        except ValueError:
            continue
    record = trace0_record(root, workload, start)
    rec = {"rc": p.returncode, "result": result, "op_p50_by_name": record.get("op_p50_by_name")}
    rec.update({name: per_op(record, counter) for name, counter in PER_OP})
    rec["stderr_tail"] = None if p.returncode == 0 else p.stderr[-2000:]
    return rec


def run_ok(rec):
    r = rec.get("result")
    if rec.get("rc") != 0 or not r or not r.get("correct"):
        return False
    share = r["metrics"].get("op_ok_share", {}).get("value")
    return share is None or share >= 1.0


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def log_problem(records):
    """Why `records` cannot be summarised as one set of pairs, or None."""
    for key in ("workload", "parent_rev", "seconds"):
        seen = sorted({str(r[key]) for r in records})
        if len(seen) > 1:
            return f"the log mixes {key} values {', '.join(seen)}"
    runs = [(r["seed"], r["side"]) for r in records]
    repeated = sorted({run for run in runs if runs.count(run) > 1})
    if repeated:
        return "the log repeats " + ", ".join(f"seed {s} {side}" for s, side in repeated)
    return None


def summarize(records, spec):
    problem = log_problem(records)
    if problem:
        raise SystemExit(f"bench_pairs: cannot summarise: {problem}; use one log per comparison")
    bad = [r for r in records if not run_ok(r)]
    for r in bad:
        print(f"[bench_pairs] BAD RUN side={r['side']} seed={r['seed']} "
              f"rc={r['rc']} result={json.dumps(r.get('result'))[:300]}", file=sys.stderr)
    by = {}
    for r in records:
        if run_ok(r):
            by.setdefault(r["seed"], {})[r["side"]] = r["result"]["metrics"]
    pairs = [p for p in sorted(by) if all(s in by[p] for s in SIDES)]
    wl = records[0]["workload"] if records else "-"
    print(f"== {wl}: {len(pairs)} complete pairs, {len(bad)} bad runs")
    print(f"  {'metric':14s} {'parent med [q1, q3]':>30s} {'change med [q1, q3]':>30s} "
          f"{'p.iqr/med':>9s} {'wins':>6s} {'ratio':>7s} {'bound':>15s} claim")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        vals = {s: [by[p][s][name]["value"] for p in pairs if name in by[p][s]] for s in SIDES}
        if not all(vals[s] for s in SIDES):
            continue
        (pq1, pm, pq3), (cq1, cm, cq3) = quartiles(vals["parent"]), quartiles(vals["change"])
        wins = sum(1 for p in pairs
                   if (by[p]["change"][name]["value"] < by[p]["parent"][name]["value"]) == lower
                   and by[p]["change"][name]["value"] != by[p]["parent"][name]["value"])
        worse = (cm - pm if lower else pm - cm) / abs(pm) if pm else 0.0
        spread = (pq3 - pq1) / abs(pm) if pm else 0.0
        dominates = (max(vals["change"]) < min(vals["parent"]) if lower
                     else min(vals["change"]) > max(vals["parent"]))
        status = ("FAIL" if worse > m["bound"] else
                  "unresolved" if spread > m["bound"] and not dominates else "ok")
        bound = f"{status} {m['bound']:.2f}"
        gain = wins >= 0.9 * len(pairs) and -worse * abs(pm) > (pq3 - pq1)
        parent, change = (f"{m:.4g} [{q1:.4g}, {q3:.4g}]" for q1, m, q3 in
                          ((pq1, pm, pq3), (cq1, cm, cq3)))
        print(f"  {name:14s} {parent:>30s} {change:>30s} {spread:>9.3f}"
              f" {wins:>3d}/{len(pairs):<2d} {(cm / pm if pm else float('nan')):>7.3f}"
              f" {bound:>15s} {'gain' if gain else '-'}")
    for name, _ in PER_OP:
        summarize_per_op(records, pairs, name)
    summarize_ops(records, pairs)
    return 1 if bad else 0


def summarize_per_op(records, pairs, name):
    """Each side's median and quartiles of the per-operation figure `name`,
    over the complete pairs whose runs recorded it."""
    vals = {s: [r[name] for r in records if r["seed"] in pairs and r["side"] == s
                and run_ok(r) and r.get(name) is not None] for s in SIDES}
    if not all(vals.values()):
        return
    parent, change = (f"{m:.4g} [{q1:.4g}, {q3:.4g}]" for q1, m, q3 in
                      (quartiles(vals["parent"]), quartiles(vals["change"])))
    print(f"  {name:14s} {parent:>30s} {change:>30s}")


def summarize_ops(records, pairs):
    """Per-operation median of each side's per-run medians, over the
    complete pairs whose runs recorded them."""
    ops = {}
    for r in records:
        if r["seed"] in pairs and run_ok(r) and r.get("op_p50_by_name"):
            for op, sec in r["op_p50_by_name"].items():
                ops.setdefault(op, {s: [] for s in SIDES})[r["side"]].append(sec)
    if not ops:
        return
    print(f"  {'operation (median of per-run p50, s)':40s} {'parent':>9s} {'change':>9s} {'ratio':>7s} {'runs':>7s}")
    for op in sorted(ops):
        p, c = ops[op]["parent"], ops[op]["change"]
        if not p or not c:
            continue
        pm, cm = statistics.median(p), statistics.median(c)
        print(f"  {op:40s} {pm:>9.4g} {cm:>9.4g} {(cm / pm if pm else float('nan')):>7.3f} {len(p):>3d}/{len(c):<3d}")


def read_log(path):
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--base", help="parent revision (e.g. HEAD~1)")
    p.add_argument("--base-dir", help="where the parent export lives (default: bench_pairs-base in the temp dir)")
    p.add_argument("--workload", choices=["ingest", "enrich", "query-mix"])
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed", type=int, default=1, help="pair i runs seed SEED+i")
    p.add_argument("--log", help="JSON-lines log of every run (default: a temp file)")
    p.add_argument("--summarize", metavar="LOG", help="print the summary of a saved log and exit")
    a = p.parse_args()
    spec = load_spec()
    if a.summarize:
        sys.exit(summarize(read_log(a.summarize), spec))
    if not a.base or not a.workload:
        p.error("--base and --workload are required")
    seconds = spec["run_seconds"]
    base_dir = a.base_dir or os.path.join(tempfile.gettempdir(), "bench_pairs-base")
    sha = export_rev(a.base, base_dir)
    log = a.log or os.path.join(tempfile.gettempdir(), f"bench_pairs-{a.workload}-{int(time.time())}.jsonl")
    planned = [{"workload": a.workload, "parent_rev": sha, "seconds": seconds,
                "seed": a.seed + i, "side": side} for i in range(a.pairs) for side in SIDES]
    problem = log_problem(read_log(log) + planned)
    if problem:
        p.error(f"appending to {log} would leave it unsummarisable: {problem}")
    roots = {"parent": base_dir, "change": ROOT}
    for side in SIDES:  # compile both before the first timed run
        subprocess.run([sys.executable, "perfbench/build.py"], cwd=roots[side], check=True,
                       stdout=subprocess.DEVNULL)
    print(f"[bench_pairs] parent={a.base} ({sha[:12]}) in {base_dir}; log {log}", file=sys.stderr)
    records = []
    with open(log, "a") as fh:
        for i in range(a.pairs):
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            for side in order:
                rec = {"pair": i, "side": side, "workload": a.workload, "seed": a.seed + i,
                       "seconds": seconds, "parent_rev": sha}
                rec.update(run_side(roots[side], a.workload, a.seed + i, seconds))
                records.append(rec)
                fh.write(json.dumps(rec) + "\n")
                fh.flush()
                v = (rec["result"] or {}).get("metrics", {})
                print(f"[bench_pairs] pair {i} {side:6s} seed={a.seed + i} rc={rec['rc']} "
                      + " ".join(f"{k}={x['value']:.4g}" for k, x in v.items()), file=sys.stderr)
    sys.exit(summarize(records, spec))


if __name__ == "__main__":
    main()
