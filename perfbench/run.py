#!/usr/bin/env python3
"""Benchmark of the graft engine: three workloads (ingest, enrich,
query-mix), each a closed loop with one client in one JVM at local[nproc].

  python3 perfbench/run.py --workload ingest|enrich|query-mix --seed N \
      --seconds S --trace 0|1
  python3 perfbench/run.py --workload all --seed N --seconds S   (all three, table)
  python3 perfbench/run.py --selftest                (generator round-trip test)

It builds the program from source (perfbench/build.py), generates the seeded
inputs, runs the workload, checks every operation's output, and prints one
JSON line last: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones. A
readable table (value, unit, sample count) goes to stderr. See
perfbench/README.md for the metric definitions.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402

WORKLOADS = ["ingest", "enrich", "query-mix"]
# scale factors of the generated star-schema tables: enrich (and the index
# and ops layers) read sf0.1, query-mix reads a smaller copy so that a run
# holds enough query executions for a tail percentile
SF = 0.1
QUERY_SF = 0.01
RUN_LIMIT_S = 175

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def java_cmd(classes, main, args, work):
    nproc = os.cpu_count() or 1
    cp = os.pathsep.join([classes, build.spark_jars()])
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        "-Xmx3g", "-XX:+UseParallelGC", f"-XX:ParallelGCThreads={nproc}",
        f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, main] + args)


def run_jvm(cmd, work, deadline):
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: run exceeded its time limit")


def oracle_check(tables, qout):
    """Each query-mix result against its oracle SQL in DuckDB: row count,
    columns and a value hash over name-sorted columns and sorted rows."""
    import duckdb
    import hashlib
    import pandas as pd
    import pyarrow.parquet as pq

    con = duckdb.connect()
    for f in glob.glob(os.path.join(tables, "*.parquet")):
        name = os.path.basename(f)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    with open(os.path.join(qout, "oracle_sql.json")) as fh:
        oracle = json.load(fh)

    def canon(df):
        df = df[sorted(df.columns)]
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    problems = []
    for name, sql in sorted(oracle.items()):
        try:
            a = canon(pq.read_table(os.path.join(qout, name)).to_pandas())
            b = canon(con.execute(sql).fetchdf())
        except Exception as e:  # a missing result or a failing oracle query
            problems.append(f"{name}: {str(e)[:300]}")
            continue
        if list(a.columns) != list(b.columns):
            problems.append(f"{name}: columns {list(a.columns)} vs oracle {list(b.columns)}")
            continue
        if len(a) != len(b):
            problems.append(f"{name}: {len(a)} rows vs oracle {len(b)}")
            continue
        for c in a.columns:
            if a[c].dtype != b[c].dtype:
                try:
                    a[c] = a[c].astype("int64"); b[c] = b[c].astype("int64")
                except (ValueError, TypeError):
                    a[c] = a[c].astype(str); b[c] = b[c].astype(str)
        ha = hashlib.md5(pd.util.hash_pandas_object(a, index=False).values.tobytes()).hexdigest()
        hb = hashlib.md5(pd.util.hash_pandas_object(b, index=False).values.tobytes()).hexdigest()
        if ha != hb:
            problems.append(f"{name}: value hash differs from oracle")
    return len(oracle), problems


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_one(workload, seed, seconds, trace, deadline):
    classes = build.build()
    work = os.path.join(BUILD, "run", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tables = os.path.join(work, "tables")
    qtables = os.path.join(work, "qtables")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    try:
        import gen_tables
        # enrich reads the sf0.1 tables and query-mix the small ones; a
        # traced run's layer suite reads both
        if workload == "enrich" or trace:
            gen_tables.generate(tables, seed, SF)
        if workload == "query-mix" or trace:
            gen_tables.generate(qtables, seed, QUERY_SF)
        out = os.path.join(work, "result.json")
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", "1" if trace else "0", "--work", work, "--tables", tables, "--qtables", qtables,
                "--out", out, "--launch-ms", str(int(time.time() * 1000))]
        t_jvm = time.time()
        rc = run_jvm(java_cmd(classes, "perfbench.Main", args, work), work, deadline)
        t_jvm = time.time() - t_jvm
        if rc != 0 or not os.path.exists(out):
            raise SystemExit(f"perfbench: {workload} run failed (exit {rc})")
        with open(out) as fh:
            res = json.load(fh)
        if workload == "query-mix":
            t_oracle = time.time()
            checked, problems = oracle_check(qtables, os.path.join(work, "qout"))
            res["oracle_s"] = time.time() - t_oracle
            res["attempted"] += checked
            res["failed"] += len(problems)
            res["failures"] += problems
            for p in problems:
                print(f"[perfbench] FAILED oracle {p}", file=sys.stderr)
            res["end_to_end"]["op_ok_share"] = (res["attempted"] - res["failed"]) / res["attempted"]
            res["headline"]["op_fail_share"] = res["failed"] / res["attempted"]
        res["jvm_s"] = t_jvm
        res["facts"]["git_commit"] = git_commit()
        res["facts"]["build"] = os.path.basename(classes)
        if trace and os.path.exists(os.path.join(work, "trace.json")):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copyfile(os.path.join(work, "trace.json"),
                            os.path.join(BUILD, "traces", f"{workload}-seed{seed}.json"))
        with open(os.path.join(BUILD, f"last-{workload}-trace{int(trace)}.json"), "w") as fh:
            json.dump(res, fh, indent=1)
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def contract_line(res, trace, spec):
    kind = "per_layer" if trace else "end_to_end"
    got = res[kind]
    metrics = {}
    for m in spec[kind]:
        v = got.get(m["name"])
        if v is None:
            raise SystemExit(f"perfbench: metric {m['name']} missing from the {res['workload']} run")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


HEADLINE_UNITS = {"ingest_file_mb_per_s": "MB/s", "ingest_dir_mb_per_s": "MB/s",
                  "ingest_stored_bytes_per_input_byte": "ratio", "enrich_features_per_s": "features/s",
                  "query_s_p50": "s", "query_s_p90": "s", "op_s_p90": "s",
                  "driver_heap_peak_mb": "MB", "op_fail_share": "ratio"}


def sample_counts(res):
    s = res["samples"]
    ops, rounds = s["ops"], s["setup_rounds"]
    return {"setup_s": rounds, "op_s_p50": ops, "op_s_p90": ops, "items_per_s": ops,
            "op_ok_share": res["attempted"], "op_fail_share": res["attempted"],
            "driver_heap_peak_mb": 1, "ingest_file_mb_per_s": ops - s["ops_by_name"].get("geojson_dir", 0),
            "ingest_dir_mb_per_s": s["ops_by_name"].get("geojson_dir", 0),
            "ingest_stored_bytes_per_input_byte": res["attempted"], "enrich_features_per_s": ops,
            "query_s_p50": ops, "query_s_p90": ops}


def table(res, trace, spec):
    """Readable table: contract metrics, then the workload's own figures
    under their README names, each with its unit and sample count."""
    kind = "per_layer" if trace else "end_to_end"
    counts = sample_counts(res)
    f = res["facts"]
    lines = [f"== {res['workload']} seed={res['seed']} nproc={f['nproc']} "
             f"loadavg_1m={f['loadavg_1m_start']}->{f['loadavg_1m_end']} max_heap_mb={f['max_heap_mb']:.0f} "
             f"jdk={f['jdk']} spark={f['spark']} commit={f['git_commit']} build={f['build']}"]
    rows = [(m["name"], res[kind][m["name"]], m["unit"]) for m in spec[kind]]
    if not trace:
        rows += [(k, v, HEADLINE_UNITS[k]) for k, v in sorted(res["headline"].items())]
    for name, v, unit in rows:
        n = f"n={counts[name]}" if name in counts else ""
        lines.append(f"  {name:42s} {v:>14.6g} {unit:10s} {n}".rstrip())
    return "\n".join(lines)


def selftest():
    """Each generated file loads through SourceDispatch.read to the
    generator's row and vertex counts (perfbench.SelfTest)."""
    classes = build.build()
    work = os.path.join(BUILD, "run", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        rc = run_jvm(java_cmd(classes, "perfbench.SelfTest", [work], work), work, time.time() + 600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return rc


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if a.selftest:
        sys.exit(selftest())
    if not a.workload:
        p.error("--workload is required")
    start = time.time()
    spec = load_spec()
    if a.workload == "all":
        results = {}
        for w in WORKLOADS:
            res = run_one(w, a.seed, a.seconds, bool(a.trace), time.time() + RUN_LIMIT_S)
            print(table(res, bool(a.trace), spec))
            results[w] = contract_line(res, bool(a.trace), spec)
        print(json.dumps(results))
        return
    # the first run in a checkout also compiles; the JVM gets what is left
    build.build()
    limit = RUN_LIMIT_S if time.time() - start < 5 else 890
    res = run_one(a.workload, a.seed, a.seconds, bool(a.trace), start + limit)
    print(table(res, bool(a.trace), spec), file=sys.stderr)
    print(json.dumps(contract_line(res, bool(a.trace), spec)))


if __name__ == "__main__":
    main()
