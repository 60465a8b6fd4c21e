#!/usr/bin/env python3
"""Benchmark runner for openmetrics-spark.

One run:
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (cached in .bench_build),
stages the seeded inputs, runs the workload in a fresh JVM, checks its
outputs, and prints one JSON line last on stdout:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The line before it tags every metric with its workload and
seed; the full per-gate / per-batch detail goes to
.bench_work/results/<workload>_s<seed>_t<trace>.json.

Steadiness report:
    python3 perfbench/run.py --report <k> --workload <name> [--seconds <s>]
runs the workload k times on seeds 1..k, prints each end-to-end metric's
median and quartiles against its bound, then one traced run with its
per-layer self times and the tracing overhead (traced minus untraced).

Run from the repository root. Workloads: flagship_replay, features_live,
catalog_batch (see perfbench/README.md).
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = ("flagship_replay", "features_live", "catalog_batch")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents").split()
# a run's JVM gets this long after the build; the checks after it take ~5 s
RUN_LIMIT_S = 160
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg: str) -> None:
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def bench_spec(root: Path) -> dict:
    return json.loads((root / "BENCHMARK.json").read_text())


def stage_tables(root: Path, dest: Path, seed: int) -> None:
    """Catalog inputs: the base tables with a seeded row order, each split
    into a seeded number of files (1-3). Gates and oracles see the same
    rows; the seed changes file layout, partitioning and row order."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{dest.parent / 'duckdb_tmp'}'")
    for i, t in enumerate(TABLES):
        src = root / "perfbench/data" / f"{t}.parquet"
        out = dest / f"{t}.parquet"
        out.mkdir(parents=True)
        k = 1 + (seed * 31 + i * 7) % 3
        base = (f"SELECT *, hash(file_row_number + {seed}) % {k} AS __part, "
                f"hash(file_row_number * 7 + {seed}) AS __ord "
                f"FROM read_parquet('{src}', file_row_number=true)")
        for p in range(k):
            con.execute(
                f"COPY (SELECT * EXCLUDE (file_row_number, __part, __ord) "
                f"FROM ({base}) WHERE __part = {p} ORDER BY __ord) "
                f"TO '{out / f'part-{p}.parquet'}' (FORMAT parquet)")
    con.close()


def oracle_check(tables: Path, gate_out: Path, oracle: dict) -> dict:
    """Compare each gate's rows with its DuckDB oracle, as the repo's
    scripts/verify_local.py does: columns by name, rows sorted, exact
    values and dtypes. Returns gate -> None (pass) or a reason."""
    import duckdb
    import pandas as pd

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].astype(str)
        return df.sort_values(by=list(df.columns), kind="mergesort") \
            .reset_index(drop=True)

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{tables.parent / 'duckdb_tmp'}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables / (t + '.parquet')}/*.parquet')")
    res = {}
    for name, sql in oracle.items():
        try:
            got = canon(con.sql(
                f"SELECT * FROM read_parquet('{gate_out / name}/*.parquet')").df())
            want = canon(con.sql(sql).df())
            if list(got.columns) != list(want.columns):
                res[name] = f"columns {list(got.columns)} vs {list(want.columns)}"
            elif len(got) != len(want):
                res[name] = f"rows {len(got)} vs {len(want)}"
            elif [str(got[c].dtype) for c in got] != [str(want[c].dtype) for c in want]:
                res[name] = "dtypes differ"
            else:
                pd.testing.assert_frame_equal(got, want, check_exact=True)
                res[name] = None
        except Exception as e:  # a mismatch or an oracle error
            res[name] = str(e)[:300]
    con.close()
    return res


def run_once(root: Path, workload: str, seed: int, seconds: int,
             trace: int) -> dict:
    sys.path.insert(0, str(HERE))
    sys.dont_write_bytecode = True
    import build
    cp = build.build(root)
    t_start = time.monotonic()
    work_root = root / ".bench_work"
    work = work_root / workload
    results = work_root / "results"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    results.mkdir(parents=True, exist_ok=True)
    stage_s = 0.0
    if workload == "catalog_batch":
        t0 = time.monotonic()
        stage_tables(root, work / "run" / "tables", seed)
        stage_s = time.monotonic() - t0
    out = work / "result.json"
    log = results / f"{workload}_s{seed}_t{trace}.log"
    mem = "2g"
    cmd = (["java"] + [x for p in JDK_OPENS
                       for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xms{mem}", f"-Xmx{mem}", "-XX:ReservedCodeCacheSize=512m",
              "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
              # C1 only: C2's tier-up of the engine and of Spark's
              # generated classes outlasts a run on 4 cores, and the lag
              # drifted down through every window while it ran
              "-XX:TieredStopAtLevel=1",
              f"-Djava.io.tmpdir={work / 'tmp'}",
              f"-Dderby.system.home={work}",
              f"-Dperfbench.results={results}",
              "-cp", cp, "perfbench.Bench", workload, str(seed), str(seconds),
              str(trace), str(work / "run"), str(out)])
    left = RUN_LIMIT_S - (time.monotonic() - t_start)
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                cwd=str(work), start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10, left))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{workload} exceeded the run limit; log: {log}")
    if rc != 0 or not out.exists():
        fail(f"{workload} JVM exited with {rc}; log: {log}")
    res = json.loads(out.read_text())
    if workload == "catalog_batch":
        detail = res["detail"]
        res["layers"]["loadgen.stage_s"] = {"value": stage_s, "unit": "s"}
        checks = oracle_check(work / "run" / "tables", Path(detail["gate_out"]),
                              detail["oracle_sql"])
        detail["oracle"] = checks
        for name, why in checks.items():
            res["attempted"] += 1
            if why is not None:
                res["failed"] += 1
                res["failures"].append(f"{name}: oracle mismatch: {why}")
        att = max(1, res["attempted"])
        res["layers"]["failed_ops_share"] = {"value": res["failed"] / att,
                                             "unit": "ratio"}
    res["wall_s"] = time.monotonic() - t_start
    res["log"] = str(log)
    (results / f"{workload}_s{seed}_t{trace}.json").write_text(json.dumps(res))
    shutil.rmtree(work / "run", ignore_errors=True)
    return res


def final_line(res: dict, spec: dict, trace: int) -> dict:
    src = res["layers"] if trace else res["metrics"]
    metrics, missing = {}, []
    for m in spec["per_layer" if trace else "end_to_end"]:
        n = m["name"]
        if n in src:
            metrics[n] = {"value": src[n]["value"], "unit": src[n]["unit"]}
        elif trace:
            # a layer the workload does not exercise: nothing happened there
            metrics[n] = {"value": 0, "unit": m["unit"]}
        else:
            missing.append(n)
    ok = res["failed"] == 0 and res["invalid"] is None and not missing
    if missing:
        sys.stderr.write(f"perfbench: metrics not measured: {missing}\n")
    if res["invalid"]:
        sys.stderr.write(f"perfbench: INVALID run: {res['invalid']}\n")
    for f in res["failures"][:20]:
        sys.stderr.write(f"perfbench: failed: {f}\n")
    return {"correct": ok, "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def report(root: Path, workload: str, k: int, seconds: int) -> None:
    spec = bench_spec(root)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    runs = []
    for seed in range(1, k + 1):
        r = run_once(root, workload, seed, seconds, 0)
        runs.append(r)
        vals = {n: round(r["metrics"][n]["value"], 4) for n in e2e if n in r["metrics"]}
        print(f"seed {seed}: failed={r['failed']}/{r['attempted']} "
              f"invalid={r['invalid']} wall={r['wall_s']:.1f}s {json.dumps(vals)}",
              flush=True)
    print(f"\n{workload}: {k} runs, spread = (q3 - q1) / median")
    medians = {}
    for n, m in e2e.items():
        xs = [r["metrics"][n]["value"] for r in runs if n in r["metrics"]]
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        medians[n] = med
        spread = (q3 - q1) / med if med else float("inf")
        flag = "ok" if spread <= m["bound"] / 3 else (
            "WITHIN BOUND" if spread <= m["bound"] else "OVER BOUND")
        print(f"  {n:24s} median {med:12.4f} {m['unit']:10s} q1 {q1:12.4f} "
              f"q3 {q3:12.4f} spread {spread:.4f} bound {m['bound']} {flag}")
    tr = run_once(root, workload, k + 1, seconds, 1)
    print(f"\ntraced run (seed {k + 1}): failed={tr['failed']}/{tr['attempted']}")
    self_t = tr["detail"].get("self_time_s", {})
    print(f"  self time by layer (s): {json.dumps(self_t)}; sum "
          f"{sum(self_t.values()):.3f} of traced wall "
          f"{tr['detail'].get('traced_wall_s', 0):.3f}")
    over = {n: round(tr["metrics"][n]["value"] - medians[n], 4)
            for n in medians if n in tr["metrics"]}
    print(f"  overhead (traced - untraced median): {json.dumps(over)}")
    if "baseline.local1_records_per_s" in tr["layers"]:
        print(f"  local[1] baseline: "
              f"{tr['layers']['baseline.local1_records_per_s']['value']:.1f} records/s")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", type=int, default=0, metavar="K")
    a = ap.parse_args()
    root = Path.cwd()
    if not (root / "src/main/scala").is_dir() or not (root / "perfbench/data").is_dir():
        fail("run from the repository root (src/main/scala and perfbench/data are missing)")
    spec = bench_spec(root)
    seconds = a.seconds or spec["run_seconds"]
    if a.report:
        report(root, a.workload, a.report, seconds)
        return
    res = run_once(root, a.workload, a.seed, seconds, a.trace)
    src = res["layers"] if a.trace else res["metrics"]
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "detail": f".bench_work/results/{a.workload}_s{a.seed}_t{a.trace}.json",
                      "metrics": [{"name": n, "unit": v["unit"], "value": v["value"],
                                   "workload": a.workload, "seed": a.seed}
                                  for n, v in src.items()]}))
    print(json.dumps(final_line(res, spec, a.trace), separators=(",", ":")))


if __name__ == "__main__":
    main()
