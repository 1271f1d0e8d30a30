#!/usr/bin/env python3
"""Benchmark launcher: one run of one workload in one fresh JVM.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from source if needed (perfbench/build.py), makes the
workload's inputs from the seed, starts the harness JVM
(perfbench/harness) at local[N] with N = the host's core count, checks
every output the run produced, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"} - the end-to-end metrics
untraced, the per-layer metrics traced. All files live under
.bench_build/ in the checkout; the run's own directory is measured and
removed before exit. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_inputs  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["resale_pipeline", "gate_mix"]
JVM_TIMEOUT_S = 170
HEAP = os.environ.get("SPARK_DRIVER_MEM", "2g")
# the session flags of build.sbt
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

def _median(v):
    return statistics.median(v) if v else 0.0


def check_resale(check_dir: str, inputs: str) -> dict:
    """op name -> list of mismatches against the planted truth."""
    import pyarrow.dataset as ds
    with open(os.path.join(inputs, "truth.json")) as f:
        truth = json.load(f)
    days, batches = truth["days"], truth["batches"]
    replay_op = f"replay_{batches[-1]}"
    last_op = f"batch_{days[-1]}"
    bad = {}

    def fail(op, msg):
        bad.setdefault(op, []).append(msg)

    def read(sub):
        return ds.dataset(os.path.join(check_dir, sub), format="parquet",
                          partitioning="hive").to_table().to_pandas()

    sc = read("final/scraped")
    sc["transformed_date"] = sc["transformed_date"].astype(str)
    if sorted(sc["transformed_date"].unique()) != sorted(days):
        fail(last_op, f"scraped partitions {sorted(sc.transformed_date.unique())}")
    cols = ["url", "bedrooms", "floor_area_sqm", "district", "zone", "region"]
    for day in days:
        op = f"batch_{day}"
        got = sc[sc["transformed_date"] == day]
        keys = got["location"].astype(str) + "|" + got["price"].astype(str)
        if keys.duplicated().any():
            fail(op, f"{day}: (location, price) not unique")
        want = truth["entities"][day]
        if set(keys) != set(want):
            fail(op, f"{day}: {len(set(keys) ^ set(want))} entity keys differ "
                     f"({len(got)} rows vs {len(want)} planted)")
            continue
        for k, row in zip(keys, got[cols].itertuples(index=False)):
            exp = want[k]
            for c, v in zip(cols, row):
                v = None if v is None or (isinstance(v, float) and v != v) else v
                if v is not None and not isinstance(v, str):
                    v = int(v)
                if v != exp[c]:
                    fail(op, f"{day} {k}: {c}={v!r}, planted {exp[c]!r}")
                    break
    hist = read("final/historical")
    hist["date_of_sale"] = hist["date_of_sale"].astype(str)
    months = truth["months"]
    if sorted(hist["date_of_sale"].unique()) != sorted(months):
        fail(last_op, "historical partitions differ from the planted months")
    for m, g in hist.groupby("date_of_sale"):
        exp = months.get(m)
        got = {"count": len(g), "null_price": int(g["price"].isna().sum()),
               "price_sum": int(g["price"].fillna(0).sum())}
        if exp != got:
            fail(last_op, f"month {m}: {got}, planted {exp}")
    for sub in ("scraped", "historical"):
        a, b = read(f"before_replay/{sub}"), read(f"final/{sub}")
        a = a.astype(str).sort_values(list(a.columns)).reset_index(drop=True)
        b = b.astype(str).sort_values(list(b.columns)).reset_index(drop=True)
        if not a.equals(b):
            fail(replay_op, f"replay changed {sub}: {len(a)} -> {len(b)} rows")
    return bad


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated launcher still stops its JVM and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build.build()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(ROOT, ".bench_build", "runs", f"{tag}-{os.getpid()}")
    results = os.path.join(ROOT, ".bench_build", "results")
    os.makedirs(results, exist_ok=True)
    result_json = os.path.join(results, f"{tag}.json")
    inputs, data, check = (os.path.join(run_dir, d)
                           for d in ("inputs", "data", "check"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(data, "tmp"))
    proc = None
    try:
        t0 = time.monotonic()
        if a.workload == "resale_pipeline":
            gen_inputs.gen_resale(a.seed, inputs)
        else:
            gen_inputs.gen_tables(a.seed, gen_inputs.TABLES_SF, inputs)
        t_gen = time.monotonic()
        cmd = ["java", "-XX:+IgnoreUnrecognizedVMOptions",
               *[x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               # a fixed, pre-touched heap: its share of the resident set
               # is then constant, and memory_mb subtracts it (with
               # build.sbt's -Xmx8g and no initial size, the heap's
               # GC-timed growth moved peak RSS by a third between runs)
               f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
               "-XX:ReservedCodeCacheSize=512m",
               f"-Djava.io.tmpdir={os.path.join(data, 'tmp')}",
               "-cp", ":".join(classpath), "perfbench.Main",
               a.workload, inputs, data, check, str(a.seconds), str(a.trace),
               result_json]
        err = open(os.path.join(run_dir, "jvm.log"), "w")
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                text=True, cwd=run_dir)
        ready = []

        def watch():
            for line in proc.stdout:
                if line.strip() == "PERFBENCH_READY" and not ready:
                    ready.append(time.monotonic())
        w = threading.Thread(target=watch, daemon=True)
        w.start()
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"harness JVM exceeded {JVM_TIMEOUT_S}s")
        w.join(5)
        err.close()
        if rc != 0 or not ready:
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"harness JVM failed (exit {rc})")
        setup_s = ready[0] - t0
        with open(os.path.join(run_dir, "jvm.log")) as f:
            for line in f:
                if line.startswith("[perfbench]"):
                    sys.stderr.write(line)
        sys.stderr.write(f"[run] inputs made in {t_gen - t0:.2f} s\n")
        with open(result_json) as f:
            r = json.load(f)

        # ---- correctness: every check counts its operation as failed
        if r["check_errors"]:
            bad = {op: ["check round failed: " + str(r["check_errors"])]
                   for op in r["op_s"]}
        elif a.workload == "resale_pipeline":
            bad = check_resale(check, inputs)
        else:
            import oracle
            meta = {"workload": a.workload, "seed": a.seed, "sf": gen_inputs.TABLES_SF}
            bad = {g: [m] for g, m in
                   oracle.check_gates(check, inputs, meta).items() if m}
        rounds = r["rounds"]
        attempted = rounds * r["ops_per_round"]
        failed_ops = set(bad) | set(r["failed_ops"])
        failed = rounds * len(failed_ops & set(r["op_s"]))
        for op, msgs in sorted(bad.items()):
            for m in msgs[:3]:
                print(f"[check] {op}: {m}", file=sys.stderr)
        for op, m in r["failed_ops"].items():
            print(f"[failed] {op}: {m}", file=sys.stderr)

        if a.trace:
            vals = dict(r["layer"])
            vals["queries.prepare_s"] = r["prepare_s"]
            vals["queries.store_bytes"] = r["store_bytes"]
            vals["queries.timed_store_builds"] = r["timed_store_builds"]
        else:
            ops = [v for vs in r["op_s"].values() for v in vs]
            vals = {"setup_s": setup_s, "run_s": _median(r["round_s"]),
                    "query_p50_s": _median(ops),
                    "cpu_s": _median(r["round_cpu_s"]),
                    "memory_mb": r["off_heap_peak_mb"] + r["live_heap_mb"],
                    "written_bytes": r["written_bytes"]}
        # the metric names and units are BENCHMARK.json's
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)["per_layer" if a.trace else "end_to_end"]
        # a layer the workload does not reach reads 0 in the traced run
        metrics = {m["name"]: {"value": vals[m["name"]] if not a.trace
                               else vals.get(m["name"], 0.0),
                               "unit": m["unit"]} for m in spec}
        print(f"[run] {tag} rounds={rounds} ops/round={r['ops_per_round']}"
              f" setup={setup_s:.2f}s wall={time.monotonic() - t0:.1f}s"
              f" off-heap peak={r['off_heap_peak_mb']:.1f}MB"
              f" live heap={r['live_heap_mb']:.1f}MB", file=sys.stderr)
        print(json.dumps({"correct": not r["check_errors"], "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
