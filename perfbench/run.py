#!/usr/bin/env python3
"""Layered benchmark of record for projspark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Builds the engine and the harness
from source with sbt (once per source change, into .bench_build/perfbench),
then runs one workload in a single JVM at local[4] with its seed. Prints
one metric per line by name and unit, then as the last line one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Exits 1 after the result
if any output was wrong; exits non-zero without a result if the sources or
the toolchain are missing or the run breaks.
Every run record is appended to .bench_build/perfbench/results/. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import harness  # noqa: E402

WORKLOADS = ("tiling_batch", "join_skew", "query_mix")
ITEM_METRIC = {"tiling_batch": "docs_per_s", "join_skew": "points_per_s",
               "query_mix": "queries_per_s"}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# A fixed heap and young generation, so the peak RSS does not depend on how
# far the collector chose to grow the heap in this run; no hsperfdata file,
# which the JVM would write outside the checkout.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UsePerfData"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of the path, size and mtime of every source the build reads."""
    h = hashlib.sha256()
    for pattern in ("src/main/**/*", "perfbench/src/**/*", "perfbench/build.sbt",
                    "perfbench/project/build.properties"):
        for p in sorted(glob.glob(os.path.join(root, pattern), recursive=True)):
            if os.path.isfile(p):
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, out):
    classes = os.path.join(out, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(out, "build.stamp")
    stamp = source_stamp(root)
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH; it builds the engine from source", 3)
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "build.log"), "w") as log:
        try:
            rc = subprocess.run([sbt, "-batch", "-Dsbt.server.autostart=false", "compile"],
                                cwd=os.path.join(root, "perfbench"), stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.isdir(classes):
        fail(f"build failed (see {os.path.join(out, 'build.log')})", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def run_jvm(root, classes, args, work, record_path):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark 4 distribution", 3)
    java = shutil.which("java")
    if java is None:
        fail("java is not on PATH", 3)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(root, "src", "main", "resources"),
                          os.path.join(spark_home, "jars", "*")])
    cmd = [java] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={work}",
           f"-Dlog4j2.configurationFile={os.path.join(root, 'perfbench', 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", record_path]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=root)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -1
    if rc != 0 or not os.path.exists(record_path):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        fail(f"benchmark JVM failed (exit {rc}):\n{tail}", 4)
    with open(record_path) as f:
        return json.load(f)


def canon(df):
    """Rows of a result, columns sorted by name, rows sorted, floats rounded
    to 9 places: the comparison devtools/parity.py makes."""
    cols = sorted(df.columns)
    rows = []
    for r in df[cols].itertuples(index=False):
        rows.append(tuple(round(v, 9) if isinstance(v, float) else
                          (None if v != v else v) for v in r))
    return cols, sorted(rows, key=lambda t: tuple(str(x) for x in t))


def oracle_failures(info):
    """query -> reason, for every first result that differs from its oracle."""
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        files = glob.glob(os.path.join(info["tables_dir"], f"{t}.parquet", "*.parquet"))
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({files!r})")
    with open(os.path.join(info["oracle_dir"], "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = {}
    for name, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(info["oracle_dir"], name, "*.parquet"))
        if not files:
            bad[name] = "no first result"
            continue
        try:
            got = canon(con.execute(f"SELECT * FROM read_parquet({files!r})").df())
            want = canon(con.execute(sql).df())
        except Exception as e:  # a broken oracle is a failed check, not a crash
            bad[name] = f"oracle error: {e}"
            continue
        if got[0] != want[0]:
            bad[name] = f"columns {got[0]} != oracle {want[0]}"
        elif len(got[1]) != len(want[1]):
            bad[name] = f"{len(got[1])} rows != oracle {len(want[1])}"
        elif got[1] != want[1]:
            bad[name] = "values differ from the oracle"
    con.close()
    return bad


def summarize(rec, oracle_bad):
    """(correct, attempted, failed, end-to-end metrics, extra lines)"""
    ops = rec["ops"]
    wl = rec["workload"]
    check_fail = rec["check_failures"]
    failed_ops = []
    for o in ops:
        wrong = bool(o["failure"]) or bool(check_fail) or o["label"] in oracle_bad
        failed_ops.append(wrong)
    attempted = len(ops)
    failed = sum(failed_ops)
    good = [o for o, bad in zip(ops, failed_ops) if not bad]
    ms = [o["ms"] for o in good]
    correct = failed == 0 and not rec["warm_failures"] and not check_fail and not oracle_bad
    lines = []
    metrics = {}
    if ms:
        items = sum(o["items"] for o in good)
        thr = items / (sum(ms) / 1000.0)
        metrics = {
            "setup_s": (statistics.median(rec["setup_s"]), "s"),
            "op_p50_ms": (harness.percentile(ms, 50), "ms"),
            "items_per_s": (thr, "items/s"),
            "rss_peak_mb": (rec["rss_peak_mb"], "MB"),
        }
        info = rec["workload_info"]
        size = {"tiling_batch": f"input {info.get('input_docs')} docs",
                "join_skew": f"input {info.get('input_points')} points",
                "query_mix": f"sf {info.get('input_sf')}, {info.get('mix_size')} queries"}[wl]
        lines.append(f"{ITEM_METRIC[wl]} {thr:.6g} {rec['item_unit']}/s ({size})")
        lines.append(f"op_p90_ms {harness.percentile(ms, 90):.6g} ms "
                     f"(n={len(ms)}, {len(ms) / 10:.3g} samples beyond)")
        if len(ms) >= 2:
            lines.append(f"op_spread {harness.spread(ms):.3g} (quartile distance / median "
                         f"of the {len(ms)} operation latencies)")
        if wl == "query_mix":
            per_q = {}
            for o in good:
                per_q.setdefault(o["label"], []).append(o["ms"])
            for q in sorted(per_q):
                lines.append(f"query.{q}_ms {statistics.median(per_q[q]):.6g} ms "
                             f"(n={len(per_q[q])})")
            by_reason = {}
            for q, why in sorted(rec["workload_info"].get("excluded", {}).items()):
                by_reason.setdefault(why, []).append(q)
            for why, qs in by_reason.items():
                lines.append(f"not in the mix ({why}): {' '.join(qs)}")
    lines.append(f"fail_ratio {failed}/{attempted}")
    reasons = rec["warm_failures"] + check_fail
    for why in reasons[:10]:
        lines.append(f"failure: {why}")
    if len(reasons) > 10:
        lines.append(f"failure: ... {len(reasons) - 10} more in the run record")
    for q, why in sorted(oracle_bad.items()):
        lines.append(f"failure: {q}: {why}")
    return correct, attempted, failed, metrics, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r} (known: {', '.join(WORKLOADS)})")

    root = os.getcwd()
    for need in ("perfbench/build.sbt", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} is missing: run from the root of a full source checkout")

    nproc = os.cpu_count() or 1
    load_start = os.getloadavg()[0]
    usable = harness.load_usable(load_start, nproc)

    out = os.path.join(root, ".bench_build", "perfbench")
    classes = build(root, out)
    work = os.path.join(out, "work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    started = time.time()
    rec = run_jvm(root, classes, args, work, os.path.join(work, "record.json"))
    oracle_bad = {}
    if args.workload == "query_mix" and not args.trace:
        t0 = time.time()
        oracle_bad = oracle_failures(rec["workload_info"])
        rec["phases"]["oracle_s"] = time.time() - t0
    correct, attempted, failed, e2e, lines = summarize(rec, oracle_bad)
    load_end = os.getloadavg()[0]

    spec = load_spec()
    if args.trace:
        metrics = {k: (v, None) for k, v in rec["layer"].items()
                   if not spec["per_layer"] or k in spec["per_layer"]}
        lines += [f"{k} {v:.6g}" for k, v in rec["layer"].items() if k not in metrics]
        lines += [f"scan_ms {statistics.median(rec['scan_ms']):.6g} ms (n={len(rec['scan_ms'])})"]
        lines += [f"scaling {k} {v:.6g} s" for k, v in rec["scaling"].items()]
        lines += [f"untraced {k} {v:.6g} {u}" for k, (v, u) in e2e.items()]
    else:
        metrics = e2e
    rec.update({"nproc_host": nproc, "loadavg_start": load_start, "loadavg_end": load_end,
                "usable": usable, "wall_s": time.time() - started,
                "correct": correct, "attempted": attempted, "failed": failed,
                "oracle_failures": oracle_bad})
    results = os.path.join(out, "results")
    os.makedirs(results, exist_ok=True)
    if args.trace:
        trace_file = os.path.join(results, f"trace_{args.workload}_s{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump(rec.pop("spans"), f)
        rec["spans_file"] = trace_file
    ledger = "runs.jsonl" if usable else "unusable.jsonl"
    with open(os.path.join(results, ledger), "a") as f:
        f.write(json.dumps(rec) + "\n")
    shutil.rmtree(work, ignore_errors=True)

    units = spec["units"]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"nproc {nproc} spark {rec['spark_version']} "
          f"loadavg {load_start:.2f}->{load_end:.2f}")
    print("session " + " ".join(f"{k}={v}" for k, v in sorted(rec["session_config"].items())))
    if not usable:
        print(f"UNUSABLE: load average {load_start:.2f} at start exceeds "
              f"{harness.LOAD_PER_CORE_BOUND} x {nproc} cores; not recorded as a result")
    for line in lines:
        print(line)
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit or units.get(name, '')}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u or units.get(k, "")}
                                  for k, (v, u) in metrics.items()}}))
    # a wrong output is a failed run, after its result has been printed
    sys.exit(0 if correct else 1)


def load_spec():
    """Metric names and units declared in BENCHMARK.json at the checkout root."""
    try:
        with open("BENCHMARK.json") as f:
            b = json.load(f)
        return {"per_layer": {m["name"] for m in b["per_layer"]},
                "units": {m["name"]: m["unit"] for m in b["end_to_end"] + b["per_layer"]}}
    except (OSError, ValueError, KeyError):
        return {"per_layer": set(), "units": {}}


if __name__ == "__main__":
    main()
