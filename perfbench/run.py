#!/usr/bin/env python3
"""Benchmark of the frizzle bus and the LLM-batch operators.

Run from the repository root:

    python3 perfbench/run.py --workload bus_route --seed 1 --seconds 15 --trace 0

Workloads (see BENCHMARK.json and perfbench/METRICS.md):
  bus_dedup  JsonDirSource -> FrizzleStream with SeenHashIndex.dedupEpoch as the
             epoch processor -> ParquetDirSink, 3 routes + dead letters
  batch_llm  one closed-loop client running a fixed key list of SparkEntry.queries
  bus_route  the bus without dedup (not in BENCHMARK.json; see METRICS.md)

The script builds the program and the benchmark from source (perfbench/build.sh,
output under .bench_build/), runs the workload in one JVM, checks every output,
and prints as its last stdout line one JSON object: correct, attempted, failed,
and the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
A traced run also writes its spans to .bench_build/traces/. It exits non-zero
on any output mismatch.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
# batch_llm input scale: rows scale linearly, 0.1 = 5000 documents
BATCH_SF = 0.01
# The JVM's own budget; the whole run must end within 180 s once built.
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """$SPARK_HOME/jars: the program's whole compile and run classpath."""
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: SPARK_HOME must name a Spark install with jars/")
    return os.path.join(home, "jars")


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sh")]
    for top in ("src/main/scala", os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile when the sources differ from the last build; return the
    classes directory."""
    if not os.path.isdir("src/main/scala"):
        raise SystemExit("perfbench: no program sources (src/main/scala) here")
    os.makedirs(BUILD, exist_ok=True)
    classes = os.path.join(BUILD, "classes")
    stamp = classes + ".stamp"
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = sources_digest()
        if os.path.isdir(classes) and os.path.exists(stamp) and \
                open(stamp).read() == digest:
            return classes
        log("building program and benchmark")
        t0 = time.time()
        r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), classes, spark_jars()],
                           stdout=sys.stderr)
        if r.returncode != 0:
            raise SystemExit(f"perfbench: build failed ({r.returncode})")
        with open(stamp, "w") as fh:
            fh.write(digest)
        log(f"built in {time.time() - t0:.1f} s")
        return classes


def run_jvm(classes, args, tmp, result, trace_file):
    cpus = len(os.sched_getaffinity(0))
    jtmp = os.path.join(tmp, "jvm-tmp")
    os.makedirs(jtmp)
    # fixed heap and young generation: resident memory then tracks what the
    # program retains, not the collector's sizing decisions
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-Xss8m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Djava.io.tmpdir={jtmp}",
        f"-Dspark.local.dir={os.path.join(tmp, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        f"-Dderby.system.home={tmp}",
        "-Dspark.ui.enabled=false",
        "-cp", f"{os.path.abspath(classes)}:{spark_jars()}/*",
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cpus", str(cpus), "--paced-rate", str(args.paced_rate),
        "--tmp", tmp, "--result", result, "--trace-file", trace_file,
    ]
    # the JVM's stdout goes to our stderr: our stdout ends with the result line
    proc = subprocess.Popen(cmd, stdout=sys.stderr, cwd=tmp)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"JVM exceeded {JVM_TIMEOUT_S} s; killed")
        return -1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- batch checks

def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        if str(df[c].dtype) == "float32":
            df[c] = df[c].astype("float64")
    return df


def frames_differ(got, want):
    """None when equal (row count, column names, types, every cell)."""
    import pandas as pd
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs oracle {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows vs oracle {len(want)}"
    for c in got.columns:
        g, w = got[c].reset_index(drop=True), want[c].reset_index(drop=True)
        if g.dtype != w.dtype and not (
                (g.dtype.kind == "f" and w.dtype.kind == "f")
                or (g.dtype.kind in "iu" and w.dtype.kind in "iu")):
            return f"dtype[{c}] {g.dtype} vs oracle {w.dtype}"
        for i, (a, b) in enumerate(zip(g.tolist(), w.tolist())):
            la = list(a) if hasattr(a, "__len__") and not isinstance(a, (str, bytes)) else a
            lb = list(b) if hasattr(b, "__len__") and not isinstance(b, (str, bytes)) else b
            if la == lb:
                continue
            if not isinstance(la, list) and pd.isna(a) is True and pd.isna(b) is True:
                continue
            return f"col[{c}] row {i}: {a!r} vs oracle {b!r}"
    return None


def shape_q_media_features_topk(df):
    if set(df["probe_id"]) != set(range(5)):
        return f"probes {sorted(set(df['probe_id']))}, want 0..4"
    for p, g in df.groupby("probe_id"):
        if g["rn"].tolist() != [1, 2, 3]:
            return f"probe {p}: ranks {g['rn'].tolist()}, want [1, 2, 3]"
        sims = g["cos_sim"].tolist()
        if any(not math.isfinite(s) or abs(s) > 1 + 1e-9 for s in sims) or \
                any(x < y for x, y in zip(sims, sims[1:])):
            return f"probe {p}: similarities {sims} not in [-1, 1] descending"
        if (g["media_id"] == p).any():
            return f"probe {p} is its own neighbour"
    return None


SHAPE_CHECKS = {
    "q_media_features_topk": shape_q_media_features_topk,
}


def check_batch(batch, input_dir):
    """Value compare of each dumped output: DuckDB oracle SQL on the same
    input where the key has one, else the shape its test suite pins."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in inputs.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{input_dir}/{t}.parquet/*.parquet')")
    problems = []
    for key in batch["keys"]:
        path = os.path.join(batch["dump"], key)
        if not os.path.isdir(path):
            continue  # the JVM already counted the failed dump
        got = pd.read_parquet(path)
        sql = batch["oracle"].get(key)
        if sql is not None:
            try:
                bad = frames_differ(normalize(got), normalize(con.execute(sql).df()))
            except Exception as e:  # oracle SQL failed: cannot vouch for the output
                bad = f"oracle error: {e}"
        elif key in SHAPE_CHECKS:
            bad = SHAPE_CHECKS[key](got)
        else:
            bad = "no oracle SQL and no shape check"
        if bad:
            problems.append(f"{key}: {bad}")
    return problems


# ---------------------------------------------------------------------- main

def main():
    # a terminated run still stops its JVM (run_jvm's finally) and cleans up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("bus_dedup", "batch_llm", "bus_route"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--paced-rate", type=int, default=400,
                    help="messages per second in the bus workloads' paced phase")
    args = ap.parse_args()

    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    classes = build()

    tmp = os.path.abspath(os.path.join(
        BUILD, "tmp", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"))
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    traces = os.path.abspath(os.path.join(BUILD, "traces"))
    os.makedirs(traces, exist_ok=True)
    trace_file = os.path.join(traces, f"{args.workload}-s{args.seed}.json")
    result_file = os.path.join(tmp, "result.json")
    try:
        if args.workload == "batch_llm":
            inputs.generate(os.path.join(tmp, "input"), BATCH_SF, args.seed)
        rc = run_jvm(classes, args, tmp, result_file, trace_file)
        if rc != 0 or not os.path.exists(result_file):
            log(f"JVM failed (exit {rc})")
            return 1
        with open(result_file) as fh:
            res = json.load(fh)
        log(f"set-up breakdown: {json.dumps(res['extra'].get('setup'))}")
        if "epochs" in res["extra"]:
            log("epochs (id, rows, trigger ms, addBatch ms): " +
                " ".join(f"{int(e[0])}:{int(e[1])}/{int(e[2])}/{int(e[3])}"
                         for e in res["extra"]["epochs"]))
        if "pass_s" in res["extra"]:
            log(f"pass seconds: {res['extra']['pass_s']}")
            log(f"key seconds: {json.dumps(res['extra']['key_s'])}")
        problems = list(res["problems"])
        failed = res["failed"]
        if args.workload == "batch_llm":
            bad = check_batch(res["extra"]["batch"], os.path.join(tmp, "input"))
            problems += bad
            failed += len(bad)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    attempted = res["attempted"]
    correct = failed == 0 and not problems and attempted > 0
    for p in problems:
        log(f"CHECK FAILED: {p}")
    group = "per_layer" if args.trace else "end_to_end"
    values = res["layers"] if args.trace else res["e2e"]
    missing = [m["name"] for m in spec[group] if m["name"] not in values]
    if args.trace:
        # a layer this workload does not run did no work
        values = {**{n: 0.0 for n in missing}, **values}
    elif missing:
        log(f"missing end-to-end metrics: {missing}")
        return 1
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec[group]}
    error_rate = failed / attempted if attempted else 1.0
    summary = ", ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in metrics.items())
    print(f"{args.workload} seed={args.seed} trace={args.trace}: {summary}, "
          f"error_rate={error_rate:.6g} ({failed}/{attempted})")
    if args.trace:
        log(f"spans written to {trace_file}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
