#!/usr/bin/env python3
"""Repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload <uniform|skewed> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt) and caches the
classpath under .perfbench/; later runs reuse it while the sources are
unchanged. A run starts one JVM (perfbench.Main), which sets up the
seeded inputs, runs the islands pipeline, the served score lake and the
corpus kernels, and checks their outputs. This script then checks the
corpus kernels against their DuckDB oracles and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, and
the run also writes its spans and layer table next to its summary under
.perfbench/runs/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".perfbench")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, engine and harness."""
    files = []
    for base in (ROOT, BENCH):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            p = os.path.join(base, name)
            if os.path.isfile(p):
                files.append(p)
        for top in (os.path.join(base, "src", "main"),):
            for d, _, fs in os.walk(top):
                files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def classpath(fp):
    """The harness classpath, building first when the sources changed."""
    cache = os.path.join(STATE, "build", fp + ".cp")
    if os.path.isfile(cache):
        with open(cache) as f:
            cp = f.read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    log = os.path.join(STATE, "build", fp + ".log")
    with open(log, "w") as err:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=err, text=True,
            start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"build exceeded {BUILD_TIMEOUT_S} s; see {log}")
    lines = [l for l in stdout.splitlines() if l.strip()]
    with open(log, "a") as out:
        out.write(stdout)
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode}); see {log}")
    cp = lines[-1].strip()
    if not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        fail(f"build printed no usable classpath; see {log}")
    with open(cache, "w") as f:
        f.write(cp)
    return cp


def tree_id(fp):
    try:
        out = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + fp


def run_jvm(cp, args, work, tree):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{HEAP}", "-Xss4m", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--out", work, "--tree", tree])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                text=True, env=env, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM failed (exit {proc.returncode}); see {work}/jvm.log")
    return json.loads(lines[-1])


def same(got, exp):
    """Oracle comparison: same columns, rows and values, order-insensitive;
    floating values equal to 1e-9 relative."""
    import numpy as np
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    key = list(got.columns)
    g = got.astype(str).sort_values(key).index
    e = exp.astype(str).sort_values(key).index
    got, exp = got.loc[g].reset_index(drop=True), exp.loc[e].reset_index(drop=True)
    for c in key:
        gv, ev = got[c], exp[c]
        if str(gv.dtype).startswith("float") or str(ev.dtype).startswith("float"):
            ok = np.allclose(gv.astype("float64"), ev.astype("float64"),
                             rtol=1e-9, atol=0, equal_nan=True)
        else:
            ok = gv.astype(str).equals(ev.astype(str))
        if not ok:
            return f"values differ in column {c}"
    return None


def oracle_failures(corpus, kernels_dir):
    """Each corpus-kernel result against its DuckDB oracle."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{corpus}/{t}.parquet/*.parquet')")
    with open(os.path.join(kernels_dir, "oracle.json")) as f:
        oracle = json.load(f)
    failures = []
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(kernels_dir, name, "*.parquet")))
        try:
            got = (pd.concat([pd.read_parquet(p) for p in files]) if files
                   else pd.DataFrame())
            why = same(got, con.execute(sql).df())
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            why = repr(e)
        if why:
            failures.append(f"{name} differs from its DuckDB oracle: {why}")
    return len(oracle), failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")

    files = source_files()
    fp = fingerprint(files)
    cp = classpath(fp)
    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(STATE, "runs", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    res = run_jvm(cp, args, work, tree_id(fp))
    n_oracle, oracle_failed = 0, []
    if "corpus" in res["named"]:
        n_oracle, oracle_failed = oracle_failures(
            res["named"].pop("corpus"), os.path.join(work, "kernels"))
    res["attempted"] += n_oracle
    res["failed"] += len(oracle_failed)
    res["failures"] = res.get("failures", []) + oracle_failed
    res["failed_frac"] = res["failed"] / res["attempted"]
    res["run_wall_s"] = time.time() - t0
    for f in res["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)

    # keep the summary, spans and layer table; drop the bulky run data
    for keep in ("spans.jsonl", "layers.json", "jvm.log"):
        src = os.path.join(work, keep)
        if os.path.isfile(src):
            shutil.move(src, os.path.join(STATE, "runs", f"{name}.{keep}"))
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(STATE, "runs", f"{name}.json"), "w") as f:
        json.dump(res, f, indent=1)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
