#!/usr/bin/env python3
"""The repository benchmark: one JVM per run at local[4] with 4 shuffle partitions.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Workloads (see BENCHMARK.json for why each exists; `all` runs the ones
listed there):
  queries          a headline-query subset over the committed sf0.1 fixture
  ingest           jobs.HiveJob over a seeded ad-event file stream
  stream_curation  jobs.StreamCurationJob over a seeded doc backlog
  curation         jobs.CurationJob over a seeded corpus grown from the
                   fixture's documents
The last two are not in the gated set (see perfbench/METRICS.md) and
run on request.

The first run in a checkout builds the engine and the harness with sbt
(offline) and caches the runtime classpath under .bench_build/; later
runs start the JVM directly. With --trace 0 the last stdout line holds
every end-to-end metric of BENCHMARK.json, with --trace 1 every
per-layer metric (0 where the workload does not exercise that layer).
The lines before it hold the run stamp and the workload's own named
metrics. Traces and logs stay under .bench_build/.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data", "sf0.1")
# The gated set is BENCHMARK.json's; stream_curation and curation run
# on request.
WORKLOADS = ["queries", "ingest", "stream_curation", "curation"]
RUN_LIMIT_S = 170
# A fixed heap: with -Xms below -Xmx, G1's heap growing and shrinking
# moved peak RSS by up to 22% and the timed passes' speed between runs.
JVM_HEAP = ["-Xms3g", "-Xmx3g"]
BUILD_LIMIT_S = 800
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the engine and the harness."""
    need = [os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for p in need:
        if not os.path.isfile(p):
            fail(f"missing {os.path.relpath(p, ROOT)}: run from a full checkout")
    srcs = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        srcs += sorted(glob.glob(os.path.join(base, "**", "*.scala"),
                                 recursive=True))
    if not any(s.startswith(os.path.join(ROOT, "src")) for s in srcs):
        fail("no engine sources under src/main: run from a full checkout")
    return need + srcs


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Run `cmd` in its own process group; kill the group at the limit."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def classpath():
    """Build (once per source state) and return the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_hash()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (os.path.isfile(cp_file) and os.path.isfile(stamp_file)
                and open(stamp_file).read() == stamp):
            return open(cp_file).read().strip(), stamp
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "export Runtime/fullClasspath"],
                             BUILD_LIMIT_S, cwd=HERE, env=env,
                             stdout=out, stderr=subprocess.STDOUT)
        lines = open(log).read().strip().splitlines()
        cp = lines[-1].strip() if lines else ""
        if rc != 0 or "perfbench" not in cp or ":" not in cp:
            fail(f"build failed (exit {rc}); see {os.path.relpath(log, ROOT)}")
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp, stamp


# --- the queries workload's oracle check -------------------------------
# Canonicalization identical to scripts/compare_driver.py: sort columns
# by name, canonicalize each cell, sort rows, sha256 — at 6-digit and
# repr-exact float precision — plus the pandas dtype-kind vector.

KIND = {"int8": "i", "int16": "i", "int32": "i", "int64": "i",
        "uint8": "i", "uint16": "i", "uint32": "i", "uint64": "i",
        "float32": "f", "float64": "f", "bool": "b", "boolean": "b",
        "object": "o"}


def canon(v, exact):
    if v is None or v != v:
        return "NULL"
    if isinstance(v, float):
        return repr(v) if exact else f"{v:.6f}"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def hash_df(df, exact):
    cols = sorted(df.columns)
    h = hashlib.sha256()
    rows = df[cols].itertuples(index=False, name=None)
    for ln in sorted("|".join(canon(v, exact) for v in r) for r in rows):
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def kinds(df):
    out = {}
    for c in df.columns:
        d = str(df[c].dtype)
        out[c] = "datetime" if d.startswith("datetime") else KIND.get(d, d)
    return out


def digest(df):
    return {"rows": len(df), "columns": sorted(df.columns),
            "kinds": kinds(df), "hash6": hash_df(df, False),
            "hashx": hash_df(df, True)}


def check_query_outputs(outputs_dir, skip):
    """Digest each query's output and compare with the oracle's; queries
    in `skip` already failed in the JVM."""
    import pandas as pd
    with open(os.path.join(HERE, "oracle", "digests.json")) as f:
        oracle = json.load(f)
    bad = {}
    for n in (n for n in oracle if n not in skip):
        files = sorted(glob.glob(os.path.join(outputs_dir, n, "*.parquet")))
        if not files:
            bad[n] = "no output"
            continue
        got = digest(pd.concat([pd.read_parquet(p) for p in files],
                               ignore_index=True))
        want = oracle[n]
        if got != want:
            diff = [k for k in want if got.get(k) != want[k]]
            bad[n] = "differs from the DuckDB oracle in " + ",".join(diff)
    return bad


# --- one run -------------------------------------------------------------

def metric_specs():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def run_one(workload, seed, seconds, trace):
    e2e_spec, layer_spec = metric_specs()
    cp, stamp = classpath()
    started = time.time()  # the run limit excludes a first-run build
    work = os.path.join(ROOT, ".bench_build", "runs",
                        f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = "4"
    cmd = (["java"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + JVM_HEAP + ["-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dspark.local.dir={os.path.join(work, 'tmp')}",
              "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
              "-cp", cp, "graft.perfbench.Main",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--data", DATA, "--work", work, "--out", result_file,
              "--launched-ms", str(int(time.time() * 1000))])
    limit = RUN_LIMIT_S - (time.time() - started)
    log = os.path.join(work, "jvm.log")
    t_jvm = time.time()
    with open(log, "w") as out:
        rc = run_bounded(cmd, limit, cwd=work, env=env, stdout=out,
                         stderr=subprocess.STDOUT)
    print(f"jvm wall {time.time() - t_jvm:.2f} s", file=sys.stderr)
    if rc != 0 or not os.path.isfile(result_file):
        keep = os.path.join(ROOT, ".bench_build", "failed-runs")
        os.makedirs(keep, exist_ok=True)
        shutil.copy(log, os.path.join(keep, os.path.basename(work) + ".log"))
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{workload} JVM exited {rc}; log kept under .bench_build/failed-runs")
    logs = os.path.join(ROOT, ".bench_build", "logs")
    os.makedirs(logs, exist_ok=True)
    shutil.copy(log, os.path.join(logs, f"{workload}-s{seed}.log"))
    with open(result_file) as f:
        res = json.load(f)
    traces = glob.glob(os.path.join(work, "trace-*.json"))
    if traces:
        tdir = os.path.join(ROOT, ".bench_build", "traces")
        os.makedirs(tdir, exist_ok=True)
        for t in traces:
            shutil.copy(t, tdir)

    failures = list(res["failures"])
    failed = res["failed"]
    if workload == "queries":
        bad = check_query_outputs(os.path.join(work, "outputs"),
                                  set(res["extra"]["failed_queries"]))
        failures += [f"{n}: {why}" for n, why in bad.items()]
        failed += len(bad)
        res["readings"]["failed_frac"] = failed / res["attempted"]
    shutil.rmtree(work, ignore_errors=True)

    stamp_out = dict(res["stamp"], source_sha=stamp[:16],
                     git_commit=git_commit())
    print("stamp " + json.dumps(stamp_out, sort_keys=True))
    for f_ in failures:
        print("check failed: " + f_)
    print(f"{workload} " + " ".join(
        f"{k}={v:.6g}" for k, v in sorted(res["readings"].items())))
    print("detail " + json.dumps(res["extra"], sort_keys=True))

    metrics = {}
    if trace:
        got = res["per_layer"]
        for m in layer_spec:
            metrics[m["name"]] = {"value": float(got.get(m["name"], 0.0)),
                                  "unit": m["unit"]}
    else:
        got = res["end_to_end"]
        for m in e2e_spec:
            if m["name"] not in got:
                fail(f"{workload} did not report {m['name']}")
            metrics[m["name"]] = {"value": float(got[m["name"]]),
                                  "unit": m["unit"]}
    return {"correct": failed == 0 and not failures,
            "attempted": int(res["attempted"]), "failed": int(failed),
            "metrics": metrics}


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found at the checkout root")
    source_files()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        gated = [w["name"] for w in json.load(f)["workloads"]]
    names = gated if a.workload == "all" else [a.workload]
    results = []
    for n in names:
        results.append(run_one(n, a.seed, a.seconds, a.trace == 1))
        if len(names) > 1:
            print(f"{n} result " + json.dumps(results[-1], sort_keys=True))
    if len(results) == 1:
        print(json.dumps(results[0]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": {f"{n}.{k}": v for n, r in zip(names, results)
                        for k, v in r["metrics"].items()}}))


if __name__ == "__main__":
    main()
