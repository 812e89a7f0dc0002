#!/usr/bin/env python3
"""Choose the `queries` workload's subset from a measured cost profile.

    python3 perfbench/profile_headline.py --data <sf0.1 dir> [--passes 3]
    python3 perfbench/profile_headline.py --select-only

Step 1 runs every graft.Bench headline query in one JVM at the
benchmark's settings (local[4], 4 shuffle partitions, cold memos before
every sample, noop sink): one untimed pass, then `--passes` timed passes.
A probe pass first records which queries run on the committed fixture,
which holds 4 of the sf0.1 tables. The per-query medians and the probe's
result go to perfbench/profile/headline_local4.json; each query's DuckDB
oracle SQL stays in the JVM's output under .bench_build/profile/.

Step 2 applies the selection rule and, when step 1's output is at hand,
writes the chosen queries' oracle SQL to perfbench/oracle/queries.sql.json
(then run perfbench/oracle/make_digests.py). The rule, a cost-stratified sample:
  - candidates are the queries that run on the committed fixture
    (perfbench/data/sf0.1);
  - sort the candidates by median and cut them into STRATA groups of
    consecutive ranks, of equal count;
  - from the heaviest group to the lightest, take from each group the
    query nearest its middle rank, preferring first a query whose
    engine module (the `Module.fn` its SparkEntry.queries entry calls)
    no earlier pick has and no lighter group offers, then one whose
    module no earlier pick has, so that the picks cover as many
    modules as they can.
It prints the shares the subset is meant to keep: queries under 0.5 s,
the time share of the heaviest decile, and the geometric mean.
"""
import argparse
import json
import math
import os
import re
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from run import DATA, JVM_HEAP, JVM_OPENS, classpath, run_bounded  # noqa: E402

PROFILE = os.path.join(HERE, "profile", "headline_local4.json")
JVM_OUT = os.path.join(ROOT, ".bench_build", "profile", "profile.json")
STRATA = 6


def profile(data, passes):
    cp, _ = classpath()
    work = os.path.dirname(JVM_OUT)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = JVM_OUT
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = "4"
    cmd = (["java"]
           + [a for p in JVM_OPENS
              for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + JVM_HEAP + ["-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dspark.local.dir={os.path.join(work, 'tmp')}",
              "-cp", cp, "graft.perfbench.HeadlineProfile",
              "--data", os.path.abspath(data), "--fixture", DATA,
              "--passes", str(passes),
              "--out", out])
    if run_bounded(cmd, 3600, cwd=work, env=env) != 0:
        sys.exit("profile JVM failed")
    with open(out) as f:
        got = json.load(f)
    del got["oracle_sql"]
    got["load1"] = os.getloadavg()[0]
    got["nproc"] = os.cpu_count()
    os.makedirs(os.path.dirname(PROFILE), exist_ok=True)
    with open(PROFILE, "w") as f:
        json.dump(got, f, indent=1, sort_keys=True)
        f.write("\n")


def modules():
    """query -> engine module, from the SparkEntry.queries entries:
    `"q" -> Module.fn _` or a lambda that ends in `Module.fn(s, d)`."""
    src = open(os.path.join(ROOT, "src", "main", "scala", "graft",
                            "SparkEntry.scala")).read()
    src = src[src.index("def queries"):src.index("def oracleSql")]
    out = dict(re.findall(r'"(q\w+)"\s*->\s*\(\(s, d\) => \{[^}]*?'
                          r'([A-Z]\w*)\.\w+\(s, d\)\s*\}', src))
    out.update(re.findall(r'"(q\w+)"\s*->\s*([A-Z]\w*)\.\w+\s+_', src))
    return out


def shares(ms):
    """The cost shape of a set of medians (ms)."""
    s = sorted(ms, reverse=True)
    top = max(1, round(len(s) / 10))
    return {"queries": len(s), "total_s": sum(s) / 1e3,
            "under_500ms": sum(x < 500 for x in s) / len(s),
            "top_decile_time_share": sum(s[:top]) / sum(s),
            "median_ms": statistics.median(s),
            "geomean_ms": math.exp(sum(map(math.log, s)) / len(s))}


def select(prof):
    med = prof["medians_ms"]
    cands = sorted((q for q in med if prof["runs_on_fixture"][q]),
                   key=lambda q: med[q])
    n = len(cands)
    groups = [cands[i * n // STRATA:(i + 1) * n // STRATA]
              for i in range(STRATA)]
    mod = prof["modules"]
    picked, seen = [], set()
    for k in reversed(range(STRATA)):
        g = groups[k]
        lighter = {mod[q] for h in groups[:k] for q in h}
        mid = (len(g) - 1) / 2
        order = sorted(range(len(g)), key=lambda i: (abs(i - mid), i))
        fresh = [i for i in order if mod[g[i]] not in seen]
        only = [i for i in fresh if mod[g[i]] not in lighter]
        q = g[(only or fresh or order)[0]]
        picked.append(q)
        seen.add(mod[q])
    return cands, picked


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--data", default="")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--select-only", action="store_true")
    a = ap.parse_args()
    if not a.select_only:
        if not a.data:
            sys.exit("--data is required unless --select-only")
        profile(a.data, a.passes)
    with open(PROFILE) as f:
        prof = json.load(f)
    prof["modules"] = modules()
    cands, picked = select(prof)
    med = prof["medians_ms"]
    print("full headline   " + json.dumps(shares(list(med.values()))))
    print("fixture-only    " + json.dumps(shares([med[q] for q in cands])))
    print("subset          " + json.dumps(shares([med[q] for q in picked])))
    for q in sorted(picked, key=lambda q: -med[q]):
        rank = sorted(med, key=lambda x: -med[x]).index(q) + 1
        print(f"  {q:28s} {prof['modules'][q]:12s} {med[q]:9.1f} ms"
              f"  rank {rank}/{len(med)}")
    if not os.path.isfile(JVM_OUT):
        print("no profile JVM output: oracle SQL not exported")
        return
    with open(JVM_OUT) as f:
        sql = json.load(f)["oracle_sql"]
    with open(os.path.join(HERE, "oracle", "queries.sql.json"), "w") as f:
        json.dump({q: sql[q] for q in picked}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
