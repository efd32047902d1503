#!/usr/bin/env python3
"""The graft benchmark: one workload per call, run from the root of a
checkout.

    python3 perfbench/run.py --workload cold_extract --seed 1 --seconds 12 --trace 0

It builds graft and the benchmark (perfbench/build.py), makes the seed's
input tables (perfbench/gen.py), runs the workload in one JVM sized to the
host (perfbench/src), checks the outputs, and prints as its last stdout
line one JSON object with `correct`, `attempted`, `failed` and `metrics`:
the end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer ones
with --trace 1. It exits non-zero when a check fails or a metric is
missing. Everything it writes stays under .bench_build/.
See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 165


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def heap_gb():
    """The tier-1 rule: half of MemTotal in GiB, between 2 and 8."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return min(8, max(2, kb // 2097152))


def jvm_flags(work):
    heap_mb = heap_gb() * 1024
    flags = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    flags += [f"-Xmx{heap_mb}m", f"-Xmn{heap_mb // 2}m", "-XX:+UseParallelGC",
              "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC"]
    return flags


def seed_dir(parent, seed):
    """The seed's cache directory under parent, marked as the most recent;
    of the others only the most recent one is kept.
    """
    keep = os.path.join(parent, f"seed-{seed}")
    os.makedirs(keep, exist_ok=True)
    os.utime(keep)
    others = sorted((os.path.join(parent, e) for e in os.listdir(parent)
                     if e != f"seed-{seed}"), key=os.path.getmtime, reverse=True)
    for e in others[1:]:
        shutil.rmtree(e, ignore_errors=True)
    return keep


def oracle_check(tables, out_dir, work):
    """Each query output against its oracle SQL in DuckDB: sorted columns,
    sorted rows, NULL and NaN alike. Returns (attempted, failed names).
    """
    import duckdb
    con = duckdb.connect(config={"temp_directory": f"{work}/tmp", "memory_limit": "2GB"})
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    sqls = json.load(open(os.path.join(out_dir, "oracle_sql.json")))

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return list(df.columns), sorted(
            tuple("NULL" if v is None or (isinstance(v, float) and math.isnan(v)) else str(v)
                  for v in row) for row in df.itertuples(index=False))

    bad = []
    for name in sorted(sqls):
        try:
            want = norm(con.execute(sqls[name]).fetch_df())
            got = norm(con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetch_df())
            ok = want == got
        except Exception as e:  # a query that cannot be compared fails the check
            log(f"oracle {name}: {e}")
            ok = False
        log(f"oracle {name}: {'ok' if ok else 'MISMATCH'}")
        if not ok:
            bad.append(name)
    return len(sqls), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    cp = build.build(root)
    work = os.path.join(root, build.BUILD_DIR, "work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    tables = seed_dir(os.path.join(work, "tables"), a.seed)
    seed_dir(os.path.join(work, "inputs"), a.seed)
    gen.generate(tables, a.seed)

    cpus = len(os.sched_getaffinity(0))
    flags = jvm_flags(work)
    cmd = ["java"] + flags + ["-cp", cp, "perfbench.Main", a.workload, str(a.seed),
                              str(a.seconds), str(a.trace), work, tables, str(cpus)]
    # Spark prefers SPARK_LOCAL_DIRS to spark.local.dir; keep scratch in work
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"benchmark JVM did not finish within {JVM_TIMEOUT_S} s")
    line = next((l for l in reversed(out.splitlines()) if l.startswith("PERFBENCH_RESULT ")), None)
    if proc.returncode != 0 or line is None:
        raise SystemExit(f"benchmark JVM exited {proc.returncode} without a result")
    res = json.loads(line[len("PERFBENCH_RESULT "):])

    attempted, failed = res["attempted"], res["failed"]
    out_dir = os.path.join(work, "query-out")
    if a.trace:
        n, bad = oracle_check(tables, out_dir, work)
        attempted += n
        failed += len(bad)
        shutil.rmtree(out_dir, ignore_errors=True)
    for c in res["checks"]:
        if not c["ok"]:
            log(f"check {c['name']} failed: {c['detail']}")

    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None:
            raise SystemExit(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    print(f"host: nproc={cpus} heap={heap_gb()}g spark={res['spark_version']}")
    print("jvm flags: " + " ".join(f for f in flags if not f.startswith("--add-opens")))
    for name, m in metrics.items():
        print(f"{a.workload} {name} = {m['value']:.6g} {m['unit']}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
