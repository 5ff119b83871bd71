#!/usr/bin/env python3
"""Lifecycle benchmark of the engine's public entry points.

    python3 perfbench/run.py --workload lifecycle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the engine
(`src/main/scala`) and the benchmark (`perfbench/src`) with the Scala
compiler shipped in Spark's jar directory ($SPARK_HOME/jars, or the one
beside `spark-submit` on PATH) into `.bench_build/perfbench`; later runs
reuse the classes while the sources are unchanged. Each run starts one JVM
(`perfbench.Main`, `local[4]`, one client thread), works in a scratch
directory under `.bench_build/work` that is removed afterwards, checks the
outputs, and prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. The exit code is 0 only when every
correctness check passed. See perfbench/README.md for what each metric
measures.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402

ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("lifecycle", "query_mix")
# Wall-clock limit of the benchmark JVM of one run.
RUN_LIMIT_S = 160
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg):
    """The benchmark could not run: exit 2 without a result line."""
    log(msg)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("Spark jars not found (set SPARK_HOME)")
    return Path(home) / "jars"


def java_bin():
    jh = os.environ.get("JAVA_HOME")
    if jh and (Path(jh) / "bin" / "java").exists():
        return str(Path(jh) / "bin" / "java")
    return "java"


def build(jars):
    """Compile engine + benchmark sources unless the classes are current."""
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((HERE / "src").rglob("*.scala"))
    if not engine or not bench:
        fail("engine or benchmark sources missing; run from a checkout root")
    h = hashlib.sha256()
    for f in engine + bench:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = BUILD / "classes"
    stamp_file = BUILD / "stamp"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes
    log("compiling engine and benchmark sources")
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in engine + bench) + "\n")
    cp = str(jars / "*")
    with open(BUILD / "build.log", "w") as out:
        rc = subprocess.run(
            [java_bin(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
             "-d", str(tmp), "-classpath", cp, "@" + str(argfile)],
            stdout=out, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write((BUILD / "build.log").read_text()[-4000:])
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


def run_jvm(classes, jars, args, work):
    """Run perfbench.Main to completion; returns (exit status, peak RSS in MB)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # -Xmx is a ceiling only: the heap grows with what the engine holds, and
    # peak RSS with it. The JIT compiler threads never exit, so
    # Jvm.engineCpuNs can take their CPU out of the process's.
    cmd = [java_bin(), *opens, "-Xmx2g", "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Dperfbench.clk_tck={os.sysconf('SC_CLK_TCK')}",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-Dspark.ui.enabled=false",
           "-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main", *args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    with open(work / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env, cwd=work)
        deadline = time.monotonic() + RUN_LIMIT_S
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                proc.returncode = os.waitstatus_to_exitcode(status)
                return proc.returncode, usage.ru_maxrss / 1024.0
            if time.monotonic() > deadline:
                proc.kill()
                _, status, usage = os.wait4(proc.pid, 0)
                proc.returncode = -9
                return -9, usage.ru_maxrss / 1024.0
            time.sleep(0.05)


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return v


def rows_sorted_by_column_name(con, rel):
    cols = sorted(rel.columns)
    return cols, [tuple(canon(x) for x in row)
                  for row in con.sql(f"SELECT {', '.join(cols)} FROM rel").fetchall()]


def fingerprint(cols, rows):
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(json.dumps(r, default=str).encode())
    return h.hexdigest()[:16]


def oracle_check(res):
    """Compare each query's dumped result with DuckDB running its oracle SQL
    over the same corpus. Returns (failures, {query: fingerprint})."""
    import duckdb
    con = duckdb.connect()
    corpus = res["corpus_dir"]
    for t in res["corpus_tables"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet/*.parquet'")
    failures, prints = [], {}
    for q, sql in sorted(res["oracle_sql"].items()):
        if not sql:
            failures.append(f"{q}: no oracle SQL")
            continue
        want_cols, want = rows_sorted_by_column_name(con, con.sql(sql))
        got_cols, got = rows_sorted_by_column_name(
            con, con.sql(f"SELECT * FROM '{res['results_dir']}/{q}/*.parquet'"))
        prints[q] = fingerprint(got_cols, got)
        if (want_cols, want) != (got_cols, got):
            failures.append(f"{q}: result differs from DuckDB "
                            f"({len(got)} rows vs {len(want)}; fingerprint {prints[q]} vs "
                            f"{fingerprint(want_cols, want)})")
    con.close()
    return failures, prints


def geomean_p50(kinds):
    """Geometric mean over operation types of each type's median."""
    return stats.geomean([stats.median(v) for v in kinds.values() if v])


def plain_kinds(res, key):
    """Operation type -> samples of the plain (untraced) part of the timed window."""
    return {k: v for k, v in res[key].get("plain", {}).items() if v}


def end_to_end(res, rss_mb):
    """End-to-end metrics: CPU cost per operation, set-up time, memory."""
    cpu = plain_kinds(res, "cpu_samples")
    if not cpu:
        raise ValueError("no operation completed in the timed window")
    pooled = [x for v in cpu.values() for x in v]
    tail, n = stats.type_tail(cpu, res["params"]["tail_units"])
    info = {"tail_samples_per_kind": n,
            "setup_parts_s": {"session": round(res["session_s"], 3),
                              "setup_reps": [round(x, 3) for x in res["setup_reps_s"]],
                              "warmup": round(res["warmup_s"], 3)},
            "samples_per_kind": {k: len(v) for k, v in cpu.items()},
            "cpu_s_p50_per_kind": {k: round(stats.median(v), 4) for k, v in cpu.items()},
            "wall_s_p50_per_kind": {k: round(stats.median(v), 4)
                                    for k, v in plain_kinds(res, "samples").items()}}
    metrics = {
        "setup_s": res["session_s"] + stats.median(res["setup_reps_s"]) + res["warmup_s"],
        "cpu_s.geomean": geomean_p50(cpu),
        "cpu_s.tail": tail,
        "rows_per_cpu_s": res["rows"].get("plain", 0) / sum(pooled),
        "peak_rss_mb": rss_mb,
    }
    return metrics, info


def per_layer(res):
    """Per-layer metrics of a traced run; layers a workload does not touch read 0."""
    m = dict(res["layers"])
    # spans around calls into a layer are named <Layer>.<call>; the others
    # are the operations that contain them
    for name, t in stats.mean_self_by_name(res["spans"]).items():
        if "." in name:
            m[f"{name}_s"] = t
    plain = res["samples"].get("plain", {})
    traced = res["samples"].get("traced", {})
    both = {k for k in plain if plain[k] and traced.get(k)}
    if both:
        m["trace.overhead_ratio"] = (geomean_p50({k: traced[k] for k in both})
                                     / geomean_p50({k: plain[k] for k in both}))
    for k, v in plain.items():
        if v and not k.startswith("q_"):
            m[f"{k}.p50_s"] = stats.median(v)
    # the client's wall-clock view, measured with tracing off
    wall = plain_kinds(res, "samples")
    if wall:
        m["op_s.geomean"] = geomean_p50(wall)
        m["op_s.tail"] = stats.type_tail(wall, res["params"]["tail_units"])[0]
        m["rows_per_s"] = res["rows"].get("plain", 0) / res["wall_s"]["plain"]
    cpu = plain_kinds(res, "cpu_samples")
    m["cpu_s_per_unit"] = sum(x for v in cpu.values() for x in v) / max(1, res["units"].get("plain", 0))
    parts = res.get("parts", {}).get("plain", {})
    if parts.get("triggerExecution"):
        m["Ingest.triggerExecution_s"] = stats.median(parts["triggerExecution"])
    queries = {k: v for k, v in plain.items() if k.startswith("q_") and v}
    if queries:
        m["query.p50_s"] = stats.median([x for v in queries.values() for x in v])
        m["Registry.mix_total_s"] = sum(stats.median(v) for v in queries.values())
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not (ROOT / "BENCHMARK.json").exists():
        fail("BENCHMARK.json not found; run from a checkout root")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    section = "per_layer" if a.trace else "end_to_end"
    wanted = {m["name"]: m["unit"] for m in spec[section]}

    jars = spark_jars()
    classes = build(jars)
    work = ROOT / ".bench_build" / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        out = work / "result.json"
        status, rss_mb = run_jvm(classes, jars, [a.workload, str(a.seed), str(a.seconds),
                                                 str(a.trace), str(work), str(out)], work)
        if status != 0 or not out.exists():
            sys.stderr.write((work / "jvm.log").read_text()[-4000:])
            fail(f"benchmark JVM exited with status {status}")
        res = json.loads(out.read_text())
        if res.get("error"):
            fail("benchmark error: " + res["error"])
        failures = list(res["failures"])
        info = {"workload": a.workload, "seed": a.seed, "input_hash": res["input_hash"],
                "params": res["params"]}
        if a.workload == "query_mix":
            bad, prints = oracle_check(res)
            failures += bad
            info["fingerprints"] = prints
        if a.trace:
            got = per_layer(res)
            metrics = {k: (float(got.get(k, 0.0)), u) for k, u in wanted.items()}
        else:
            got, extra = end_to_end(res, rss_mb)
            info.update(extra)
            metrics = {k: (float(got[k]), u) for k, u in wanted.items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        log("CHECK FAILED " + f)
    attempted = max(1, int(res["attempted"]))
    failed = min(attempted, len(failures))
    line = stats.result_line(not failures, attempted, failed, metrics)
    try:
        stats.parse_result_line(line, expected_metrics=wanted)
    except ValueError as e:
        fail(f"malformed result line ({e}): {line}")
    print("perfbench: " + json.dumps(info, sort_keys=True))
    print(line, flush=True)
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
