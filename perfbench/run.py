#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the harness from
source on first use (sbt, offline), runs one workload in a fresh JVM,
checks its results, and prints as the last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
ones. Everything it writes goes under .bench_build/ in the checkout.
See perfbench/README.md for the workloads and the metric map.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["wire_query", "wire_ingest", "batch_sweep"]
# JVM start, set-up and the correctness pass take up to this long; the
# measured part takes about --seconds (twice that leaves room for a slow host)
SETUP_ALLOWANCE_S = 110
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads: the program's sources and build
    definition, and the harness's own."""
    files = [os.path.join(ROOT, "build.sbt")]
    files += sorted(glob.glob(os.path.join(ROOT, "project", "*.sbt")))
    files += sorted(glob.glob(os.path.join(ROOT, "project", "*.properties")))
    files += sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*.*"), recursive=True))
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    files += sorted(glob.glob(os.path.join(HERE, "src", "main", "**", "*.scala"), recursive=True))
    return files


def build():
    """Compiles program + harness unless the sources are unchanged since
    the last build; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("program sources not found next to perfbench/ (run from a full checkout)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    home = os.path.expanduser("~")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={home}/.sbt/repositories",
        "-Dsbt.offline=true", "-Xmx2g",
        f"-Dsbt.global.base={BUILD}/sbt-global",
        "-Dsbt.server.forcestart=false"])
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    cps = [l.strip() for l in open(log) if l.startswith("/") and "scala-2.13/classes" in l]
    if r.returncode != 0 or not cps:
        die(f"build failed, see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def run_jvm(cp, workload, seed, seconds, trace, work):
    """Runs one workload; returns the parsed report, or None."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
        f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
        "-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", "1" if trace else "0", "--work", work,
        "--git-sha", git_sha()]
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=SETUP_ALLOWANCE_S + 2 * seconds)
        except subprocess.TimeoutExpired:
            print(f"perfbench: {workload} timed out", file=sys.stderr)
            return None
        finally:
            # never leave the JVM behind: timeout, SIGTERM or any error
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    reports = [l for l in out.splitlines() if l.startswith("PERFBENCH_REPORT ")]
    if p.returncode != 0 or not reports:
        print(f"perfbench: {workload} failed (exit {p.returncode}), see {work}/jvm.log",
              file=sys.stderr)
        return None
    return json.loads(reports[-1][len("PERFBENCH_REPORT "):])


def oracle_check(work):
    """Compares each batch query's result with the DuckDB oracle SQL of
    SparkEntry.oracleSql over the same seeded tables. Returns
    (checked, mismatches, notes)."""
    import duckdb
    import numpy as np
    import pandas as pd
    con = duckdb.connect()
    for t in glob.glob(os.path.join(work, "data", "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}/*.parquet')")
    oracle = json.load(open(os.path.join(work, "oracle_sql.json")))
    checked, bad, notes = 0, 0, []
    for name, sql in sorted(oracle.items()):
        checked += 1
        files = sorted(glob.glob(os.path.join(work, "results", name, "*.parquet")))
        try:
            mine = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            ref = con.sql(sql).df()
            cols = sorted(mine.columns)
            if cols != sorted(ref.columns) or len(mine) != len(ref):
                raise ValueError(f"shape mine={cols}x{len(mine)} ref={sorted(ref.columns)}x{len(ref)}")
            mine = mine[cols].sort_values(by=cols, kind="mergesort").reset_index(drop=True)
            ref = ref[cols].sort_values(by=cols, kind="mergesort").reset_index(drop=True)
            for c in cols:
                a, b = mine[c].to_numpy(), ref[c].to_numpy()
                if a.dtype.kind == "f" or b.dtype.kind == "f":
                    a, b = a.astype(float), b.astype(float)
                    eq = (a == b) | (np.isnan(a) & np.isnan(b))
                else:
                    eq = a == b
                if not eq.all():
                    i = int(np.argmin(eq))
                    raise ValueError(f"col={c} row={i} mine={a[i]!r} ref={b[i]!r}")
        except Exception as e:
            bad += 1
            notes.append(f"{name}: {type(e).__name__}: {e}")
    return checked, bad, notes


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cpu_times():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def run_one(cp, workload, seed, seconds, trace):
    work = os.path.join(BUILD, "work", f"{workload}-s{seed}-t{int(trace)}")
    c0 = cpu_times()
    rep = run_jvm(cp, workload, seed, seconds, trace, work)
    c1 = cpu_times()
    if rep is None:
        return None
    # share of CPU time the hypervisor gave to other guests during the run:
    # a run taken under steal reads slow and can be seen and re-run
    rep["provenance"]["cpu_steal_pct"] = (
        round(100.0 * (c1[0] - c0[0]) / max(1, c1[1] - c0[1]), 2) if c0 and c1 else None)
    attempted, failed, wrong = rep["attempted"], rep["failed"], rep["wrong"]
    if workload == "batch_sweep":
        checked, bad, notes = oracle_check(work)
        attempted += checked
        failed += bad
        wrong += bad
        rep["oracle"] = {"checked": checked, "mismatches": bad, "notes": notes}
    b = spec()
    names = b["per_layer"] if trace else b["end_to_end"]
    source = rep["layers"] if trace else rep["metrics"]
    # a layer the workload never exercises has no counter: it reads 0
    metrics = {m["name"]: {"value": source.get(m["name"], 0.0), "unit": m["unit"]} for m in names}
    # the JVM writes a value it could not measure (NaN) as the string "NaN"
    unmeasured = [k for k, v in metrics.items()
                  if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"])]
    if unmeasured:
        print(f"perfbench: {workload} measured no value for {unmeasured}", file=sys.stderr)
        return None
    out = {"correct": wrong == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    rep["result"] = out
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{workload}-s{seed}-t{int(trace)}.json"), "w") as f:
        json.dump(rep, f, indent=1, sort_keys=True)
    summarize(workload, rep, trace)
    return out


def summarize(workload, rep, trace):
    """Human-readable lines: every metric with its unit and sample count."""
    ex = rep["extra"]
    counts = {"eq_ms": ex.get("eq_samples", ex.get("query_samples")),
              "rs_ms": ex.get("rs_samples", ex.get("query_samples")),
              "pass_s": ex.get("cycles", ex.get("passes"))}
    print(f"== {workload} (seed {rep['provenance']['seed']}, trace {int(trace)}, "
          f"cpu steal {rep['provenance']['cpu_steal_pct']}%) "
          f"attempted={rep['result']['attempted']} failed={rep['result']['failed']} "
          f"correct={rep['result']['correct']}")
    def num(v):
        return f"{v:14.4f}" if isinstance(v, (int, float)) else f"{str(v):>14s}"
    for k, v in sorted(rep["result"]["metrics"].items()):
        n = counts.get(k)
        print(f"   {k:40s} {num(v['value'])} {v['unit']:6s}" + (f" n={int(n)}" if n else ""))
    for k, v in sorted(ex.items()):
        print(f"   extra.{k:34s} {num(v)}")
    if rep.get("failure_causes"):
        print(f"   failure causes: {rep['failure_causes']}")
    if rep.get("oracle", {}).get("notes"):
        print(f"   oracle: {rep['oracle']['notes']}")


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.workload != "all" and a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload}")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        die("BENCHMARK.json not found at the repository root")
    cp = build()
    if a.workload != "all":
        out = run_one(cp, a.workload, a.seed, a.seconds, a.trace == 1)
        if out is None:
            sys.exit(1)
        print(json.dumps(out))
        return
    results = {w: run_one(cp, w, a.seed, a.seconds, a.trace == 1) for w in WORKLOADS}
    if any(r is None for r in results.values()):
        sys.exit(1)
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()}}))


if __name__ == "__main__":
    main()
