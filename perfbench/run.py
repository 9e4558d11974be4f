#!/usr/bin/env python3
"""Event-path benchmark of the engine: build, run one workload, check it,
print every metric.

Usage (from the repository root):

    python3 perfbench/run.py --workload events|queries \
        [--seed N] [--seconds S] [--trace 0|1]

The first run builds the engine plus the benchmark's own code with sbt
(perfbench/build.sbt; later runs reuse the build until a source file
changes), generates the seeded input tables (perfbench/gen.py), runs the
workload in a fresh JVM on the exported classpath with `local[nproc]`,
checks the outputs and prints one `name value unit` line per metric,
then one JSON object as the last line of standard output:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones and writes the spans to
.bench_out/trace-<workload>-seed<N>.jsonl. Every run also saves its full
record, environment included, to .bench_out/<workload>-seed<N>-trace<T>.json
(compare two with perfbench/compare.py). Stores, checkpoints and tables
live in a fresh directory under .bench_work/ that is deleted at the end.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent
TARGET = BENCH / "target"
WORKLOADS = ("events", "queries")
# Table scale relative to sf0.1: 10,000 events bulk-loaded by `events`;
# 60,000 lineitems, 10,000 events and 500 documents for `queries`.
SCALE = {"events": 0.1, "queries": 0.1}
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
HEAP = "3g"
DEADLINE_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of everything the build compiles."""
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (BENCH / "src", ROOT / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    stamp, cp_file = TARGET / "perfbench.stamp", TARGET / "perfbench.classpath"
    digest = source_hash()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={Path.home()}/.sbt/repositories "
                   "-Dsbt.offline=true -Xmx2g")
    log("building (sbt compile)")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=800)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    TARGET.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1])
    stamp.write_text(digest)
    return lines[-1]


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def git_commit():
    if not (ROOT / ".git").exists():  # an exported checkout: the source hash stands in
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def run_jvm(cp, args, work, timeout):
    """Run perfbench.Main in its own process group; kill it on timeout."""
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.sql.session.timeZone=UTC", *JVM_OPENS, "-cp", cp,
           "perfbench.Main", *args]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise SystemExit("perfbench: workload timed out")
    except BaseException:  # interrupted: take the JVM down with us
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def cell_eq(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return False
        return (math.isnan(af) and math.isnan(bf)) or af == bf
    return a == b


def oracle_failures(tables, oracle, results):
    """Compare each query result with its DuckDB oracle: columns sorted,
    rows sorted, exact values (the repository's correctness gate)."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in Path(tables).glob("*.parquet"):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}')")
    fails = []
    for name, sql in oracle.items():
        try:
            got = canon(pd.read_parquet(results / name))
            want = canon(con.execute(sql).fetchdf())
        except Exception as e:  # a query the oracle cannot replay is a failure
            fails.append(f"{name}: {type(e).__name__}: {e}"[:300])
            continue
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            fails.append(f"{name}: shape {list(got.columns)}x{len(got)} "
                         f"vs {list(want.columns)}x{len(want)}")
            continue
        bad = next(((c, i) for c in got.columns for i, (x, y) in
                    enumerate(zip(got[c].tolist(), want[c].tolist()))
                    if not cell_eq(x, y)), None)
        if bad:
            fails.append(f"{name}: differs at column {bad[0]} row {bad[1]}")
    con.close()
    return fails


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=60)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("perfbench: run from the repository root "
                         "(src/main/scala not found)")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cp = build()
    t_start = time.time()  # the run's deadline excludes the one-time build

    cores = len(os.sched_getaffinity(0))
    out_dir = ROOT / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    work = ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    load_before, cpu_before = os.getloadavg(), cpu_times()
    try:
        sys.path.insert(0, str(BENCH))
        import gen
        gen.generate(work / "data", a.seed, SCALE[a.workload])
        res_file = work / "result.json"
        jvm_args = ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--work", str(work), "--data", str(work / "data"),
                    "--cores", str(cores), "--out", str(res_file),
                    "--trace-out", str(out_dir / f"trace-{a.workload}-seed{a.seed}.jsonl")]
        code, output = run_jvm(cp, jvm_args, work,
                               max(30, DEADLINE_S - (time.time() - t_start)))
        if code != 0 or not res_file.exists():
            sys.stderr.write(output[-20000:])
            raise SystemExit(f"perfbench: workload exited with code {code}")
        res = json.loads(res_file.read_text())
        problems = list(res["problems"])
        failed = res["failed"]
        if a.workload == "queries":
            fails = oracle_failures(res["info"]["tables"], res["info"]["oracle"],
                                    work / "results")
            failed += len(fails)
            problems += fails
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".bench_work").rmdir()
        except OSError:  # another run's directory is still there
            pass

    cpu_after = cpu_times()
    section = "per_layer" if a.trace else "end_to_end"
    source = res["layers"] if a.trace else res["e2e"]
    metrics, missing = {}, []
    for m in spec[section]:
        v = source.get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    env = {"nproc": cores, "master": f"local[{cores}]", "seed": a.seed,
           "workload": a.workload, "trace": a.trace,
           "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
           # share of CPU time the hypervisor gave to other guests: a run
           # with a high share is slowed by the host, not the program
           "steal_share": round((cpu_after[0] - cpu_before[0]) /
                                max(1, cpu_after[1] - cpu_before[1]), 4),
           "git_commit": git_commit(), "source_sha256": source_hash(),
           "heap": HEAP, **res["info"]}
    env.pop("oracle", None)
    env.pop("tables", None)
    for p in problems:
        log(f"check failed: {p}")
    for m in missing:
        log(f"metric missing: {m}")
    record = {"env": env, "e2e": res["e2e"], "layers": res["layers"],
              "attempted": res["attempted"], "failed": failed, "problems": problems}
    (out_dir / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps(record, indent=1))
    print("env " + json.dumps(env))
    if a.trace:
        print("traced run end-to-end (tracing overhead vs untraced runs): " +
              json.dumps(res["e2e"]))
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0 and not missing,
                      "attempted": max(1, res["attempted"]), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
