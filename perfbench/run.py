#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 20 --trace 0

From the root of a checkout it builds the program and the harness from
source (once per source state, under .bench_build/), generates the input
tables from --seed, runs the workload's items in a fresh JVM for --seconds,
checks every item's output against its DuckDB oracle with tools/check.py,
writes a result file under .bench_build/results/ and prints one JSON line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD_ROOT = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

import gen_data  # noqa: E402
import metrics  # noqa: E402

# Each workload is a fixed panel of queries from one family, chosen to
# exercise the mechanisms its layers measure while set-up, a cold pass, a
# warm-up pass and MIN_WARM_PASSES warm passes fit in one run of about a
# minute. --seed permutes the order and generates the data; it never
# changes which items run.
WORKLOADS = {
    "migrate": {
        "sf": 0.01,
        "validate": True,
        "items": [
            "q80_dtsx_cdc_merge",         # MERGE compiler
            "q103_dtsx_while_loop",       # WHILE loop, one eager job per iteration
            "q150_dtsx_else_if",          # IF / ELSE IF ladder, the panel's costliest build
        ],
    },
    "curate": {
        "sf": 0.01,
        "validate": False,
        "items": [
            "x48_ann_ivf_persisted",      # staged IVF index, eager build-phase jobs
            "x45_bucketed_snapshot_diff",  # staged bucketed diff, written snapshot
            "x117_stream_mixture_drift",  # streaming drain with aggregation state
        ],
    },
}

# pass_s is the median of the warm passes: with three, one slow pass
# (a burst of host load) does not move it
MIN_WARM_PASSES = 3
# disturbed passes (metrics.STEAL_LIMIT) are run again, up to this many
# warm passes in all, so that a burst of host load costs a run at most
# two passes more
MAX_WARM_PASSES = 5
JVM_TIMEOUT_S = 140
CHECK_TIMEOUT_S = 25
HEAP = ["-Xms4g", "-Xmx4g"]
ADD_OPENS = [
    arg for pkg in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [ROOT / "src" / "main", HERE / "src"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def build():
    """Compiles the program and the harness once per source state.
    Returns (classpath, path of oracle_sql.json, source hash)."""
    needed = [ROOT / "build.sbt", ROOT / "src" / "main" / "scala", ROOT / "tools" / "check.py",
              HERE / "build.sbt"]
    missing = [str(p.relative_to(ROOT)) for p in needed if not p.exists()]
    if missing:
        fail(f"not a checkout of the repository: missing {', '.join(missing)}")
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    stamp = h.hexdigest()[:16]
    out = BUILD_ROOT / "build" / stamp
    cp_file, oracle = out / "classpath.txt", out / "oracle_sql.json"
    if cp_file.exists() and oracle.exists():
        return cp_file.read_text().strip(), oracle, stamp
    shutil.rmtree(BUILD_ROOT / "build", ignore_errors=True)
    out.mkdir(parents=True)
    log(f"building {stamp}")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = f"{env.get('SBT_OPTS', '')} -Djava.io.tmpdir={BUILD_ROOT / 'tmp'}"
    (BUILD_ROOT / "tmp").mkdir(parents=True, exist_ok=True)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[") and os.pathsep in l]
    if not lines:
        fail("build printed no classpath")
    classpath = lines[-1].strip()
    subprocess.run(["java", "-cp", classpath, "graftbench.OracleSql", str(oracle)],
                   check=True, stdin=subprocess.DEVNULL, timeout=120)
    cp_file.write_text(classpath)
    return classpath, oracle, stamp


def weather():
    def read(path):
        try:
            return Path(path).read_text()
        except OSError:
            return ""
    mem = {}
    for line in read("/proc/meminfo").splitlines():
        k, _, v = line.partition(":")
        if k in ("MemTotal", "MemFree", "MemAvailable"):
            mem[k.lower() + "_kb"] = int(v.split()[0])
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    # user nice system idle iowait irq softirq steal, in clock ticks since boot
    ticks = [int(v) for v in read("/proc/stat").splitlines()[0].split()[1:9]] \
        if read("/proc/stat") else []
    return {"time": time.time(), "loadavg": read("/proc/loadavg").split()[:3],
            "nproc": cpus(), **mem, "cpu_ticks": ticks,
            # one core's speed: the same loop on a quiet host takes the same time
            "cpu_probe_s": time.perf_counter() - t0}


def steal_frac(start, end):
    """Share of the host's CPU time taken by other guests during the run."""
    d = [b - a for a, b in zip(start["cpu_ticks"], end["cpu_ticks"])]
    return d[7] / sum(d) if len(d) == 8 and sum(d) else None


def cpus():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except OSError:
        return None


def write_legacy(data, items, oracle, out):
    """The 'legacy' side of migrate's validation: each item's oracle result
    computed by DuckDB over the same tables, as one parquet file per item."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for p in sorted(Path(data).glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    for name in items:
        pq.write_table(con.sql(oracle[name]).arrow(), str(Path(out) / f"{name}.parquet"))


def run_jvm(cmd, log_path):
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=logf, stderr=logf,
                                start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def run(args):
    w = WORKLOADS[args.workload]
    classpath, oracle_file, stamp = build()
    oracle = json.loads(oracle_file.read_text())
    run_dir = BUILD_ROOT / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    d = {k: run_dir / k for k in ("data", "tmp", "local", "warehouse", "out", "legacy")}
    for p in d.values():
        p.mkdir(parents=True)
    try:
        start = weather()
        gen_data.write(str(d["data"]), w["sf"], args.seed)
        items = list(w["items"])
        random.Random(args.seed).shuffle(items)
        if w["validate"]:
            write_legacy(d["data"], items, oracle, d["legacy"])
        n = cpus()
        result = run_dir / "result.json"
        cmd = ["java", *ADD_OPENS, *HEAP, f"-Djava.io.tmpdir={d['tmp']}",
               "-cp", classpath, "graftbench.Harness",
               f"workload={args.workload}", f"items={','.join(items)}",
               f"data={d['data']}", f"legacy={d['legacy'] if w['validate'] else ''}",
               f"workdir={run_dir}", f"result={result}", f"trace={args.trace}",
               f"cpus={n}", f"seconds={args.seconds}",
               f"min_warm_passes={MIN_WARM_PASSES}", f"max_warm_passes={MAX_WARM_PASSES}",
               f"steal_limit={metrics.STEAL_LIMIT}",
               f"packages={ROOT / 'src' / 'main' / 'resources' / 'dtsx'}"]
        results = BUILD_ROOT / "results"
        results.mkdir(parents=True, exist_ok=True)
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(start['time'])}"
        rc = run_jvm(cmd, results / f"{tag}-jvm.log")
        if rc != 0 or not result.exists():
            fail(f"harness {'timed out' if rc is None else f'exited with {rc}'}; "
                 f"log in {results / f'{tag}-jvm.log'}", 1)
        raw = json.loads(result.read_text())
        shutil.copy(result, results / f"{tag}-spans.json")

        (d["out"] / "oracle_sql.json").write_text(json.dumps({k: oracle[k] for k in items}))
        check = subprocess.run(
            [sys.executable, str(ROOT / "tools" / "check.py"), str(d["data"]), str(d["out"]), *items],
            stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=CHECK_TIMEOUT_S)
        oracle_failed = metrics.parse_check(check.stdout, items)
        exec_failed = metrics.item_failures(raw)
        attempted = sum(1 for s in raw["spans"] if s.get("kind") == "item" and "id" in s)
        failed = len(exec_failed) + len(oracle_failed)
        for name, err in exec_failed + sorted(oracle_failed.items()):
            log(f"FAILED {name}: {err}")

        end = weather()
        values = (metrics.per_layer(raw, n) if args.trace else metrics.end_to_end(raw))
        units = metrics.PER_LAYER if args.trace else metrics.END_TO_END
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "items": items, "sf": w["sf"],
            "source_hash": stamp, "git_commit": git_commit(),
            "jvm": raw["jvm"], "spark_version": raw["spark_version"],
            "spark_conf": {k: v.replace(str(ROOT), ".") for k, v in raw["spark_conf"].items()},
            "cpus": n,
            "weather": {"start": start, "end": end, "steal_frac": steal_frac(start, end)},
            "setup_s": raw["setup_s"],
            "passes": [{"cold": p["cold"], "warmup": p["warmup"], "steal_frac": p["steal_frac"],
                        "wall_s": (p["end"] - p["start"]) / 1e3}
                       for p in metrics.Run(raw).passes],
            "item_runs": metrics.item_runs(raw),
            "failures": [{"item": k, "error": v} for k, v in exec_failed + sorted(oracle_failed.items())],
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }
        (results / f"{tag}.json").write_text(json.dumps(report, indent=1))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": report["metrics"]}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    run(ap.parse_args())


if __name__ == "__main__":
    main()
