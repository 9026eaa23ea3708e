"""Turns one harness run (its spans) into the benchmark's metrics.

Pure functions over the JSON the harness writes, so they can be tested
without Spark. Times in spans are epoch milliseconds.
"""
import re
import statistics

# name -> unit; BENCHMARK.json lists the same names and units
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}

PER_LAYER = {
    "parser.parse_s": "s", "parser.map_s": "s", "parser.packages": "count",
    "build.s": "s", "build.driver_s": "s", "build.jobs": "count", "build.job_s": "s",
    "build.foreign_job_frac": "ratio",
    "sources.schema_jobs": "count", "sources.schema_job_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.exchanges": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.deser_s": "s",
    "exec.sched_delay_s": "s", "exec.busy_frac": "ratio",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.input_mb": "MB", "exec.task_skew": "ratio",
    "sink.rows": "count", "sink.mb": "MB", "sink.s": "s",
    "streaming.batches": "count", "streaming.batch_s": "s",
    "streaming.state_rows": "count", "streaming.state_mb": "MB",
    "staging.builds": "count", "staging.mb": "MB", "staging.warm_builds": "count",
    "validate.s": "s", "validate.checks": "count", "validate.failed": "count",
    "jvm.gc_s": "s", "jvm.jit_s": "s", "jvm.cpu_s": "s", "jvm.heap_peak_mb": "MB",
    "trace.pass_s": "s", "trace.item_self_frac": "ratio",
    "cold.pass_s": "s", "cold.jit_s": "s",
}

MB = 1024.0 * 1024.0
# A warm pass during which the host gave more than this share of its CPU
# time to other guests measures the host, not the program: such passes
# ran up to twice as long. The harness runs another in its place, and no
# metric uses it unless every warm pass of the run was disturbed.
STEAL_LIMIT = 0.05
TAIL_SAMPLES = 10
# a job started while a DataFrame is built whose call site is a parquet
# read: Spark reading footers to infer the schema
SCHEMA_CALLSITE = re.compile(r"^parquet at ")


def tail_percentile(n):
    """The highest of 99/95/90/75/50 with at least TAIL_SAMPLES of n samples beyond it."""
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100.0 >= TAIL_SAMPLES:
            return p
    return None


def quantile(values, p):
    """Linear-interpolated p-th percentile of values."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the (start, end) intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - covered(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


class Run:
    """Indexes a harness result: bench spans by id, listener records by phase."""

    def __init__(self, raw):
        self.bench = {s["id"]: s for s in raw["spans"] if "id" in s}
        recs = [s for s in raw["spans"] if "id" not in s]
        self.passes = sorted((s for s in self.bench.values() if s["kind"] == "pass"),
                             key=lambda s: s["start"])
        self.items = [s for s in self.bench.values() if s["kind"] == "item"]
        self.phases = sorted((s for s in self.bench.values() if s["kind"] == "phase"),
                             key=lambda s: s["start"])
        # (pass index, item index in the pass, phase name) -> phase span id,
        # the key the harness writes into each phase's job group
        self._by_key = {}
        for p_idx, ps in enumerate(self.passes):
            items = sorted((i for i in self.items if i["parent"] == ps["id"]),
                           key=lambda s: s["start"])
            for i_idx, item in enumerate(items):
                for ph in self.phases:
                    if ph["parent"] == item["id"]:
                        self._by_key[(p_idx, i_idx, ph["name"])] = ph["id"]
        jobs = [r for r in recs if r["kind"] == "job"]
        self.job_phase = {j["job"]: self.attribute(j) for j in jobs}
        self.jobs = {j["job"]: j for j in jobs}
        self.stages = [r for r in recs if r["kind"] == "stage"]
        self.queries = [r for r in recs if r["kind"] == "query"]
        self.batches = [r for r in recs if r["kind"] == "batch"]

    def attribute(self, job):
        """The phase span id a job belongs to: named by its job group when the
        benchmark's thread started it, else the phase running when it started."""
        m = re.match(r"^bench/(\d+)/(\d+)/(\w+)$", job.get("group") or "")
        if m:
            key = (int(m.group(1)), int(m.group(2)), m.group(3))
            if key in self._by_key:
                return self._by_key[key]
        return self.phase_at(job["start"])

    def phase_at(self, t):
        for ph in self.phases:
            if ph["start"] <= t < ph["end"]:
                return ph["id"]
        return None

    def pass_of(self, span_id):
        s = self.bench.get(span_id)
        while s is not None and s["kind"] != "pass":
            s = self.bench.get(s["parent"])
        return s

    def wall_s(self, span):
        return (span["end"] - span["start"]) / 1e3

    def warm(self):
        """The timed passes: neither the cold pass nor the warm-up pass, and
        none the host disturbed, unless every one was."""
        warm = [p for p in self.passes if not p.get("cold") and not p.get("warmup")]
        return [p for p in warm if p.get("steal_frac", 0.0) <= STEAL_LIMIT] or warm


def end_to_end(raw):
    run = Run(raw)
    warm = run.warm()
    return {
        "setup_s": raw["setup_s"],
        "pass_s": statistics.median(run.wall_s(s) for s in warm),
    }


def _pass_layers(run, ps, cpus):
    """Per-layer totals over one pass."""
    def in_pass(span_id):
        p = run.pass_of(span_id)
        return p is not None and p["id"] == ps["id"]

    phases = [ph for ph in run.phases if in_pass(ph["id"])]
    by_name = {}
    for ph in phases:
        by_name.setdefault(ph["name"], []).append(ph)
    items = [i for i in run.items if i["parent"] == ps["id"]]
    jobs_in = {}
    for job_id, ph_id in run.job_phase.items():
        if ph_id is not None and in_pass(ph_id):
            jobs_in.setdefault(run.bench[ph_id]["name"], []).append(run.jobs[job_id])
    build_jobs, exec_jobs = jobs_in.get("build", []), jobs_in.get("exec", [])
    item_jobs = sum(len(jobs_in.get(n, [])) for n in ("build", "exec", "validate"))
    exec_job_ids = {j["job"] for j in exec_jobs}
    pass_job_ids = {j["job"] for js in jobs_in.values() for j in js}
    exec_stages = [s for s in run.stages if s.get("job") in exec_job_ids]
    pass_stages = [s for s in run.stages if s.get("job") in pass_job_ids]

    def phase_s(name):
        return sum(run.wall_s(ph) for ph in by_name.get(name, []))

    build_driver_s = sum(self_time(ph, build_jobs) for ph in by_name.get("build", [])) / 1e3
    schema = [j for j in build_jobs if SCHEMA_CALLSITE.search(j.get("callsite") or "")]
    exec_ids = {ph["id"] for ph in by_name.get("exec", [])}
    exec_q = [q for q in run.queries if run.phase_at(q["start"]) in exec_ids]
    pass_phase_ids = {ph["id"] for ph in phases}
    writes = [q for q in run.queries if q.get("write") and run.phase_at(q["start"]) in pass_phase_ids]
    batches = [b for b in run.batches if run.phase_at(b["start"]) in pass_phase_ids]
    last_batch = {}
    for b in sorted(batches, key=lambda b: b["start"]):
        last_batch[b["run_id"]] = b
    heaviest = max(exec_stages, key=lambda s: s["task_ms"], default=None)
    parse = by_name.get("parse", [])

    def ssum(stages, key):
        return sum(s[key] for s in stages)

    exec_s = phase_s("exec")
    item_s = sum(run.wall_s(i) for i in items)
    item_self_s = sum(self_time(i, [ph for ph in phases if ph["parent"] == i["id"]])
                      for i in items) / 1e3
    return {
        "parser.parse_s": sum(p["parse_s"] for p in parse),
        "parser.map_s": sum(p["map_s"] for p in parse),
        "parser.packages": sum(p["packages"] for p in parse),
        "build.s": phase_s("build"),
        "build.driver_s": build_driver_s,
        "build.jobs": len(build_jobs),
        "build.job_s": phase_s("build") - build_driver_s,
        "build.foreign_job_frac": len(build_jobs) / item_jobs if item_jobs else 0.0,
        "sources.schema_jobs": len(schema),
        "sources.schema_job_s": sum(j["end"] - j["start"] for j in schema) / 1e3,
        "catalyst.analysis_s": (sum(i.get("analysis_ms", 0) for i in items) +
                                sum(q["analysis_ms"] for q in exec_q)) / 1e3,
        "catalyst.optimization_s": sum(q["optimization_ms"] for q in exec_q) / 1e3,
        "catalyst.planning_s": sum(q["planning_ms"] for q in exec_q) / 1e3,
        "catalyst.exchanges": sum(q["exchanges"] for q in exec_q),
        "exec.s": exec_s,
        "exec.jobs": len(exec_jobs),
        "exec.stages": len(exec_stages),
        "exec.tasks": ssum(exec_stages, "tasks"),
        "exec.task_s": ssum(exec_stages, "task_ms") / 1e3,
        "exec.cpu_s": ssum(exec_stages, "cpu_ms") / 1e3,
        "exec.gc_s": ssum(exec_stages, "gc_ms") / 1e3,
        "exec.deser_s": ssum(exec_stages, "deser_ms") / 1e3,
        "exec.sched_delay_s": ssum(exec_stages, "sched_delay_ms") / 1e3,
        "exec.busy_frac": ssum(exec_stages, "task_ms") / 1e3 / (exec_s * cpus) if exec_s else 0.0,
        "exec.shuffle_read_mb": ssum(exec_stages, "shuffle_read_bytes") / MB,
        "exec.shuffle_write_mb": ssum(exec_stages, "shuffle_write_bytes") / MB,
        "exec.spill_mb": ssum(exec_stages, "spill_bytes") / MB,
        "exec.input_mb": ssum(exec_stages, "input_bytes") / MB,
        "exec.task_skew": (heaviest["task_max_ms"] / max(heaviest["task_median_ms"], 1)
                           if heaviest else 0.0),
        "sink.rows": ssum(pass_stages, "output_rows"),
        "sink.mb": ssum(pass_stages, "output_bytes") / MB,
        "sink.s": sum(q["end"] - q["start"] for q in writes) / 1e3,
        "streaming.batches": len(batches),
        "streaming.batch_s": sum(b["end"] - b["start"] for b in batches) / 1e3,
        "streaming.state_rows": sum(b["state_rows"] for b in last_batch.values()),
        "streaming.state_mb": sum(b["state_bytes"] for b in last_batch.values()) / MB,
        "validate.s": phase_s("validate"),
        "validate.checks": sum(i.get("checks", 0) for i in items),
        "validate.failed": sum(i.get("failed_checks", 0) for i in items),
        "jvm.gc_s": ps["gc_ms"] / 1e3,
        "jvm.jit_s": ps["jit_ms"] / 1e3,
        "jvm.cpu_s": ps["cpu_s"],
        "trace.pass_s": run.wall_s(ps),
        "trace.item_self_frac": item_self_s / item_s if item_s else 0.0,
    }


def per_layer(raw, cpus):
    """Medians over the warm passes of each pass's layer totals; staging
    builds and the cold.* metrics come from the cold pass."""
    run = Run(raw)
    warm = [_pass_layers(run, ps, cpus) for ps in run.warm()]
    out = {k: statistics.median(w[k] for w in warm) for k in warm[0]}
    cold = run.passes[0]
    out["staging.builds"] = cold["staging_builds"]
    out["staging.mb"] = cold["staging_bytes"] / MB
    out["staging.warm_builds"] = statistics.median(p["staging_builds"] for p in run.warm())
    out["jvm.heap_peak_mb"] = raw["heap_peak_mb"]
    # one cold pass per fresh JVM: too few samples in a run for an
    # end-to-end bound on this host, so it is reported per layer
    out["cold.pass_s"] = run.wall_s(cold)
    out["cold.jit_s"] = cold["jit_ms"] / 1e3
    return out


def item_runs(raw):
    """One record per item execution: its pass, wall time and phase walls."""
    run = Run(raw)
    out = []
    for p_idx, ps in enumerate(run.passes):
        for item in sorted((i for i in run.items if i["parent"] == ps["id"]),
                           key=lambda s: s["start"]):
            rec = {"item": item["name"], "pass": p_idx, "cold": ps["cold"],
                   "warmup": ps["warmup"],
                   "wall_s": run.wall_s(item)}
            for ph in run.phases:
                if ph["parent"] == item["id"]:
                    rec[ph["name"] + "_s"] = run.wall_s(ph)
            out.append(rec)
    return out


def item_failures(raw):
    """[(item, error class)] for every item execution that failed."""
    return [(s["name"], s["error"]) for s in raw["spans"]
            if s.get("kind") == "item" and "id" in s and s.get("error")]


def parse_check(stdout, items):
    """{item: error class} from tools/check.py's output for the given items."""
    failed = {}
    passed = set()
    for line in stdout.splitlines():
        m = re.match(r"^(PASS|FAIL) (\S+?):? (.*)$", line)
        if not m:
            continue
        name, rest = m.group(2), m.group(3)
        if m.group(1) == "PASS":
            passed.add(name)
        elif rest.startswith("no spark output"):
            failed[name] = "OracleNoOutput"
        elif rest.startswith("oracle error"):
            failed[name] = "OracleError"
        elif rest.startswith("columns"):
            failed[name] = "OracleColumnMismatch"
        elif rest.startswith("rows"):
            failed[name] = "OracleRowCountMismatch"
        else:
            failed[name] = "OracleValueMismatch"
    for name in items:
        if name not in passed and name not in failed:
            failed[name] = "OracleNotChecked"
    return failed
