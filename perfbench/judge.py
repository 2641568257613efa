"""Output checker and metric arithmetic of the benchmark.

`evaluate(report)` takes the raw report the benchmark JVM writes
(perfbench/src/perfbench/Main.scala) and returns the result object printed as
the last output line plus human-readable lines. Pure functions on plain data,
so the rules are unit-tested without Spark (perfbench/test_judge.py).
"""

import statistics

E2E = {  # name -> unit; the untraced run reports exactly these
    "docs_per_s": "docs/s",
    "op_p50_s": "s",
    "ops_per_s": "ops/s",
    "cpu_s_per_op": "s",
    "write_bytes_per_doc": "B/doc",
    "heap_live_peak_mb": "MB",
    "setup_s": "s",
}

# Layers whose spans sit directly under a decomposed pass and together redo
# one orchestrated full_golden pass (stats.mmd is the driver-side extra).
DECOMPOSED_LAYERS = ("engine.catalog.read", "checks.scan", "checks.uniqueness",
                     "checks.referential", "checks.integrity", "checks.drift", "checks.mmd")

PER_LAYER = {  # name -> unit; the traced run reports exactly these
    "checks.scan.wall_s": "s",
    "checks.scan.exec_cpu_s": "s",
    "checks.scan.cpu_ns_per_doc": "ns/doc",
    "checks.scan.input_bytes_per_doc": "B/doc",
    "checks.uniqueness.wall_s": "s",
    "checks.uniqueness.exec_cpu_s": "s",
    "checks.uniqueness.shuffle_write_bytes_per_doc": "B/doc",
    "checks.uniqueness.spill_bytes": "B",
    "checks.uniqueness.max_to_median_task": "ratio",
    "checks.referential.wall_s": "s",
    "checks.referential.rows_scanned_per_violation": "rows",
    "checks.referential.broadcast_build_s": "s",
    "checks.integrity.wall_s": "s",
    "checks.integrity.rows_scanned_per_violation": "rows",
    "engine.run.wall_s": "s",
    "engine.run.read_amplification": "ratio",
    "engine.run.layer_self_sum_s": "s",
    "engine.run.overlap": "ratio",
    "engine.catalog.commit_s": "s",
    "engine.catalog.commit_bytes_per_doc": "B/doc",
    "engine.catalog.read_plan_s": "s",
    "engine.catalog.rollback_s": "s",
    "engine.wap.gate_s": "s",
    "checks.mmd.wall_s": "s",
    "checks.mmd.tasks": "count",
    "checks.mmd.exec_cpu_s": "s",
    "stats.mmd.kernel_s": "s",
    "checks.mmd.overhead_frac": "ratio",
    "checks.drift.verdict_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.driver_gap_s": "s",
    "spark.task_busy_frac": "ratio",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.input_bytes": "B",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "model.gen_s": "s",
    "checks.fit_s": "s",
    "trace.overhead_frac": "ratio",
}


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


# ---------------------------------------------------------------- timings

def tail(values):
    """The highest percentile with at least ten ops beyond it.

    Returns (value, percentile, n). The value at sorted index n - 11 has
    exactly ten larger samples, and it is the percentile 100 * (n - 10) / n
    (rounded down). With fewer than 20 ops that percentile lies at or below
    the median, so the median (percentile 50) is reported instead."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return median(xs), 50, n
    return xs[n - 11], (100 * (n - 10)) // n, n


# ---------------------------------------------------------------- spans

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """Span id -> self time in ms: duration minus the part of it that its
    direct children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
            for c in kids.get(s["id"], []) if c["end_ms"] > s["start_ms"] and c["start_ms"] < s["end_ms"])
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered
    return out


def attribute(jobs, spans):
    """Job id -> id of the innermost span open when the job was submitted.

    Spark stamps submission in whole milliseconds, so a job stamped t was
    submitted within [t, t + 1). Of the spans overlapping that interval the
    one that started last is the innermost (a child starts after its parent;
    a sibling that ended in the same millisecond cannot have submitted a job
    that also finished there). Jobs outside every span are left out."""
    depth = {}
    by_id = {s["id"]: s for s in spans}

    def depth_of(s):
        if s["id"] not in depth:
            p = by_id.get(s["parent"])
            depth[s["id"]] = 0 if p is None else depth_of(p) + 1
        return depth[s["id"]]

    out = {}
    for j in jobs:
        t = j["submit_ms"]
        open_ = [s for s in spans if s["start_ms"] <= t + 1 and s["end_ms"] >= t]
        if open_:
            out[j["id"]] = max(open_, key=lambda s: (s["start_ms"], depth_of(s)))["id"]
    return out


class Trace:
    """Spans, jobs and stage records of one traced run, with lookups."""

    def __init__(self, report):
        self.spans = report.get("spans", [])
        self.jobs = {j["id"]: j for j in report.get("jobs", [])}
        self.stages = {s["id"]: s for s in report.get("stages", [])}
        self.by_id = {s["id"]: s for s in self.spans}
        self.self_ms = self_times(self.spans)
        owner = attribute(self.jobs.values(), self.spans)
        self.jobs_of = {}  # span id -> jobs attributed to it or a descendant
        for jid, sid in owner.items():
            while sid in self.by_id:
                self.jobs_of.setdefault(sid, []).append(self.jobs[jid])
                sid = self.by_id[sid]["parent"]
        # a stage's tasks ran under the first job that lists it
        self.stage_job = {}
        for j in sorted(self.jobs.values(), key=lambda j: j["id"]):
            for st in j["stages"]:
                self.stage_job.setdefault(st, j["id"])

    def named(self, name, root=None):
        """Spans called `name`, optionally only under root spans called `root`."""
        out = []
        for s in self.spans:
            if s["name"] != name:
                continue
            r = s
            while r["parent"] in self.by_id:
                r = self.by_id[r["parent"]]
            if root is None or r["name"] == root:
                out.append(s)
        return out

    def stage_records(self, span_ids):
        seen, out = set(), []
        for sid in span_ids:
            for j in self.jobs_of.get(sid, []):
                for st in j["stages"]:
                    if st not in seen and self.stage_job.get(st) == j["id"] and st in self.stages:
                        seen.add(st)
                        out.append(self.stages[st])
        return out

    def jobs_under(self, span_ids):
        return [j for sid in span_ids for j in self.jobs_of.get(sid, [])]

    def per_op(self, name, root=None):
        """op index -> spans called `name` in that op."""
        out = {}
        for s in self.named(name, root):
            out.setdefault(s["op"], []).append(s)
        return out


def stage_sum(stages, key):
    return sum(s[key] for s in stages)


def max_to_median_task(stages):
    """Skew of the largest stage: longest task over the median task."""
    big = max((s for s in stages if s["tasks"] > 1), key=lambda s: s["tasks"], default=None)
    if big is None:
        return 0.0
    med = median(big["durations_ms"])
    return max(big["durations_ms"]) / med if med > 0 else 0.0


def layer_metrics(report):
    """The per-layer metrics of a traced run."""
    tr = Trace(report)
    ops = {o["i"]: o for o in report["ops"]}
    traced_ops = [o for o in report["ops"] if o["phase"] == "traced"]
    cores = report["cores"]
    m = {}

    def dur_s(spans):
        return sum(s["end_ms"] - s["start_ms"] for s in spans) / 1000.0

    def layer(name, root=None):
        """op -> (wall s, stage records) for spans called `name`."""
        return {op: (dur_s(ss), tr.stage_records([s["id"] for s in ss]))
                for op, ss in tr.per_op(name, root).items()}

    def docs(op):
        return ops[op]["docs"] if op in ops and ops[op]["docs"] else 0

    def per_doc(per_op, key):
        return median(stage_sum(st, key) / docs(op) for op, (_, st) in per_op.items() if docs(op))

    scan = layer("checks.scan")
    m["checks.scan.wall_s"] = median(w for w, _ in scan.values())
    m["checks.scan.exec_cpu_s"] = median(stage_sum(st, "cpu_ns") / 1e9 for _, st in scan.values())
    m["checks.scan.cpu_ns_per_doc"] = per_doc(scan, "cpu_ns")
    m["checks.scan.input_bytes_per_doc"] = per_doc(scan, "input_bytes")

    uniq = layer("checks.uniqueness")
    m["checks.uniqueness.wall_s"] = median(w for w, _ in uniq.values())
    m["checks.uniqueness.exec_cpu_s"] = median(stage_sum(st, "cpu_ns") / 1e9 for _, st in uniq.values())
    m["checks.uniqueness.shuffle_write_bytes_per_doc"] = per_doc(uniq, "shuffle_write_bytes")
    m["checks.uniqueness.spill_bytes"] = median(stage_sum(st, "spill_bytes") for _, st in uniq.values())
    m["checks.uniqueness.max_to_median_task"] = median(max_to_median_task(st) for _, st in uniq.values())

    def scanned_per_violation(per_op, checks):
        vals = []
        for op, (_, st) in per_op.items():
            found = sum(ops.get(op, {}).get("obs", {}).get("violations", {}).get(c, 0) for c in checks)
            if found:
                vals.append(stage_sum(st, "input_records") / found)
        return median(vals)

    ref = layer("checks.referential")
    m["checks.referential.wall_s"] = median(w for w, _ in ref.values())
    m["checks.referential.rows_scanned_per_violation"] = scanned_per_violation(ref, ["ref_media"])
    # the catalog broadcast is built by the "broadcast exchange" job(s) of each op
    m["checks.referential.broadcast_build_s"] = median(
        sum(j["end_ms"] - j["submit_ms"] for j in tr.jobs_under([s["id"]])
            if "broadcast exchange" in j["description"]) / 1000.0
        for s in tr.named("op"))
    integ = layer("checks.integrity")
    m["checks.integrity.wall_s"] = median(w for w, _ in integ.values())
    m["checks.integrity.rows_scanned_per_violation"] = scanned_per_violation(
        integ, ["span_order", "null_kind"])

    run = tr.named("engine.run", "op")
    m["engine.run.wall_s"] = median(dur_s([s]) for s in run)
    bytes_on_disk = report["expect"].get("snapshot_bytes")
    amp = []
    for s in tr.named("op"):
        base = bytes_on_disk or ops[s["op"]]["obs"].get("commit_bytes")
        if base:
            amp.append(stage_sum(tr.stage_records([s["id"]]), "input_bytes") / base)
    m["engine.run.read_amplification"] = median(amp)
    decomposed = tr.named("op.decomposed")
    self_sums = [sum(tr.self_ms[c["id"]] for c in tr.spans
                     if c["parent"] == d["id"] and c["name"] in DECOMPOSED_LAYERS) / 1000.0
                 for d in decomposed]
    m["engine.run.layer_self_sum_s"] = median(self_sums) if run else 0.0
    pass_wall = median(dur_s([s]) for s in tr.named("op")) if decomposed and run else 0.0
    m["engine.run.overlap"] = m["engine.run.layer_self_sum_s"] / pass_wall if pass_wall else 0.0

    m["engine.catalog.commit_s"] = median(dur_s([s]) for s in tr.named("engine.catalog.commit"))
    m["engine.catalog.commit_bytes_per_doc"] = median(
        o["obs"]["commit_bytes"] / o["docs"] for o in traced_ops
        if o["docs"] and "commit_bytes" in o["obs"])
    m["engine.catalog.read_plan_s"] = median(dur_s([s]) for s in tr.named("engine.catalog.read"))
    m["engine.catalog.rollback_s"] = median(dur_s([s]) for s in tr.named("engine.catalog.rollback"))
    m["engine.wap.gate_s"] = median(dur_s([s]) for s in tr.named("engine.wap.gate"))

    mmd = tr.named("checks.mmd")
    kernel = median(dur_s([s]) for s in tr.named("stats.mmd"))
    m["checks.mmd.wall_s"] = median(dur_s([s]) for s in mmd)
    m["checks.mmd.tasks"] = median(stage_sum(tr.stage_records([s["id"]]), "tasks") for s in mmd)
    m["checks.mmd.exec_cpu_s"] = median(
        stage_sum(tr.stage_records([s["id"]]), "cpu_ns") / 1e9 for s in mmd)
    m["stats.mmd.kernel_s"] = kernel
    # share of the MMD layer's usable core time not spent in kernel arithmetic
    parts = median(s["attrs"].get("parts", 1) for s in mmd)
    usable = m["checks.mmd.wall_s"] * min(cores, m["checks.mmd.tasks"] or 1)
    m["checks.mmd.overhead_frac"] = 1 - kernel * parts / usable if usable and kernel else 0.0
    m["checks.drift.verdict_ms"] = median(dur_s([s]) * 1000 for s in tr.named("checks.drift"))

    per_op = []
    for s in tr.named("op"):
        jobs = tr.jobs_under([s["id"]])
        stages = tr.stage_records([s["id"]])
        wall = (s["end_ms"] - s["start_ms"]) / 1000.0
        busy = union_length((max(j["submit_ms"], s["start_ms"]), min(j["end_ms"], s["end_ms"]))
                            for j in jobs if j["end_ms"] > s["start_ms"])
        per_op.append({
            "jobs": len(jobs), "stages": len(stages),
            "tasks": stage_sum(stages, "tasks"),
            "gap": wall - busy / 1000.0,
            "busy": stage_sum(stages, "run_ms") / 1000.0 / (wall * cores) if wall else 0.0,
            "shuffle": stage_sum(stages, "shuffle_write_bytes"),
            "spill": stage_sum(stages, "spill_bytes"),
            "input": stage_sum(stages, "input_bytes"),
        })
    for key, name in (("jobs", "jobs_per_op"), ("stages", "stages_per_op"),
                      ("tasks", "tasks_per_op"), ("gap", "driver_gap_s"),
                      ("busy", "task_busy_frac"), ("shuffle", "shuffle_write_bytes"),
                      ("spill", "spill_bytes"), ("input", "input_bytes")):
        m["spark." + name] = median(p[key] for p in per_op)
    m["spark.gc_s"] = median(o["gc_s"] for o in traced_ops)
    m["spark.failed_tasks"] = sum(s["failed"] for s in tr.stages.values())

    m["model.gen_s"] = median(s["model.gen_s"] for s in report["setups"])
    m["checks.fit_s"] = median(s["checks.fit_s"] for s in report["setups"])
    plain = [o["wall_s"] for o in report["ops"] if o["phase"] == "untraced"]
    traced = [o["wall_s"] for o in traced_ops]
    m["trace.overhead_frac"] = median(traced) / median(plain) - 1 if plain and traced else 0.0
    return m


# ---------------------------------------------------------------- outputs

def check_op(workload, op, expect, reference):
    """None if the op's output is right, else the reason it is wrong.
    `reference` is the first full_golden pass, whose verdict flags and
    violation counts every later pass must repeat exactly."""
    obs = op["obs"]
    if "error" in obs:
        return obs["error"]
    if workload == "full_golden":
        want = {c: sorted(p) for c, p in expect["failing"].items()}
        got = {c: sorted(p) for c, p in obs["failing"].items()}
        if got != want:
            return f"constraint failures {got} != planted {want}"
        if reference is not None:
            if obs["flags"] != reference["flags"]:
                return "verdict flags differ from the first pass"
            if obs["violations"] != reference["violations"]:
                return f"violation counts {obs['violations']} != {reference['violations']}"
        return None
    if workload == "wap_ingest":
        if op["kind"] == "clean":
            if not obs["published"] or obs["failing"]:
                return f"clean batch not published (failing {obs['failing']})"
            if obs["current_parts"] != obs["audited_parts"]:
                return "published snapshot is not current"
        else:
            if obs["published"] or obs["failing"] != ["unique_doc_id"]:
                return f"dirty batch: published={obs['published']} failing={obs['failing']}"
            if obs["current_parts"] != obs["prior_parts"]:
                return "rollback did not restore the prior snapshot"
        return None
    if workload == "drift_requests":
        want = op["kind"] == "shifted"
        if obs["is_drift"] != want:
            return f"{op['kind']} batch part {obs['part']} window {obs['window']}: is_drift={obs['is_drift']}"
        return None
    return f"unknown workload {workload}"


def check_driver_mmd(report):
    """Traced drift_requests: the driver-side stats.mmd test must reproduce
    each request's distance and p-value exactly. Returns op -> reason."""
    bad = {}
    ops = {o["i"]: o for o in report["ops"]}
    for s in Trace(report).named("stats.mmd", "op.decomposed"):
        o = ops.get(s["op"])
        if o is None or "distance" not in o["obs"] or "distance" not in s["attrs"]:
            continue
        if (s["attrs"]["distance"], s["attrs"]["p_value"]) != (o["obs"]["distance"], o["obs"]["p_value"]):
            bad[s["op"]] = "driver-side MMD test disagrees with DriftChecks.mmd"
    return bad


def e2e_metrics(report, measured):
    walls = [o["wall_s"] for o in measured]
    docs = sum(o["docs"] for o in measured)
    m = {
        "docs_per_s": median(o["docs"] / o["wall_s"] for o in measured),
        "op_p50_s": median(walls),
        "ops_per_s": len(walls) / sum(walls),
        "cpu_s_per_op": median(o["cpu_s"] for o in measured),
        "write_bytes_per_doc": sum(o["write_bytes"] for o in measured) / docs if docs else 0.0,
        "heap_live_peak_mb": report["heap_live_mb"],
        "setup_s": median(s["setup_s"] for s in report["setups"]),
    }
    return m


def evaluate(report):
    wl = report["workload"]
    ops = report["ops"]
    failures = {}
    reference = None
    for o in ops:
        reason = check_op(wl, o, report["expect"], reference)
        if reason:
            failures[o["i"]] = reason
        elif reference is None and wl == "full_golden":
            reference = o["obs"]
    if report["trace"] and wl == "drift_requests":
        for i, reason in check_driver_mmd(report).items():
            failures.setdefault(i, reason)
    attempted, failed = len(ops), len(failures)
    lines = [f"perfbench {wl} seed={report['seed']} cores={report['cores']} "
             f"heap_max={report['heap_max_mb']:.0f}MB ops={attempted} "
             f"(warm-up {sum(o['phase'] == 'warmup' for o in ops)})"]
    lines.append("  phases " + " ".join(f"{k}={v:.1f}" for k, v in report.get("phases", {}).items()))
    lines += [f"  FAILED op {i}: {r}" for i, r in sorted(failures.items())]
    lines.append(f"  fail_frac {failed / attempted:.4f}")
    if report["trace"]:
        values, units = layer_metrics(report), PER_LAYER
    else:
        measured = [o for o in ops if o["phase"] == "timed"]
        values, units = e2e_metrics(report, measured), E2E
        # printed, not reported: a run times too few ops for a tail of its own
        t, pct, n = tail(o["wall_s"] for o in measured)
        lines.append(f"  op_tail_s {t:.6g} s is p{pct} of n={n} ops")
    for k, unit in units.items():
        lines.append(f"  {k:48s} {values[k]:14.6g} {unit}")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}
    return result, lines
