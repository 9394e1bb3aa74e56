"""Turns the harness's raw observations into metrics.

All times from the harness are epoch milliseconds. Per-layer metrics are
means per traced operation unless their definition says otherwise.
"""
import math
import statistics


def tail_percentile(values, beyond=10):
    """The highest whole percentile p whose nearest-rank value still has at
    least `beyond` samples ranked above it. Returns (p, value, samples
    beyond); (50, median, n // 2) when there are too few samples."""
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= beyond:
            return p, xs[rank - 1], n - rank
    return 50, statistics.median(xs), n // 2


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover; children
    may overlap each other and stick out of the span."""
    return (end - start) - union_length(children, start, end)


# ------------------------------------------------------------ end to end
def end_to_end(raw, runs):
    """End-to-end metrics of the given timed operations. ops_per_s divides
    by the wall time of their passes, less the time the harness spent on
    its own checks between operations."""
    ms = [r["end"] - r["start"] for r in runs]
    failed = sum(1 for r in runs if r["error"] or r["mismatch"])
    p, tail, beyond = tail_percentile(ms)
    passes = {r["pass"] for r in runs}
    wall = sum(q["end"] - q["start"] for q in raw["passes"] if q["pass"] in passes)
    wall -= sum(r["harnessMs"] for r in runs)
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "op_p50_ms": statistics.median(ms),
        "op_tail_ms": tail,
        "ops_per_s": len(ms) / (wall / 1000.0),
        "peak_rss_mb": raw["vm_hwm_kb"] / 1024.0,
        "failed_frac": failed / len(ms),
        "tail_pct": p, "tail_beyond": beyond, "samples": len(ms),
    }


# ------------------------------------------------------------- per layer
class Trace:
    """Spans, jobs and stages of the traced operations of one run, tied
    together: op span -> layer call spans -> Spark jobs -> stages."""

    def __init__(self, raw, traced_runs):
        self.op_iv = {r["seq"]: (r["start"], r["end"]) for r in traced_runs}
        self.spans = [s for s in raw["spans"] if s["op"] in self.op_iv]
        self.calls = [s for s in self.spans if s["layer"] != "op"]
        self.stages = {s["id"]: s for s in raw["stages"]}
        self.jobs = {}  # op seq -> [job]
        for job in raw["jobs"]:
            seq = self._job_op(job)
            if seq is not None:
                self.jobs.setdefault(seq, []).append(job)

    def _job_op(self, job):
        if job["group"].startswith("perfbench-op-"):
            seq = int(job["group"].rsplit("-", 1)[1])
            return seq if seq in self.op_iv else None
        if job["group"] == "perfbench-readback":
            return None
        # jobs of streaming queries run under the stream's own job group
        for seq, (s, e) in self.op_iv.items():
            if s <= job["start"] <= e:
                return seq
        return None

    def all_jobs(self):
        return [j for js in self.jobs.values() for j in js]

    def jobs_in(self, span):
        return [j for j in self.jobs.get(span["op"], [])
                if span["start"] <= j["start"] <= span["end"]]

    def job_wall_in(self, span):
        return union_length([(j["start"], j["end"]) for j in self.jobs_in(span)],
                            span["start"], span["end"])

    def calls_named(self, layer, name):
        return [s for s in self.calls if s["layer"] == layer and s["name"] == name]

    def self_times(self):
        """Self time per layer (ms, summed over traced operations)."""
        out = {}
        children = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        for s in self.spans:
            kids = list(children.get(s["id"], []))
            if s["layer"] != "op":
                kids += [(j["start"], j["end"]) for j in self.jobs_in(s)]
            key = s["layer"] + "." + (s["name"] if s["layer"] != "op" else "harness")
            out[key] = out.get(key, 0.0) + self_time(s["start"], s["end"], kids)
        for j in self.all_jobs():
            stages = [(self.stages[i]["submit"], self.stages[i]["end"])
                      for i in j["stages"] if i in self.stages
                      and self.stages[i]["submit"] is not None and self.stages[i]["end"] is not None]
            out["spark.job"] = out.get("spark.job", 0.0) + self_time(j["start"], j["end"], stages)
            for st in stages:
                out["spark.stage"] = out.get("spark.stage", 0.0) + (st[1] - st[0])
        return out


def per_layer(raw, runs, artifact_ops):
    """Per-layer metrics of a traced run. The `ops.*` metrics other than
    `ops.artifacts_built` come from the check pass, which a traced run
    starts with an empty artifact root; `artifact_ops` are the ids of the
    operations that are backed by artifacts."""
    untraced = [r for r in runs if not r["traced"]]
    traced = [r for r in runs if r["traced"]]
    t = Trace(raw, traced)
    n = len(traced)
    per = lambda x: x / n
    ms = lambda spans: sum(s["end"] - s["start"] for s in spans)

    stmt, fmt = t.calls_named("engine", "statement"), t.calls_named("engine", "format")
    split = t.calls_named("engine", "split")
    eager, execs = t.calls_named("queries", "eager"), t.calls_named("queries", "exec")
    analysis = sum(a for seq, a in raw["stmt_analysis"] if seq in t.op_iv)
    stmt_jobs = [j for s in stmt for j in t.jobs_in(s)]

    ivs = list(t.op_iv.values())
    inside = lambda ts: any(s <= ts <= e for s, e in ivs)
    plans = [p for p in raw["plans"] if inside(p[0])]
    batches = [b for b in raw["batches"] if inside(b[0])]

    jobs = t.all_jobs()
    stage_ids = {i for j in jobs for i in j["stages"] if i in t.stages}
    stages = [t.stages[i] for i in stage_ids]
    skews = [s["max_ms"] / s["med_ms"] for s in stages if s["tasks"] >= 2 and s["med_ms"] > 0]

    outside = sum((r["end"] - r["start"]) - union_length(
        [(j["start"], j["end"]) for j in t.jobs.get(r["seq"], [])], r["start"], r["end"])
        for r in traced)
    top = [s for s in t.spans if s["layer"] == "op"]
    top_ids = {s["id"] for s in top}
    direct = [s for s in t.calls if s["parent"] in top_ids]

    def med_ms(rs):
        return statistics.median([r["end"] - r["start"] for r in rs])

    k = len(raw["register_s"])
    cold = list(raw["check"].values())
    metrics = {
        "engine.split_ms": per(ms(split)),
        "engine.statement_ms": per(ms(stmt)),
        "engine.rewrite_ms": per(ms(stmt) - analysis - sum(t.job_wall_in(s) for s in stmt)),
        "engine.eager_jobs": per(len(stmt_jobs)),
        "engine.format_ms": per(ms(fmt)),
        "engine.render_ms": per(ms(fmt) - sum(t.job_wall_in(s) for s in fmt)),
        "catalyst.analysis_ms": per(sum(p[1] for p in plans)),
        "catalyst.optimization_ms": per(sum(p[2] for p in plans)),
        "catalyst.planning_ms": per(sum(p[3] for p in plans)),
        "tables.register_s": statistics.median(raw["register_s"]),
        "tables.inference_jobs": raw["setup_jobs"] / k,
        "queries.eager_s": per(ms(eager)) / 1000,
        "queries.eager_jobs": per(sum(len(t.jobs_in(s)) for s in eager)),
        "queries.exec_s": per(ms(execs)) / 1000,
        "queries.exec_jobs": per(sum(len(t.jobs_in(s)) for s in execs)),
        "ops.artifacts_built": per(sum(r["built"] for r in traced)),
        "ops.cold_artifacts_built": sum(c.get("built", 0) for c in cold),
        "ops.artifact_bytes_written": sum(c.get("built_bytes", 0) for c in cold),
        "ops.artifact_build_ratio": (sum(c.get("built", 0) for c in cold) / len(artifact_ops)
                                     if artifact_ops else 0.0),
        "ops.cold_build_s": sum(c["first_ms"] - c["warm_ms"] for c in cold
                                if c.get("built")) / 1e3,
        "streaming.batches": per(len(batches)),
        "streaming.batch_ms": (statistics.mean(b[1] for b in batches) if batches else 0.0),
        "spark.jobs": per(len(jobs)),
        "spark.stages": per(len(stages)),
        "spark.tasks": per(sum(s["tasks"] for s in stages)),
        "spark.task_s": per(sum(s["run_ms"] for s in stages)) / 1e3,
        "spark.cpu_s": per(sum(s["cpu_ns"] for s in stages)) / 1e9,
        "spark.task_wait_s": per(sum(s["wait_ms"] for s in stages)) / 1e3,
        "spark.gc_s": per(sum(s["gc_ms"] for s in stages)) / 1e3,
        "spark.scan_mb": per(sum(s["in_bytes"] for s in stages)) / 1e6,
        "spark.shuffle_write_mb": per(sum(s["sh_write"] for s in stages)) / 1e6,
        "spark.shuffle_read_mb": per(sum(s["sh_read"] for s in stages)) / 1e6,
        "spark.spill_mb": per(sum(s["spill"] for s in stages)) / 1e6,
        "spark.skew": max(skews, default=1.0),
        "spark.failed_tasks": per(sum(s["failed"] for s in stages)),
        "spark.job_wall_s": per(sum(j["end"] - j["start"] for j in jobs)) / 1e3,
        "spark.lost_acc_updates": per(sum(1 for a in raw["acc_errors"] if inside(a))),
        "driver.outside_jobs_s": per(outside) / 1e3,
        "trace.gap_ms": per(ms(top) - ms(direct)),
        "trace.overhead_pct": 100.0 * (med_ms(traced) / med_ms(untraced) - 1.0),
    }
    return metrics, t.self_times()


PER_LAYER_UNITS = {
    "engine.split_ms": "ms", "engine.statement_ms": "ms", "engine.rewrite_ms": "ms",
    "engine.eager_jobs": "count", "engine.format_ms": "ms", "engine.render_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "tables.register_s": "s", "tables.inference_jobs": "count",
    "queries.eager_s": "s", "queries.eager_jobs": "count", "queries.exec_s": "s",
    "queries.exec_jobs": "count", "ops.artifacts_built": "count",
    "ops.cold_artifacts_built": "count", "ops.artifact_bytes_written": "bytes",
    "ops.artifact_build_ratio": "ratio", "ops.cold_build_s": "s",
    "streaming.batches": "count", "streaming.batch_ms": "ms", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.task_s": "s", "spark.cpu_s": "s",
    "spark.task_wait_s": "s", "spark.gc_s": "s", "spark.scan_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.skew": "ratio", "spark.failed_tasks": "count", "spark.job_wall_s": "s",
    "spark.lost_acc_updates": "count", "driver.outside_jobs_s": "s", "trace.gap_ms": "ms",
    "trace.overhead_pct": "%",
}
