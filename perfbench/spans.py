"""Metrics derived from the harness's span log (`spans.jsonl`).

Span kinds: setup, run, pass, op, construct, execute, cleanup (op phases),
job (parented by the op phase through the job group), stage (parented by
its job), plan (Catalyst planning, placed by time), tables (table
acquisition, placed by time), operator (the pipeline operator probes),
rss. Times are epoch milliseconds.
"""
import json
import statistics

# Stage-level trap detectors (measured from outside the engine):
RACE_RUN_PER_CPU = 3.0   # run/CPU above this on a stage ...
RACE_MIN_RUN_MS = 200    # ... that runs longer than this: block-lock race
STARVED_MAX_TASKS = 2    # this few tasks ...
STARVED_MIN_CPU_MS = 1000  # ... carrying this much CPU: byte-coalesced kernel

OPERATORS = ("Calendar", "PctChange", "Recency", "AsOf", "Sentiment", "Validator")


def load(path):
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def _dur(r):
    return r["end"] - r["start"]


def _passes(recs, kind, traced=None):
    return [r for r in recs if r["span"] == "pass" and r["kind"] == kind
            and (traced is None or r["traced"] == traced)]


def _median(values):
    return statistics.median(values) if values else 0.0


def op_errors(recs):
    return [(r["id"], r["error"]) for r in recs if r["span"] == "op" and r["error"]]


def ops_attempted(recs):
    return sum(1 for r in recs if r["span"] == "op")


def warm_passes(recs):
    return len(_passes(recs, "warm", traced=False))


def end_to_end(recs):
    warm = _passes(recs, "warm", traced=False)
    rss = next(r for r in recs if r["span"] == "rss")
    return {
        "setup_s": {"value": _dur(next(r for r in recs if r["span"] == "setup")) / 1000,
                    "unit": "s"},
        "cold_s": {"value": _dur(_passes(recs, "cold")[0]) / 1000, "unit": "s"},
        "warm_s": {"value": _median([_dur(p) for p in warm]) / 1000, "unit": "s"},
        "cpu_s": {"value": _median([p["cpu_ms"] for p in warm]) / 1000, "unit": "s"},
        "rss_peak_mb": {"value": rss["vm_hwm_kb"] / 1024, "unit": "MB"},
    }


def pass_layers(recs, p, csv_ops):
    """Every per-layer figure of one pass, summed over its ops."""
    pid = p["id"] + "/"
    ops = [r for r in recs if r["span"] == "op" and r["parent"] == p["id"]]
    phases = [r for r in recs if r["span"] in ("construct", "execute", "cleanup")
              and r["parent"].startswith(pid)]
    jobs = [r for r in recs if r["span"] == "job" and r["parent"].startswith(pid)]
    job_ids = {j["id"] for j in jobs}
    stages = [r for r in recs if r["span"] == "stage" and r["parent"] in job_ids]
    within = [r for r in recs if r["span"] in ("plan", "tables")
              and p["start"] <= r["start"] <= p["end"]]
    run_ms = sum(s["run_ms"] for s in stages)
    cpu_ms = sum(s["cpu_ms"] for s in stages)
    out = {
        "SparkEntry.construct_ms": sum(_dur(r) for r in phases if r["span"] == "construct"),
        "SparkEntry.construct_jobs": sum(1 for j in jobs if j["parent"].endswith("/construct")),
        "GraftExtensions.plan_ms": sum(r["plan_ms"] for r in within if r["span"] == "plan"),
        "Tables.scan_ms": sum(_dur(r) for r in within if r["span"] == "tables"),
        "Tables.scan_bytes": sum(s["input_bytes"] for s in stages),
        "Sinks.csv_ms": sum(_dur(r) for r in phases if r["span"] == "execute"
                            and r["parent"].split("/")[1] in csv_ops),
        "Fan.persisted_rdds": sum(r["persisted_rdds"] for r in ops),
        "Fan.cleanup_ms": sum(_dur(r) for r in phases if r["span"] == "cleanup"),
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.run_ms": run_ms,
        "spark.cpu_ms": cpu_ms,
        "spark.cpu_share": cpu_ms / run_ms if run_ms else 0.0,
        "spark.max_task_share": sum(s["max_task_ms"] for s in stages) / run_ms if run_ms else 0.0,
        "spark.race_stages": sum(1 for s in stages if s["run_ms"] > RACE_MIN_RUN_MS
                                 and s["run_ms"] > RACE_RUN_PER_CPU * s["cpu_ms"]),
        "spark.starved_stages": sum(1 for s in stages if s["tasks"] <= STARVED_MAX_TASKS
                                    and s["cpu_ms"] > STARVED_MIN_CPU_MS),
        "spark.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "spark.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "spark.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "jvm.gc_ms": p["gc_ms"],
        "jvm.jit_ms": p["jit_ms"],
        "vm.steal_ms": p["steal_ms"],
    }
    for r in ops:
        out[f"op.{r['op']}.ms"] = _dur(r)
    return out


def _unit(name):
    for suffix, unit in (("ms", "ms"), ("_bytes", "bytes"), ("_share", "ratio"), ("_s", "s")):
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer(recs, all_ops, csv_ops):
    """Median over the traced warm passes of each per-pass figure, plus the
    cold pass's construct/plan/JIT time, run-wide artifact builds, the
    operator probes and the tracing overhead. Ops and operators a workload
    does not run report 0."""
    traced = [pass_layers(recs, p, csv_ops) for p in _passes(recs, "warm", traced=True)]
    names = list(traced[0]) if traced else []
    names += [f"op.{n}.ms" for n in all_ops if f"op.{n}.ms" not in names]
    metrics = {n: _median([t.get(n, 0) for t in traced]) for n in names}
    cold = pass_layers(recs, _passes(recs, "cold")[0], csv_ops)
    for n in ("SparkEntry.construct_ms", "GraftExtensions.plan_ms", "jvm.jit_ms"):
        metrics["cold." + n] = cold[n]
    metrics["SparkEntry.artifact_builds"] = sum(
        r["artifact_builds"] for r in recs if r["span"] == "op")
    for name in OPERATORS:
        reps = [_dur(r) for r in recs if r["span"] == "operator"
                and r["id"].split("/")[1] == name]
        metrics[f"{name}.ms"] = _median(reps)
    on = _median([_dur(p) for p in _passes(recs, "warm", traced=True)])
    off = _median([_dur(p) for p in _passes(recs, "warm", traced=False)])
    metrics["trace.overhead_s"] = (on - off) / 1000
    return {n: {"value": v, "unit": _unit(n)} for n, v in metrics.items()}
