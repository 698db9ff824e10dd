"""Per-layer metrics of a traced run.

Inputs: the operations of the timed loop, the tracer's spans (one per
phase of each operation, named after the layer it calls into), the plan
statistics of traced operations, and the Spark event-log counters keyed
by job group `<op id>/<phase>`.

Times are per round, averaged over the traced rounds. Times that are
zero on workloads that do not reach their layer (GDS import and export,
packed writes, Python worker start) go to the run's detail record only. Counts (jobs,
stages, tasks, bytes, plan nodes) are those of round 0 alone: its
operations and their parameters depend only on the seed, so the counts
repeat exactly across runs with the same seed.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

MB = 2**20
BUILD = ("build", "gds_spark.open")
EXEC = ("exec", "gds_write.export")


def per_layer(wl, ops, round_s, tracer, plans, counters, start_s, datagen_s, detail):
    span_s = defaultdict(float)       # (op id, span name) -> seconds
    self_s = defaultdict(float)
    for s in tracer.spans:
        span_s[(s["op"], s["name"])] += s["end"] - s["start"]
    for i, t in tracer.self_times().items():
        s = tracer.spans[i]
        self_s[(s["op"], s["name"])] += t
    by_op: dict[str, dict[str, dict]] = defaultdict(dict)
    for group, c in counters.items():
        op, _, phase = group.rpartition("/")
        by_op[op][phase] = c

    traced = [op for op in ops if op.traced]
    n_traced = len({op.round for op in traced})
    first = [op for op in ops if op.round == 0]

    def per_round(name):
        return sum(span_s[(op.id, name)] for op in traced) / n_traced

    def count(field, phases=None, of=first):
        return sum(c.get(field, 0) for op in of
                   for ph, c in by_op.get(op.id, {}).items() if phases is None or ph in phases)

    def plan_sum(field):
        return sum(p[field] for op in first for p in plans.get(op.id, []))

    traced_later = [s for k, (t, s) in enumerate(round_s) if t and k > 0]
    untraced = [s for t, s in round_s if not t]
    m = {
        "session.start_s": (start_s, "s"),
        "bench.datagen_s": (datagen_s, "s"),
        "build.s": (per_round("build"), "s"),
        "build.jobs": (count("jobs", BUILD), "count"),
        "plan.s": (per_round("plan"), "s"),
        "plan.chars": (plan_sum("plan_chars"), "count"),
        "plan.exchanges": (plan_sum("plan_exchanges"), "count"),
        "plan.python_nodes": (plan_sum("plan_python_nodes"), "count"),
        "exec.s": (per_round("exec"), "s"),
        "exec.jobs": (count("jobs", EXEC), "count"),
        "exec.stages": (count("stages", EXEC), "count"),
        "exec.tasks": (count("tasks", EXEC), "count"),
        "exec.task_s": (count("task_ms", EXEC) / 1e3, "s"),
        # JVM GC of every task in the run: round 0 alone often has none
        "exec.gc_s": (sum(c["gc_ms"] for c in counters.values()) / 1e3, "s"),
        "exec.input_mb": (count("input_b", EXEC) / MB, "MB"),
        "exec.shuffle_write_mb": (count("shuffle_write_b", EXEC) / MB, "MB"),
        "exec.shuffle_read_mb": (count("shuffle_read_b", EXEC) / MB, "MB"),
        "exec.spill_mb": (count("spill_b", EXEC) / MB, "MB"),
        "exec.output_mb": (count("output_b", EXEC) / MB, "MB"),
        "python.init_s": (count("python_init_ms") / 1e3, "s"),
        "python.run_s": (count("python_run_ms") / 1e3, "s"),
        "python.sent_mb": (count("python_sent_b") / MB, "MB"),
        "python.recv_mb": (count("python_recv_b") / MB, "MB"),
        "gds_spark.open_jobs": (count("jobs", ("gds_spark.open",)), "count"),
        "gds_spark.block_ratio": (0.0, "ratio"),
        "gds_write.file_mb": (0.0, "MB"),
        "gds_write.bytes_per_call": (0.0, "B"),
        "gds_write.amplification": (0.0, "ratio"),
        "io.calls_per_s": (detail["calls_per_s"], "1/s"),
        "mem.peak_rss_mb": (detail["peak_rss_mb"], "MB"),
        "bench.trace_overhead": (statistics.mean(traced_later) / statistics.mean(untraced) - 1,
                                 "ratio"),
    }
    layers = {
        "python.boot_s": count("python_boot_ms") / 1e3,
        "exec.fetch_wait_s": count("fetch_wait_ms", EXEC) / 1e3,
        "gds_spark.open_s": per_round("gds_spark.open"),
    }

    if wl.name == "cohort_io":
        # tasks a pruned region read runs, as a share of a full-file read's
        tasks = {t: [count("tasks", EXEC, [op]) for op in first if op.type == t]
                 for t in ("region_af", "full_af")}
        rec = wl.record()
        setup = by_op.get("setup", {})
        to_gds = setup.get("gds_write.to_gds", {})
        extra = to_gds.get("shuffle_write_b", 0) + to_gds.get("spill_b", 0)
        if tasks["region_af"] and tasks["full_af"]:
            m["gds_spark.block_ratio"] = (statistics.mean(tasks["region_af"]) / tasks["full_af"][0],
                                          "ratio")
        m["gds_write.file_mb"] = (rec["gds_bytes"] / MB, "MB")
        m["gds_write.bytes_per_call"] = (rec["bytes_per_call"], "B")
        m["gds_write.amplification"] = ((extra + rec["gds_bytes"]) / rec["gds_bytes"], "ratio")
        exports = [op for op in traced if op.type == "export"]
        layers["gds_write.import_s"] = span_s[("setup", "gds_write.import")]
        layers["packed.pack_s"] = span_s[("setup", "packed.pack")]
        if exports:
            layers["gds_write.export_s"] = statistics.median(
                span_s[(op.id, "gds_write.export")] for op in exports)
            layers["gds_write.driver_s"] = statistics.median(
                span_s[(op.id, "gds_write.export")]
                - by_op[op.id].get("gds_write.export", {}).get("job_ms", 0) / 1e3 for op in exports)

    layers.update({f"op.{t}.p50_s": v for t, v in detail["op_p50_s"].items()})
    detail["layers"] = layers

    per_op = []
    for op in ops:
        per_op.append({
            "id": op.id, "type": op.type, "round": op.round, "traced": op.traced,
            "latency_s": op.latency, "error": op.error,
            "self_s": {name: t for (o, name), t in self_s.items() if o == op.id},
            "plan": plans.get(op.id, []),
            "counters": by_op.get(op.id, {}),
        })
    for op_id in sorted({o for o, _ in span_s} - {op.id for op in ops}, key=str):
        per_op.append({"id": op_id, "self_s": {n: t for (o, n), t in self_s.items() if o == op_id},
                       "counters": by_op.get(op_id, {})})
    return m, per_op
