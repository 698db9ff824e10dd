"""Benchmark of seqarray_spark: one workload, one seed, one run.

    python3 perfbench/run.py --workload registry|cohort_io|cohort_pairs \\
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --record-digests

Run from the root of a source checkout. The run starts a local[4] Spark
session, generates the workload's inputs from the seed, sets the workload
up, then runs a closed loop (one client, one Spark action at a time) of
whole rounds of operations until `--seconds` have passed, and checks the
outputs. The last stdout line is one JSON object: `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. The traced run alternates traced and
untraced rounds, writes Spark's event log, and leaves its spans and
per-operation layer records in `.perfbench_out/`.

`--record-digests` rewrites registry_digests.json, the registry
queries' output digests that later runs compare against.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import numpy as np  # noqa: E402

import layers  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

CPUS = 4


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Ctx:
    """What an operation sees: the session, the tracer, its scratch
    directory. `phase` tags the Spark jobs started inside it with the job
    group `<op id>/<phase>` and records a span; `plan` plans a DataFrame
    without running it, in traced rounds only."""

    def __init__(self, spark, tracer, work: str):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.sc = spark.sparkContext
        self.plans: dict[str, list[dict]] = {}
        self._groups: list[str] = []

    @contextmanager
    def phase(self, name: str):
        group = f"{self.tracer.op or 'bench'}/{name}"
        self._groups.append(group)
        self.sc.setJobGroup(group, name)
        try:
            with self.tracer.span(name):
                yield
        finally:
            self._groups.pop()
            self.sc.setJobGroup(self._groups[-1] if self._groups else "bench/idle", "")

    def plan(self, df) -> None:
        if self.tracer.enabled:
            with self.phase("plan"):
                self.plans.setdefault(self.tracer.op, []).append(tracing.plan_stats(df))


# ---------------------------------------------------------------------------
# session and process lifecycle
# ---------------------------------------------------------------------------


@contextmanager
def work_dir(name: str):
    """A scratch directory inside the checkout, removed afterwards; the
    run works from it so stray session files (spark-warehouse, ...) land
    there too."""
    work = os.path.join(ROOT, ".perfbench_work", name)
    os.makedirs(work)
    os.chdir(work)
    try:
        yield work
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there


def start_session(work: str, trace_on: bool):
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    os.makedirs(tmp)
    os.makedirs(events)
    # Python workers import the package and the generator from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = tracing.submit_args(tmp, events if trace_on else None)
    t0 = time.perf_counter()
    from seqarray_spark.session import get_spark

    spark = get_spark("perfbench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0, events


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(") ", 1)[1][0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and its Python workers, and wait for every
    process this run started to exit."""
    pids = tracing.descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while alive := [p for p in pids if _running(p)]:
            if time.time() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
            time.sleep(0.1)


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def timed_loop(ctx, wl, rng, seconds: float, trace_on: bool):
    """Rounds of operations until `seconds` have passed: the untraced run
    stops at the first operation boundary after one whole round; the
    traced run alternates traced / untraced whole rounds, at least three
    of them (round 0 runs slower than later ones, so the tracing overhead
    compares later rounds only)."""
    ops, round_s = [], []
    rounds = wl.rounds(rng)
    t_start = time.perf_counter()
    k = 0
    while True:
        traced = trace_on and k % 2 == 0
        ctx.tracer.enabled = traced
        t_round = time.perf_counter()
        for i, op in enumerate(next(rounds)):
            op.id, op.round, op.traced = f"r{k}.{i}.{op.type}", k, traced
            ctx.tracer.op = op.id
            t0 = time.perf_counter()
            try:
                op.result = op.run(ctx)
            except Exception as e:  # noqa: BLE001 - counted as a failure
                op.error = f"{type(e).__name__}: {str(e)[:300]}"
                log(f"{op.id} failed: {op.error}")
            op.latency = time.perf_counter() - t0
            ops.append(op)
            if not trace_on and k > 0 and time.perf_counter() - t_start >= seconds:
                break
        round_s.append((traced, time.perf_counter() - t_round))
        k += 1
        if time.perf_counter() - t_start >= seconds and k >= (3 if trace_on else 1):
            break
    ctx.tracer.op = None
    ctx.tracer.enabled = trace_on
    return ops, round_s, time.perf_counter() - t_start


def balanced(ops) -> tuple[float, float, float]:
    """(ops/s, p50, p90) of the workload's mix with every operation type
    weighted equally, so a run that stops inside a round is not biased
    towards the types it happened to reach. Operations per second is the
    number of types over the sum of their median latencies."""
    by_type: dict[str, list[float]] = {}
    for op in ops:
        by_type.setdefault(op.type, []).append(op.latency)
    rate = len(by_type) / sum(statistics.median(v) for v in by_type.values())
    pts = sorted((lat, 1.0 / len(v)) for v in by_type.values() for lat in v)
    total, cum, xs, ps = sum(w for _, w in pts), 0.0, [], []
    for lat, w in pts:
        xs.append(lat)
        ps.append((cum + w / 2) / total)
        cum += w

    def pct(q: float) -> float:
        if q <= ps[0]:
            return xs[0]
        for j in range(1, len(xs)):
            if q <= ps[j]:
                return xs[j - 1] + (xs[j] - xs[j - 1]) * (q - ps[j - 1]) / (ps[j] - ps[j - 1])
        return xs[-1]

    return rate, pct(0.5), pct(0.9)


def run(args) -> dict:
    with work_dir(f"{args.workload}-{args.seed}-{os.getpid()}") as work:
        return run_in(args, work)


def run_in(args, work: str) -> dict:
    spark = None
    try:
        spark, start_s, events = start_session(work, bool(args.trace))
        tracer = tracing.Tracer(bool(args.trace))
        ctx = Ctx(spark, tracer, work)
        wl = workloads.WORKLOADS[args.workload](args.seed)

        t0 = time.perf_counter()
        tracer.op = "datagen"
        with ctx.phase("datagen"):
            wl.datagen(ctx)
        tracer.op = None
        datagen_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        setup_attempted, setup_failures = wl.setup(ctx)
        setup_s = start_s + time.perf_counter() - t0
        for f in setup_failures:
            log(f"setup check failed: {f}")

        rng = np.random.default_rng(args.seed)
        with tracing.RssSampler() as rss:
            ops, round_s, loop_s = timed_loop(ctx, wl, rng, args.seconds, bool(args.trace))
        checked = wl.warm_ops + ops
        for f in wl.check(ctx, checked):
            log(f"output check failed: {f}")
        app_id = spark.sparkContext.applicationId
        stop_session(spark)
        spark = None

        done = [op for op in ops if op.error is None]
        if not done:
            raise RuntimeError("no operation of the timed loop succeeded")
        failed = len(setup_failures) + sum(op.error is not None for op in checked)
        attempted = len(ops) + setup_attempted
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "input": wl.record(), "ops": len(ops), "rounds": len(round_s),
            "loop_s": loop_s, "round_s": [r for _, r in round_s],
            "setup_s": setup_s, "session_start_s": start_s,
            "datagen_s": datagen_s, "peak_rss_mb": rss.peak_mb, "fail_ratio": failed / attempted,
            "calls_per_s": sum(op.calls for op in done) / loop_s,
            "op_p50_s": {t: statistics.median(op.latency for op in done if op.type == t)
                         for t in sorted({op.type for op in done})},
        }
        if args.trace:
            counters = tracing.parse_event_log(tracing.find_event_log(events, app_id))
            metrics, per_op = layers.per_layer(wl, ops, round_s, tracer, ctx.plans, counters,
                                               start_s, datagen_s, detail)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            spans = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json")
            tracer.dump(spans, {"detail": detail, "operations": per_op})
            log(f"spans and per-operation layer records: {spans}")
        else:
            rate, p50, p90 = balanced(done)
            metrics = {
                "setup_s": (setup_s, "s"),
                "ops_per_s": (rate, "1/s"),
                "latency_p50_s": (p50, "s"),
                "latency_p90_s": (p90, "s"),
            }
        return {
            "detail": detail,
            "result": {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            },
        }
    finally:
        if spark is not None:
            stop_session(spark)


def record_digests() -> None:
    """Run the registry warm-up without comparing and store its digests."""
    with work_dir(f"digests-{os.getpid()}") as work:
        spark, _, _ = start_session(work, False)
        try:
            wl = workloads.Registry(0, check_digests=False)
            ctx = Ctx(spark, tracing.Tracer(False), work)
            wl.datagen(ctx)
            _, failures = wl.setup(ctx)
        finally:
            stop_session(spark)
    if failures:
        raise RuntimeError(f"registry queries failed: {failures}")
    with open(workloads.DIGESTS, "w") as fh:
        json.dump(wl.digests, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=["registry", "cohort_io", "cohort_pairs"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--record-digests", action="store_true")
    args = p.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "seqarray_spark"))):
        log(f"no seqarray_spark sources next to {HERE}; run from a source checkout")
        return 2
    if not args.record_digests and args.workload is None:
        p.error("--workload is required")

    # Spark and the package may print to stdout; keep it for the result.
    result_fd = os.dup(1)
    os.dup2(2, 1)
    try:
        if args.record_digests:
            record_digests()
            return 0
        out = run(args)
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        return 1
    finally:
        sys.stdout.flush()
    with os.fdopen(result_fd, "w") as fh:
        fh.write(json.dumps(out["detail"]) + "\n")
        fh.write(json.dumps(out["result"]) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
