"""Measurement plumbing: spans, process-tree memory, plan text and the
Spark event log.

Everything here observes the program from outside: spans wrap the
benchmark's own calls into the package, memory is read from /proc, plan
counts come from the executed plan's text, and execution counters come
from the event log Spark writes when `spark.eventLog.enabled` is set.
"""

from __future__ import annotations

import json
import os
import re
import shlex
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent, op);
    spans of one operation share its op id. Disabled tracers record
    nothing, so the untraced run pays only a no-op context manager."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "op": self.op, "start": time.perf_counter(),
               "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span index -> its duration minus the time its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {i: (s["end"] - s["start"]) - child[i]
                for i, s in enumerate(self.spans)}

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        selfs = self.self_times()
        spans = [dict(s, start=s["start"] - t0, end=s["end"] - t0,
                      self_s=selfs[i]) for i, s in enumerate(self.spans)]
        with open(path, "w") as fh:
            json.dump(dict(extra, spans=spans), fh, indent=1)


# ---------------------------------------------------------------------------
# memory of the whole process tree (driver Python, JVM, Python workers)
# ---------------------------------------------------------------------------


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(parent pid -> child pids, pid -> resident pages) from /proc."""
    children, rss_pages = defaultdict(list), {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid ... rss is #24
        fields = stat[stat.rindex(")") + 2:].split()
        children[int(fields[1])].append(int(d))
        rss_pages[int(d)] = int(fields[21])
    return children, rss_pages


def _walk(children: dict[int, list[int]], root_pid: int) -> list[int]:
    out, todo = [], [root_pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def descendants(root_pid: int) -> list[int]:
    return _walk(_proc_table()[0], root_pid)


def _tree_rss_bytes(root_pid: int) -> int:
    children, rss_pages = _proc_table()
    pages = sum(rss_pages.get(p, 0) for p in [root_pid, *_walk(children, root_pid)])
    return pages * os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """Samples the resident memory of this process and all its
    descendants every `interval` seconds while active; `peak_mb` is the
    largest sum seen."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# plan text
# ---------------------------------------------------------------------------

_PY_NODE = re.compile(r"\b\w*(?:Python|InPandas|InArrow)\w*\b")
_EXCHANGE = re.compile(r"\b(?:Shuffle|Broadcast)?Exchange\b")


def plan_stats(df) -> dict:
    """Plan the DataFrame (analysis, optimisation, physical planning)
    without running it; count Exchange and Python-evaluating nodes in the
    executed plan's text."""
    t0 = time.perf_counter()
    text = df._jdf.queryExecution().executedPlan().toString()
    dt = time.perf_counter() - t0
    return {
        "plan_s": dt,
        "plan_chars": len(text),
        "plan_exchanges": len(_EXCHANGE.findall(text)),
        "plan_python_nodes": len(_PY_NODE.findall(text)),
    }


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

PYTHON_ACCUMULABLES = {
    # Spark 4.1 PythonSQLMetrics / Python runner metrics, by display name
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_sent_b",
    "data returned from Python workers": "python_recv_b",
}

EXEC_FIELDS = ("jobs", "job_ms", "stages", "tasks", "task_ms", "gc_ms", "input_b",
               "shuffle_write_b", "shuffle_read_b", "fetch_wait_ms", "spill_b",
               "output_b", "first_stage_tasks", *PYTHON_ACCUMULABLES.values())


def submit_args(tmp_dir: str, event_dir: str | None) -> str:
    """PYSPARK_SUBMIT_ARGS for the benchmark's driver JVM: no console
    progress bars, scratch and temporary files inside `tmp_dir`, and, for
    the traced run, an uncompressed single-file event log in `event_dir`."""
    confs = [
        "spark.ui.showConsoleProgress=false",
        f"spark.local.dir={tmp_dir}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
    ]
    if event_dir:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{event_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    return " ".join(f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"


def parse_event_log(path: str) -> dict[str, dict]:
    """Job group id -> summed execution counters of the jobs started
    under it (stages that ran, their tasks' metrics, the Python-runner
    accumulables). `first_stage_tasks` is the task count of the group's
    lowest-numbered stage that ran: the scan stage of a one-query group."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(EXEC_FIELDS, 0))
    starts: dict[int, int] = {}
    first_stage: dict[str, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job_group[ev["Job ID"]] = g
                starts[ev["Job ID"]] = ev.get("Submission Time", 0)
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
                out[g]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                g = job_group.get(ev["Job ID"], "")
                out[g]["job_ms"] += ev.get("Completion Time", 0) - starts.get(ev["Job ID"], 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                g = stage_group.get(info["Stage ID"], "")
                out[g]["stages"] += 1
                first = first_stage.get(g)
                if first is None or info["Stage ID"] < first:
                    first_stage[g] = info["Stage ID"]
                    out[g]["first_stage_tasks"] = info.get("Number of Tasks", 0)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"], "")
                rec = out[g]
                m = ev.get("Task Metrics") or {}
                rec["tasks"] += 1
                rec["task_ms"] += m.get("Executor Run Time", 0)
                rec["gc_ms"] += m.get("JVM GC Time", 0)
                rec["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                rec["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                rec["shuffle_read_b"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
                rec["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
                rec["spill_b"] += m.get("Disk Bytes Spilled", 0)
                rec["output_b"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    key = PYTHON_ACCUMULABLES.get(acc.get("Name"))
                    if key:
                        rec[key] += int(acc.get("Update") or 0)
    return dict(out)


def find_event_log(event_dir: str, app_id: str) -> str:
    for name in os.listdir(event_dir):
        if name.startswith(app_id) and not name.endswith(".inprogress"):
            return os.path.join(event_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {event_dir}")
