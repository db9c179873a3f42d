"""Measurement from outside the engine: job labels, delegating wrappers,
a /proc RSS sampler and a parser for Spark's own event log.

Nothing here reaches into the engine's internals. Layers are measured by

  * timing calls into their public functions (``layer`` also labels the
    Spark jobs a call launches with ``setJobGroup("layer:<module>.<fn>")``);
  * delegating wrappers passed through public parameters
    (``TimedTableIO`` for ``table_io=``);
  * Spark's event log (uncompressed, non-rolling — enabled through
    ``build_session(extra_conf=...)`` in traced runs only), whose stages
    are assigned to layers by the operator names in their RDD scopes.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

__all__ = [
    "layer",
    "TimedTableIO",
    "ProcSampler",
    "tree_pids",
    "EventLog",
    "event_log_conf",
]


def event_log_conf(log_dir: str) -> dict:
    """Session conf for a parseable event log: plain JSON lines, one
    file, block updates included (for persisted-bytes accounting)."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.logBlockUpdates.enabled": "true",
    }


@contextmanager
def layer(sc, name: str, spans: list | None = None):
    """Label the Spark jobs started inside the block ``layer:<name>`` and
    (optionally) append ``(name, start, end)`` wall-clock to ``spans``.
    The previous job group is restored on exit, so labels nest."""
    keys = ("spark.jobGroup.id", "spark.job.description")
    prev = [sc.getLocalProperty(k) for k in keys]
    sc.setJobGroup(f"layer:{name}", name)
    t0 = time.time()
    try:
        yield
    finally:
        if spans is not None:
            spans.append((name, t0, time.time()))
        for k, v in zip(keys, prev):
            sc.setLocalProperty(k, v)


class TimedTableIO:
    """Delegating ``table_io=``: times ``committed_groups`` and
    ``commit_group`` and labels their jobs; everything else passes
    through to the wrapped TableIO."""

    def __init__(self, inner, sc, spans: list) -> None:
        self._inner = inner
        self._sc = sc
        self.spans = spans
        # size of the committed set at each committed_groups() call: the
        # groups a run_checkpointed call skips
        self.skipped: list[int] = []

    def committed_groups(self):
        with layer(self._sc, "sources.tableio.committed_groups", self.spans):
            done = self._inner.committed_groups()
        self.skipped.append(len(done))
        return done

    def commit_group(self, df, group, run_id, t0):
        with layer(self._sc, "sources.tableio.commit_group", self.spans):
            return self._inner.commit_group(df, group, run_id, t0)

    def __getattr__(self, name):
        return getattr(self._inner, name)


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class ProcSampler:
    """Samples this process tree from /proc on a thread: the peak summed
    RSS (driver Python, the JVM, Python workers) and the CPU seconds the
    Python worker processes spend (Spark's task metrics count JVM threads
    only, so a Python UDF's CPU is invisible to the event log). The tree
    itself is re-listed every ``rescan_s``."""

    def __init__(self, interval_s: float = 0.02, rescan_s: float = 0.25):
        self.interval_s = interval_s
        self.rescan_s = rescan_s
        self.peak_bytes = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")
        self._pids: list[int] = []
        self._first: dict[int, int] = {}
        self._last: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @property
    def worker_cpu_s(self) -> float:
        return sum(
            self._last[p] - self._first.get(p, 0) for p in self._last
        ) / self._tick

    def sample(self, first: bool = False) -> None:
        me, rss = os.getpid(), 0
        for pid in self._pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss += int(f.read().split()[1]) * self._page
                with open(f"/proc/{pid}/stat") as f:
                    comm, rest = f.read().rsplit(")", 1)
            except OSError:
                continue  # exited since the last re-listing
            if pid == me or "(python" not in comm:
                continue
            fields = rest.split()
            ticks = int(fields[11]) + int(fields[12])  # utime + stime
            if first:
                self._first[pid] = ticks
            self._last[pid] = ticks
        self.peak_bytes = max(self.peak_bytes, rss)

    def _run(self) -> None:
        next_scan = 0.0
        while not self._stop.wait(self.interval_s):
            if time.monotonic() >= next_scan:
                self._pids = tree_pids()
                next_scan = time.monotonic() + self.rescan_s
            self.sample()

    def __enter__(self) -> "ProcSampler":
        self._pids = tree_pids()
        self.sample(first=True)
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._pids = tree_pids()
        self.sample()


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


def skew(times: list[float]) -> float:
    """max task time over median task time (1.0 = perfectly even)."""
    times = [t for t in times if t > 0]
    if not times:
        return 0.0
    return max(times) / statistics.median(times)


class EventLog:
    """Parsed Spark event log: jobs, stages (with RDD-scope operator
    names), tasks (with metrics and per-accumulator SQL-metric updates),
    SQL executions and persisted-block sizes over time."""

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, dict] = {}
        # stage id → operator names of its RDD scopes
        self.scopes: dict[int, set[str]] = {}
        self.tasks: list[dict] = []
        self.sql: dict[int, dict] = {}
        self.acc_node: dict[int, tuple[str, str]] = {}
        self.peak_persisted_bytes = 0
        blocks: dict[str, int] = {}
        persisted = 0
        with open(path) as f:
            for ln in f:
                e = json.loads(ln)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    eid = props.get("spark.sql.execution.id")
                    self.jobs[e["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id") or "",
                        "sql": int(eid) if eid is not None else None,
                        "start": e["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": list(e["Stage IDs"]),
                    }
                elif ev == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    scopes = set()
                    for r in si.get("RDD Info", []):
                        if r.get("Scope"):
                            scopes.add(json.loads(r["Scope"])["name"].strip())
                    self.scopes[si["Stage ID"]] = scopes
                elif ev == "SparkListenerTaskEnd":
                    self.tasks.append(self._task(e))
                elif ev.endswith("SQLExecutionStart"):
                    self.sql[e["executionId"]] = {
                        "start": e["time"] / 1000.0,
                        "end": None,
                        "write": "WriteFiles" in e["physicalPlanDescription"],
                    }
                    self._plan_accs(e["sparkPlanInfo"])
                elif ev.endswith("SQLAdaptiveExecutionUpdate"):
                    self._plan_accs(e["sparkPlanInfo"])
                elif ev.endswith("SQLExecutionEnd"):
                    if e["executionId"] in self.sql:
                        self.sql[e["executionId"]]["end"] = e["time"] / 1000.0
                elif ev == "SparkListenerBlockUpdated":
                    info = e["Block Updated Info"]
                    bid = info["Block ID"]
                    if not bid.startswith("rdd_"):
                        continue
                    size = info["Memory Size"] + info["Disk Size"]
                    persisted += size - blocks.get(bid, 0)
                    blocks[bid] = size
                    self.peak_persisted_bytes = max(
                        self.peak_persisted_bytes, persisted
                    )
        # job → stage ownership (a stage can appear under several AQE
        # jobs; the first job that lists it owns it)
        self.stage_job: dict[int, int] = {}
        for jid in sorted(self.jobs):
            for sid in self.jobs[jid]["stages"]:
                self.stage_job.setdefault(sid, jid)

    def _plan_accs(self, node: dict) -> None:
        for m in node.get("metrics", []):
            self.acc_node[m["accumulatorId"]] = (node["nodeName"], m["name"])
        for c in node.get("children", []):
            self._plan_accs(c)

    @staticmethod
    def _task(e: dict) -> dict:
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics", {})
        sw = m.get("Shuffle Write Metrics", {})
        accs = {}
        for a in info.get("Accumulables", []):
            try:
                accs[a["ID"]] = int(a["Update"])
            except (KeyError, TypeError, ValueError):
                continue
        return {
            "stage": e["Stage ID"],
            "launch": info["Launch Time"] / 1000.0,
            "finish": info["Finish Time"] / 1000.0,
            "run_s": m.get("Executor Run Time", 0) / 1000.0,
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
            "spill": m.get("Memory Bytes Spilled", 0)
            + m.get("Disk Bytes Spilled", 0),
            "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
            "shuffle_read_records": sr.get("Total Records Read", 0),
            "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
            "accs": accs,
        }

    # -- queries -----------------------------------------------------------
    def task_group(self, t: dict) -> str:
        jid = self.stage_job.get(t["stage"])
        return self.jobs[jid]["group"] if jid is not None else ""

    def task_sql(self, t: dict):
        jid = self.stage_job.get(t["stage"])
        return self.jobs[jid]["sql"] if jid is not None else None

    def node_sum(self, t: dict, node: str, metric: str) -> int:
        return sum(
            v
            for aid, v in t["accs"].items()
            if self.acc_node.get(aid) == (node, metric)
        )

    def jobs_in(self, group_prefix: str, t0: float, t1: float) -> list[dict]:
        return [
            j
            for j in self.jobs.values()
            if j["group"].startswith(group_prefix)
            and j["end"] is not None
            and j["start"] >= t0 - 1e-3
            and j["end"] <= t1 + 1e-3
        ]


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def classify_extraction_task(log: EventLog, t: dict) -> str | None:
    """Layer of one task of an extraction write, by its stage's operator
    scopes: the MapInArrow stage is ``operators.ocr`` except its
    text-branch tasks (they read the input file, never the salting
    exchange, and never start Python) which are ``operators.explode``;
    the scan+explode stage feeding the salting exchange is
    ``operators.explode``; the Window stage after the doc_id exchange is
    ``operators.postpass``."""
    scopes = log.scopes.get(t["stage"], set())
    if "MapInArrow" in scopes:
        return "operators.explode" if t["input_bytes"] > 0 else "operators.ocr"
    if "Window" in scopes:
        return "operators.postpass"
    if "Generate" in scopes and any(s.startswith("Scan") for s in scopes):
        return "operators.explode"
    return None
