"""Spans, Spark stage attribution and process-tree memory for the benchmark.

Spans are kept in memory and written out once, when the run ends. In an
untraced run a span only reads the clock twice; in a traced run it also
labels its Spark jobs (``setJobDescription``) and the caller forces the
span's output at its boundary, so the span's time is the layer's time.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

def clock() -> tuple[float, int, int]:
    """A time stamp: wall clock, and busy and steal ticks summed over all
    CPUs since boot (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    # user nice system idle iowait irq softirq steal
    return time.perf_counter(), f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def stolen(a: tuple, b: tuple) -> float:
    """Seconds of the interval from stamp ``a`` to ``b`` that the run lost to
    host CPU steal: time the hypervisor gave this machine's runnable CPUs to
    someone else. Steal accrues only on CPUs that have work, so the share
    lost is steal / (busy + steal) however many CPUs were busy. On a shared
    host steal comes in bursts of minutes that would otherwise decide the
    run-to-run spread; on bare metal it is 0."""
    busy, steal = b[1] - a[1], b[2] - a[2]
    return (b[0] - a[0]) * steal / (busy + steal) if steal > 0 else 0.0


def elapsed(a: tuple, b: tuple) -> float:
    """Wall time from stamp ``a`` to ``b`` minus the host CPU steal in it."""
    return b[0] - a[0] - stolen(a, b)


# spans whose Spark stages are summarized (tasks, busy share, skew, shuffle, spill)
STAGE_SPANS = (
    "sources.warc.scan",
    "operators.crawl.wat_outlinks",
    "operators.graph.pagerank",
    "operators.dedup.minhash_lsh_pairs",
    "operators.dedup.cluster_dedup",
    "operators.similarity.embedding_dedup",
    "streaming.available_now",
    "operators.relational.star_join",
    "operators.windows.running_agg",
    "sources.write_parquet",
)
STAGE_KEYS = ("tasks", "busy_share", "skew", "shuffle_mb", "spill_mb")
# spans that write and commit output: their top-level time is a pass's write_s
SINK_SPANS = frozenset(
    {"sources.write_parquet", "engine.materialize", "streaming.available_now"}
)


def duration(span: dict) -> float:
    """A span's wall time minus the host CPU steal inside it."""
    return span["end"] - span["start"] - span["stolen_s"]


class Tracer:
    """In-memory span recorder for one benchmark process."""

    def __init__(self, spark_context):
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id = -1
        self.pass_traced = False
        self.counters: dict[tuple[int, str], float] = defaultdict(float)

    def start_pass(self, pass_id: int, traced: bool) -> None:
        self.pass_id = pass_id
        self.pass_traced = traced

    @contextmanager
    def span(self, name: str):
        """Time one call into a layer; nested spans record their parent."""
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "pass": self.pass_id, "parent": parent,
               "traced": self.pass_traced}
        self.spans.append(rec)
        self._stack.append(idx)
        if self.pass_traced:
            self.sc.setJobDescription(f"{name}#{self.pass_id}#{idx}")
        rec["start"] = time.time()
        c0 = clock()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["stolen_s"] = stolen(c0, clock())
            self._stack.pop()
            if self.pass_traced:
                up = self.spans[self._stack[-1]] if self._stack else None
                self.sc.setJobDescription(
                    f"{up['name']}#{self.pass_id}#{self._stack[-1]}" if up else None
                )

    def force(self, df):
        """Traced passes materialize a lazy result at the span boundary."""
        if self.pass_traced:
            df = df.persist()
            df.count()
        return df

    def count(self, name: str, value: float) -> None:
        self.counters[(self.pass_id, name)] += value

    # ------------------------------------------------------------ summaries

    def pass_spans(self, pass_id: int) -> list[tuple[int, dict]]:
        return [(i, s) for i, s in enumerate(self.spans) if s["pass"] == pass_id]

    def sink_seconds(self, pass_id: int) -> float:
        """Time of top-level sink spans (nested sinks are not re-counted)."""
        total = 0.0
        for _, s in self.pass_spans(pass_id):
            if s["name"] not in SINK_SPANS:
                continue
            p = s["parent"]
            while p is not None and self.spans[p]["name"] not in SINK_SPANS:
                p = self.spans[p]["parent"]
            if p is None:
                total += duration(s)
        return total

    def self_times(self) -> None:
        """Fill ``self_s``: duration minus the union of child intervals."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        for i, s in enumerate(self.spans):
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids.get(i, [])):
                a = max(a, cur_end)
                if b > a:
                    covered += b - a
                    cur_end = b
            s["self_s"] = (s["end"] - s["start"]) - covered

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, indent=1)


# --------------------------------------------------------------- event log


def read_event_log(path: str) -> dict:
    """Jobs (description, submission time), their stages and per-task run
    time, shuffle write and spill, parsed the way ``tools/stage_report.py``
    reads a Spark event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "desc": (ev.get("Properties") or {}).get("spark.job.description") or "",
                    "submit": ev.get("Submission Time", 0) / 1000.0,
                }
                for st in ev.get("Stage Infos", []):
                    stage_job[st["Stage ID"]] = jid
            elif e == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                tasks[ev["Stage ID"]].append({
                    "run_ms": tm.get("Executor Run Time", 0),
                    "shuffle_b": sw.get("Shuffle Bytes Written", 0),
                    "spill_b": tm.get("Disk Bytes Spilled", 0) + tm.get("Memory Bytes Spilled", 0),
                })
    return {"jobs": jobs, "stage_job": stage_job, "tasks": tasks}


def attribute_stages(tracer: Tracer, log: dict) -> dict[int, list[list[dict]]]:
    """Span index -> task lists of its stages. A job belongs to the span
    named in its description; jobs started on other threads (streaming
    micro-batches) carry no span label and go to the innermost traced span
    whose interval holds their submission time."""
    by_span: dict[int, list[list[dict]]] = defaultdict(list)
    traced = [(i, s) for i, s in enumerate(tracer.spans) if s["traced"]]
    job_span: dict[int, int] = {}
    for jid, j in log["jobs"].items():
        parts = j["desc"].split("#")
        if len(parts) == 3 and parts[2].isdigit():
            job_span[jid] = int(parts[2])
            continue
        inner = None
        for i, s in traced:
            if s["start"] <= j["submit"] <= s["end"]:
                if inner is None or s["start"] >= tracer.spans[inner]["start"]:
                    inner = i
        if inner is not None:
            job_span[jid] = inner
    for sid, jid in log["stage_job"].items():
        if jid in job_span and log["tasks"].get(sid):
            by_span[job_span[jid]].append(log["tasks"][sid])
    return by_span


def stage_metrics(stages: list[list[dict]], wall_s: float, cores: int) -> dict:
    """tasks, busy_share, skew, shuffle_mb, spill_mb for one span occurrence."""
    all_tasks = [t for st in stages for t in st]
    run_s = sum(t["run_ms"] for t in all_tasks) / 1000.0
    skew = 1.0
    if stages:  # skew of the stage with the most task time
        heavy = max(stages, key=lambda st: sum(t["run_ms"] for t in st))
        runs = [t["run_ms"] for t in heavy]
        med = statistics.median(runs)
        skew = max(runs) / med if med > 0 else 1.0
    return {
        "tasks": len(all_tasks),
        "busy_share": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "skew": skew,
        "shuffle_mb": sum(t["shuffle_b"] for t in all_tasks) / 1e6,
        "spill_mb": sum(t["spill_b"] for t in all_tasks) / 1e6,
    }


# ---------------------------------------------------------------- memory


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesized command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(d))
    return kids


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process; 0 if it has exited."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def descendant_hwm_mb(root_pid: int) -> float:
    """Sum of peak resident set (VmHWM) over every descendant process —
    from the benchmark process: the JVM and its Python workers, not the
    benchmark process itself."""
    kids = _children_map()
    todo, total = list(kids.get(root_pid, [])), 0.0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        total += hwm_mb(pid)
    return total
