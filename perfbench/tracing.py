"""Spans, memory sampling and Spark event-log analysis for the benchmark.

Spans wrap the benchmark's own calls into each layer of the package; nothing
inside the package is instrumented. In a traced run every span also becomes
the Spark job group of the jobs it starts, and the session writes an event
log, so engine counters (tasks, CPU, GC, shuffle, spill, per-operator SQL
metrics) are attributed to spans from outside the program.

Span record schema (one JSON object per line, stable across versions):
``run_id, span_id, parent_id, name, start_s, end_s, counts``. ``start_s`` and
``end_s`` are Unix seconds; ``counts`` maps a count's name to its value.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
from collections import Counter, defaultdict

SPAN_FIELDS = ("run_id", "span_id", "parent_id", "name", "start_s", "end_s",
               "counts")


class Tracer:
    """In-memory span recorder. ``bind(sc)`` makes each span the job group
    of the Spark jobs run inside it (traced runs only)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None

    def bind(self, sc) -> None:
        self._sc = sc

    def group(self, rec: dict) -> str:
        return f"{self.run_id}:{rec['span_id']}:{rec['name']}"

    def _set_group(self, rec: dict | None) -> None:
        if self._sc is None:
            return
        if rec is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(self.group(rec), self.group(rec))

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        rec = {
            "run_id": self.run_id,
            "span_id": len(self.spans),
            "parent_id": self._stack[-1]["span_id"] if self._stack else None,
            "name": name,
            "start_s": time.time(),
            "end_s": None,
            "counts": dict(counts),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end_s"] = rec["start_s"] + (time.perf_counter() - t0)
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def find(self, name: str, within: dict | None = None) -> list[dict]:
        """Spans called ``name``, optionally only descendants of ``within``."""
        out = [s for s in self.spans if s["name"] == name]
        if within is not None:
            out = [s for s in out if self.is_under(s, within)]
        return out

    def is_under(self, span: dict, root: dict) -> bool:
        while span is not None:
            if span["span_id"] == root["span_id"]:
                return True
            pid = span["parent_id"]
            span = self.spans[pid] if pid is not None else None
        return False

    def groups_under(self, root: dict) -> set[str]:
        return {self.group(s) for s in self.spans if self.is_under(s, root)}

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps({k: rec[k] for k in SPAN_FIELDS}) + "\n")


def dur(span: dict) -> float:
    return span["end_s"] - span["start_s"]


class MemorySampler:
    """Peak memory of every process descended from this one (the Spark JVM
    and its Python workers), sampled every ``interval_s``. Each process
    counts its proportional set size, so pages that forked Python workers
    share are counted once rather than once per worker."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @staticmethod
    def _tree_pss() -> int:
        total = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue  # exited since the process walk
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_pss())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, self._tree_pss())


def descendants() -> list[int]:
    """Pids of every live process descended from this one."""
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        children[int(stat[stat.rindex(")") + 2:].split()[1])].append(int(name))
    out: list[int] = []
    todo = list(children[os.getpid()])
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children[pid])
    return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."
_OUT_PATH = re.compile(r"Arguments: \S*/r=\d+/(\w+)")
_UNIT = {"timing": 1e-3, "nsTiming": 1e-9}  # to seconds; others as-is


class EventLog:
    """One uncompressed, non-rolling Spark event log, indexed by job group.

    SQL executions are attributed to the group named in their description
    (the tracer sets description = group), jobs and tasks to the group in
    the job's properties."""

    def __init__(self, path: str):
        self.execs: dict[int, dict] = {}
        self.job_group: dict[int, str | None] = {}
        self.stage_jobs: dict[int, int] = {}
        self.stage_tasks: dict[int, Counter] = defaultdict(Counter)
        self.accum: Counter = Counter()
        with open(path) as f:
            for line in f:
                self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == _SQL + "SparkListenerSQLExecutionStart":
            self.execs[e["executionId"]] = {
                "group": e.get("description"),
                "start": e["time"],
                "end": None,
                "plan_desc": e["physicalPlanDescription"],
                "plans": [e["sparkPlanInfo"]],
            }
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            self.execs[e["executionId"]]["plans"].append(e["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerSQLExecutionEnd":
            self.execs[e["executionId"]]["end"] = e["time"]
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                self.accum[acc_id] += value
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.job_group[e["Job ID"]] = props.get("spark.jobGroup.id")
            for sid in e["Stage IDs"]:
                self.stage_jobs[sid] = e["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            c = self.stage_tasks[e["Stage ID"]]
            c["tasks"] += 1
            c["cpu_ns"] += tm.get("Executor CPU Time", 0)
            c["gc_ms"] += tm.get("JVM GC Time", 0)
            c["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            c["shuffle_write_bytes"] += (
                tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            )
            for acc in e["Task Info"].get("Accumulables", []):
                if acc.get("Metadata") == "sql" and "Update" in acc:
                    self.accum[acc["ID"]] += int(acc["Update"])

    # -- queries ---------------------------------------------------------

    def tasks(self, groups: set[str]) -> Counter:
        """Task counters summed over every stage of every job in ``groups``."""
        total: Counter = Counter()
        for sid, c in self.stage_tasks.items():
            if self.job_group.get(self.stage_jobs.get(sid)) in groups:
                total.update(c)
        return total

    def executions(self, groups: set[str]) -> list[dict]:
        return [x for x in self.execs.values() if x["group"] in groups]

    @staticmethod
    def seconds(x: dict) -> float:
        return (x["end"] - x["start"]) / 1000.0

    @staticmethod
    def surface(x: dict) -> str | None:
        """The crawl snapshot surface (``r=k/<surface>``) this execution
        writes, if any."""
        m = _OUT_PATH.search(x["plan_desc"])
        return m.group(1) if m else None

    def nodes(self, x: dict) -> list[tuple[str, dict[str, float]]]:
        """(node name, {metric: value}) over every plan version of ``x``,
        each accumulator once; times in seconds, sizes in bytes."""
        seen: set[int] = set()
        out = []

        def walk(p: dict) -> None:
            vals = {}
            for m in p["metrics"]:
                aid = m["accumulatorId"]
                if aid in seen:
                    continue
                seen.add(aid)
                vals[m["name"]] = self.accum.get(aid, 0) * _UNIT.get(
                    m["metricType"], 1
                )
            if vals:
                out.append((p["nodeName"], vals))
            for ch in p["children"]:
                walk(ch)

        for plan in x["plans"]:
            walk(plan)
        return out

    @staticmethod
    def final_node_names(x: dict) -> list[str]:
        names: list[str] = []

        def walk(p: dict) -> None:
            names.append(p["nodeName"])
            for ch in p["children"]:
                walk(ch)

        walk(x["plans"][-1])
        return names

    def python_metrics(self, execs: list[dict],
                       node_names: tuple[str, ...] | None = None) -> Counter:
        """Python-boundary metrics summed over Python operator nodes."""
        total: Counter = Counter()
        for x in execs:
            for name, vals in self.nodes(x):
                if "time to run Python workers" not in vals:
                    continue
                if node_names is not None and name not in node_names:
                    continue
                total["run_s"] += vals["time to run Python workers"]
                total["boot_s"] += vals.get("time to start Python workers", 0)
                total["sent_bytes"] += vals.get("data sent to Python workers", 0)
                total["recv_bytes"] += vals.get(
                    "data returned from Python workers", 0
                )
        return total


def find_event_log(log_dir: str) -> str:
    """The single application log a traced session wrote to ``log_dir``."""
    logs = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(logs) != 1 or logs[0].endswith(".inprogress"):
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {logs}")
    return os.path.join(log_dir, logs[0])
