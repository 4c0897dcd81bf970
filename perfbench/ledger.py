"""Outside-in measurement of a Spark application.

Nothing here reaches into the profiled program: job, stage and task
counts come from Spark's status REST API, CPU time and resident memory
from ``/proc``. A call is charged with every job whose ID was submitted
inside its window, so jobs that the program launches from its own
worker threads (which drop the caller's job group) are still counted.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone
from typing import Dict, Iterable, List, Optional, Tuple

_CLK_TCK = os.sysconf("SC_CLK_TCK")

# RDD-scope names of the physical operators that run Python workers.
_PYTHON_SCOPES = re.compile(
    r'label="(MapInArrow|MapInPandas|FlatMapGroupsIn(Pandas|Arrow)|'
    r'FlatMapCoGroupsIn(Pandas|Arrow)|ArrowEvalPython|BatchEvalPython|'
    r'AggregateInPandas|WindowInPandas|PythonRDD[^"]*)"')


# ------------------------------------------------------------------ /proc
def _process_table() -> Dict[int, Tuple[int, List[str]]]:
    """pid -> (ppid, stat fields after the command name)."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        table[int(entry)] = (int(fields[1]), fields)
    return table


def process_tree(root: Optional[int] = None) -> Dict[int, List[str]]:
    """Stat fields of ``root`` (default: this process) and all its
    descendants: the driver, the JVM and the Python workers."""
    root = os.getpid() if root is None else root
    table = _process_table()
    children: Dict[int, List[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out[pid] = table[pid][1]
            todo.extend(children.get(pid, []))
    return out


def cpu_seconds() -> float:
    """User+system CPU of the process tree, reaped children included."""
    total = 0
    for fields in process_tree().values():
        total += sum(int(fields[i]) for i in (11, 12, 13, 14))
    return total / _CLK_TCK


def peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak resident set."""
    kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def steal_ticks() -> Tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot: time the
    hypervisor gave this machine's CPUs to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def tree_size(path: str) -> Tuple[int, int]:
    """(files, bytes) under ``path``, Spark's hidden/CRC files excluded."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


# ------------------------------------------------------------ REST ledger
def _epoch(ts: Optional[str]) -> Optional[float]:
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f") \
        .replace(tzinfo=timezone.utc).timestamp()


def _covered(intervals: Iterable[Tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Ledger:
    """Per-call job ledger read from Spark's status REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._base = (f"{sc.uiWebUrl}/api/v1/applications/"
                      f"{sc.applicationId}")
        # SQL execution id -> (job ids, parquet partitions read); the
        # list only grows, so it is fetched incrementally
        self._sql: Dict[int, Tuple[set, int]] = {}

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=60) as r:
            return json.load(r)

    def drain(self) -> None:
        """Wait until the status store has seen every posted event."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        self.drain()
        return max((j["jobId"] for j in self._get("/jobs")), default=-1)

    def cached_rdds(self) -> int:
        self.drain()
        return len(self._get("/storage/rdd"))

    def _python_stage(self, stage_id: int) -> bool:
        sc = self._sc
        graph = sc._jsc.sc().statusStore().operationGraphForStage(stage_id)
        dot = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph \
            .makeDotFile(graph)
        # a stage that scans a cached relation reads the Python output
        # from the cache; its lineage still names the Python operator
        return bool(_PYTHON_SCOPES.search(dot)) and \
            'label="InMemoryTableScan"' not in dot

    def _refresh_sql(self) -> None:
        for e in self._get(f"/sql?details=true&planDescription=false"
                           f"&offset={len(self._sql)}&length=100000"):
            parts = sum(
                int(m["value"].replace(",", ""))
                for node in e["nodes"]
                if node["nodeName"].startswith("Scan parquet")
                for m in node["metrics"]
                if m["name"] == "number of partitions read")
            self._sql[e["id"]] = (set(e.get("successJobIds", [])), parts)

    def since(self, first_job: int, t0: float, t1: float) -> dict:
        """Counters for the jobs with ID > ``first_job``, charged to the
        call that ran from epoch ``t0`` to ``t1``."""
        self.drain()
        jobs = [j for j in self._get("/jobs") if j["jobId"] > first_job]
        ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        ran = [a for sid in sorted(stage_ids)
               for a in self._get(f"/stages/{sid}?details=false")
               if a["status"] == "COMPLETE"]
        spans = [(_epoch(j["submissionTime"]),
                  _epoch(j.get("completionTime")) or t1) for j in jobs]
        self._refresh_sql()
        partitions = sum(n for job_ids, n in self._sql.values()
                         if not ids.isdisjoint(job_ids))
        return {
            "jobs": len(jobs),
            "stages": len(ran),
            "tasks": sum(s["numCompleteTasks"] for s in ran),
            "python_tasks": sum(s["numCompleteTasks"] for s in ran
                                if self._python_stage(s["stageId"])),
            "executor_run_s": sum(s["executorRunTime"] for s in ran) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
            "spill_bytes": sum(s["memoryBytesSpilled"]
                               + s["diskBytesSpilled"] for s in ran),
            "partitions_read": partitions,
            "driver_s": (t1 - t0) - _covered(spans, t0, t1),
            "job_spans": [
                {"name": f"job {j['jobId']}", "job_id": j["jobId"],
                 "start": a, "end": b, "status": j["status"],
                 "tasks": j["numCompletedTasks"]}
                for j, (a, b) in zip(jobs, spans)],
        }


class Tracer:
    """Spans around calls into the program's layers.

    Without a ledger a span only times its call. With one, each span
    also charges the Spark jobs submitted inside it, and the jobs hang
    under the span as child spans. Spans stay in memory until
    :meth:`dump`.
    """

    def __init__(self, ledger: Optional[Ledger] = None) -> None:
        self.ledger = ledger
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._charged: set = set()  # jobs already hung under a span

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None,
               "name": name, **attrs}
        if self.ledger is not None:
            self.spans.append(rec)
            first = self.ledger.last_job_id()
        self._stack.append(rec["id"])
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if self.ledger is not None:
                led = self.ledger.since(first, rec["start"], rec["end"])
                for job in led.pop("job_spans"):
                    if job["job_id"] in self._charged:
                        continue  # already under an inner span
                    self._charged.add(job["job_id"])
                    self.spans.append({"id": len(self.spans),
                                       "parent": rec["id"], **job})
                rec["ledger"] = led

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
