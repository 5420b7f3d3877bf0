"""Outside-in measurement: spans around calls into the program's
layers, Spark job groups, the JSON event log, the Catalyst planning
tracker, executor storage residue, process RSS and host context.

Nothing here reaches inside the program: every number is read from
the benchmark's own clock, ``/proc``, Spark's listener event log or
the py4j handles of DataFrames the benchmark holds.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

MB = 1024 * 1024


class Tracer:
    """Spans with name, layer, start, end, parent and operation id,
    kept in memory.  With ``jobs=True`` every leaf span also runs
    under its own Spark job group, so the event log attributes jobs
    to it."""

    def __init__(self, sc, jobs: bool):
        self.sc = sc
        self.jobs = jobs
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, layer: str = "", op: int | None = None, **attrs):
        return _Span(self, name, layer, op, attrs)


class _Span:
    def __init__(self, tracer, name, layer, op, attrs):
        self.t, self.rec = tracer, dict(
            id=len(tracer.spans), name=name, layer=layer, op=op,
            parent=tracer._stack[-1] if tracer._stack else None, **attrs,
        )
        tracer.spans.append(self.rec)

    def __enter__(self):
        t = self.t
        t._stack.append(self.rec["id"])
        if t.jobs and self.rec["layer"]:
            t.sc.setJobGroup(f"span-{self.rec['id']}", self.rec["name"], False)
        self.rec["start"] = time.time()
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.time()
        t = self.t
        t._stack.pop()
        if t.jobs and self.rec["layer"]:
            t.sc.setLocalProperty("spark.jobGroup.id", None)
            t.sc.setLocalProperty("spark.job.description", None)
        if exc[0] is not None:
            self.rec["error"] = repr(exc[1])
        return False


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning milliseconds recorded by the
    ``QueryPlanningTracker`` of ``df``'s own query execution — read
    after an action on ``df`` itself, so it is the plan that ran."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0.0
    while it.hasNext():
        kv = it.next()
        if kv._1() in ("analysis", "optimization", "planning"):
            total += kv._2().durationMs()
    return total


def storage_residue(sc) -> tuple[float, int]:
    """(MB, RDD count) of the executor storage the session holds."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    mb = sum((i.memSize() + i.diskSize()) / MB for i in infos)
    return mb, len(infos)


def parse_event_log(log_dir: str, app_id: str) -> dict:
    """Per job group: job count, job intervals and summed task metrics
    from the application's JSON event log (stdlib only)."""
    [path] = glob.glob(os.path.join(log_dir, f"{app_id}*"))
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    job_group: dict[int, str] = {}

    def g(name):
        return groups.setdefault(name, dict(
            jobs=0, intervals=[], task_s=0.0, shuffle_write_mb=0.0, spill_mb=0.0,
        ))

    open_jobs: dict[int, float] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if grp is None:
                    continue
                job_group[ev["Job ID"]] = grp
                g(grp)["jobs"] += 1
                open_jobs[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = grp
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in open_jobs:
                    g(job_group[jid])["intervals"].append(
                        (open_jobs.pop(jid), ev["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerTaskEnd":
                grp = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if grp is None or not m:
                    continue
                rec = g(grp)
                rec["task_s"] += m["Executor Run Time"] / 1000.0
                rec["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
                rec["spill_mb"] += m["Disk Bytes Spilled"] / MB
    return groups


def busy_seconds(intervals, start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


def tree_state(*roots: str) -> dict[str, tuple]:
    """(inode, size, mtime) of every regular file under ``roots``."""
    out = {}
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def written_bytes(before: dict, after: dict) -> int:
    """Bytes of files that are new or rewritten between two states."""
    return sum(v[1] for p, v in after.items() if before.get(p) != v)


def tree_bytes(*roots: str) -> int:
    """Bytes of every regular file under ``roots``."""
    return sum(v[1] for v in tree_state(*roots).values())


class RssSampler:
    """Peak of (driver Python RSS + JVM RSS), polled from ``/proc``."""

    def __init__(self, pids: list[int], period: float = 0.05):
        self.pids, self.period = pids, period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> None:
        total = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * self._page
        self.peak_mb = max(self.peak_mb, total / MB)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
        return False


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of the
    process ``root`` and every live descendant: the driver Python
    process, its JVM and the JVM's Python workers.  CPU time the
    hypervisor gave to other guests is not in it."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(f[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in f[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += kids.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_context(ticks_before: list[int]) -> dict:
    """Share of all CPU ticks since ``ticks_before`` that the
    hypervisor gave to other guests, and the 1-minute load."""
    delta = [b - a for a, b in zip(ticks_before, cpu_ticks())]
    steal = delta[7] if len(delta) > 7 else 0
    return {
        "steal_pct": round(100.0 * steal / max(1, sum(delta)), 2),
        "load_1m": os.getloadavg()[0],
    }
