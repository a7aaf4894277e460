"""Shared machinery of the benchmark: spans, the Spark event-log rollup,
the process sampler, host-noise probes, index sizes and answer checks.

Nothing here reaches inside ``embedanything_spark``: spans wrap calls
into the package's public API from the outside, and per-stage Spark
numbers come from the event log Spark writes for the traced run.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from pathlib import Path

import numpy as np

# Latency limit of the closed-loop capacity figure (serve).
LATENCY_LIMIT_S = 0.5
# Relative score tolerance of the oracle comparison.
SCORE_RTOL = 1e-6


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pct(values, q: float) -> float:
    """Linear-interpolated percentile; NaN when there are no values."""
    return float(np.percentile(values, q)) if len(values) else float("nan")


def median(values) -> float:
    return pct(values, 50)


# ---------------------------------------------------------------- spans

class Tracer:
    """In-memory spans (name, start, end, parent, op id) around calls
    into the package. When enabled, each span also labels the Spark
    jobs it launches (``setJobDescription``) so the event-log rollup
    can attribute stages and tasks to it. When disabled, ``span`` does
    no bookkeeping at all."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.sc = None           # SparkContext once a session exists
        self.self_s = 0.0        # time spent in span bookkeeping
        self.op_hint = None      # op id for spans opened on other threads
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield {}
            return
        b0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": next(self._ids), "name": name,
               "parent": stack[-1]["id"] if stack else None,
               "op": op or (stack[-1]["op"] if stack else self.op_hint)}
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty("spark.job.description")
            self.sc.setJobDescription(f"perfbench:{rec['id']}:{name}")
        stack.append(rec)
        rec["start"] = time.perf_counter()
        self.self_s += rec["start"] - b0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                self.sc.setJobDescription(prev)
            with self._lock:
                self.spans.append(rec)
            self.self_s += time.perf_counter() - rec["end"]

    def wrap(self, obj, method: str, name: str) -> None:
        """Replace ``obj.method`` (on the instance only) with a spanned
        call; the package's own code then also goes through the span
        when it calls the method on ``self``."""
        orig = getattr(obj, method)

        def spanned(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(obj, method, spanned)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def descendants(self, sid: int) -> set[int]:
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s["id"])
        out, todo = set(), [sid]
        while todo:
            cur = todo.pop()
            out.add(cur)
            todo.extend(kids.get(cur, []))
        return out


# ------------------------------------------------------ Spark event log

def rollup_event_log(log_dir: Path) -> dict[int, dict]:
    """Per span id: jobs, stages, tasks, job wall, task run/CPU/GC
    time, shuffle, spill and output bytes, and per-stage task run
    times, from every event log under ``log_dir``. Jobs are assigned
    to spans through the ``perfbench:<id>:<name>`` job description;
    jobs without one are pooled under ``None``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for f in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with f.open() as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description") or ""
                    sid = None
                    if desc.startswith("perfbench:"):
                        sid = int(desc.split(":")[1])
                    jobs[ev["Job ID"]] = {"span": sid,
                                          "start": ev["Submission Time"],
                                          "end": ev["Submission Time"]}
                    for st in ev["Stage IDs"]:
                        stage_job[st] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    out = m.get("Output Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "output": out.get("Bytes Written", 0)})
    per: dict[int, dict] = {}

    def bucket(sid):
        return per.setdefault(sid, {
            "jobs": 0, "job_ms": 0.0, "stages": set(), "tasks": 0,
            "run_ms": 0.0, "cpu_ns": 0.0, "gc_ms": 0.0,
            "shuffle_write": 0.0, "spill": 0.0, "output": 0.0,
            "stage_runs": {}, "stage_out": {}})

    for j in jobs.values():
        b = bucket(j["span"])
        b["jobs"] += 1
        b["job_ms"] += j["end"] - j["start"]
    for t in tasks:
        job = stage_job.get(t["stage"])
        if job is None:
            continue
        b = bucket(jobs[job]["span"])
        b["stages"].add(t["stage"])
        b["tasks"] += 1
        for k in ("run_ms", "cpu_ns", "gc_ms", "shuffle_write", "spill",
                  "output"):
            b[k] += t[k]
        b["stage_runs"].setdefault(t["stage"], []).append(t["run_ms"])
        b["stage_out"][t["stage"]] = \
            b["stage_out"].get(t["stage"], 0) + t["output"]
    return per


def merge_rollup(per: dict[int, dict], ids) -> dict:
    """Sum the rollup buckets of a set of span ids."""
    tot = {"jobs": 0, "job_ms": 0.0, "stages": 0, "tasks": 0,
           "run_ms": 0.0, "cpu_ns": 0.0, "gc_ms": 0.0,
           "shuffle_write": 0.0, "spill": 0.0, "output": 0.0,
           "write_skew": []}
    for sid in ids:
        b = per.get(sid)
        if b is None:
            continue
        for k in ("jobs", "job_ms", "tasks", "run_ms", "cpu_ns", "gc_ms",
                  "shuffle_write", "spill", "output"):
            tot[k] += b[k]
        tot["stages"] += len(b["stages"])
        for st, runs in b["stage_runs"].items():
            if b["stage_out"].get(st, 0) > 0 and len(runs) > 1:
                tot["write_skew"].append(max(runs) / max(median(runs), 1))
    return tot


# ------------------------------------------------------ process sampler

def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def proc_tree(root_pid: int) -> dict[int, dict]:
    """Live descendants of ``root_pid`` (itself included): comm,
    cmdline, RSS bytes, CPU seconds, parent pid and start time (which
    tells a pid from a later process that reuses it) from /proc."""
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        st = _read(f"/proc/{d}/stat")
        if st is None:
            continue
        rp = st.rfind(")")
        fields = st[rp + 2:].split()
        stats[int(d)] = (st[st.find("(") + 1:rp], int(fields[1]),
                         (int(fields[11]) + int(fields[12])) / _TICK,
                         int(fields[21]) * _PAGE, int(fields[19]))
    kids: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        if pid not in stats:
            continue
        comm, ppid, cpu, rss, start = stats[pid]
        cmd = (_read(f"/proc/{pid}/cmdline") or "").replace("\0", " ")
        out[pid] = {"comm": comm, "cmd": cmd, "cpu_s": cpu, "rss": rss,
                    "ppid": ppid, "start": start}
        todo.extend(kids.get(pid, []))
    return out


def still_running(pid: int, start: int) -> bool:
    """Whether the process ``pid`` that started at ``start`` is alive
    and not a zombie."""
    st = _read(f"/proc/{pid}/stat")
    if st is None:
        return False
    fields = st[st.rfind(")") + 2:].split()
    return fields[0] != "Z" and int(fields[19]) == start


def rss_class(pid: int, info: dict, server_pid: int | None) -> str:
    if info["comm"] == "java":
        return "jvm"
    if "pyspark.daemon" in info["cmd"] or "pyspark.worker" in info["cmd"]:
        return "workers"
    return "server" if pid == server_pid else "python"


class ProcSampler:
    """Samples the benchmark's process tree every ``interval`` s:
    peak summed RSS (total and per class) and CPU seconds per pid, over
    the window between ``mark()`` and ``stop()``."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.server_pid: int | None = None
        self.peak = {"total": 0, "jvm": 0, "python": 0, "workers": 0,
                     "server": 0}
        self.cpu: dict[int, float] = {}
        self.peak_procs: list = []     # largest processes at the peak
        self._cpu0: dict[int, float] = {}
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def mark(self) -> None:
        """Begin the measured window: reset peaks and CPU baselines."""
        tree = proc_tree(os.getpid())
        with self._lock:
            self.peak = dict.fromkeys(self.peak, 0)
            self.peak_procs = []
            self._cpu0 = {p: i["cpu_s"] for p, i in tree.items()}
            self.cpu = {}

    def sample(self) -> None:
        tree = proc_tree(os.getpid())
        sums = dict.fromkeys(self.peak, 0)
        for pid, info in tree.items():
            parent = tree.get(info["ppid"])
            if parent and (parent["cmd"] == info["cmd"]
                           and "pyspark.daemon" not in info["cmd"]
                           or "/bin/java" in parent["cmd"]
                           and "python" not in info["cmd"]):
                # a fork caught before or during its exec shows the
                # parent's pages as its own: the JVM spawns its helpers
                # (jspawnhelper, shell tools) this way, and so does
                # subprocess
                continue
            sums["total"] += info["rss"]
            sums[rss_class(pid, info, self.server_pid)] += info["rss"]
        with self._lock:
            if sums["total"] > self.peak["total"]:
                self.peak_procs = sorted(
                    ((i["rss"] >> 20, i["cmd"][:60] or i["comm"])
                     for i in tree.values()), reverse=True)[:5]
            for k, v in sums.items():
                self.peak[k] = max(self.peak[k], v)
            for pid, info in tree.items():
                self.cpu[pid] = info["cpu_s"] - self._cpu0.get(pid, 0.0)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        if self._stop.is_set():
            return
        self.sample()
        self._stop.set()
        self._thread.join(timeout=5)

    def cpu_s(self, pid: int | None = None) -> float:
        with self._lock:
            if pid is not None:
                return self.cpu.get(pid, 0.0)
            return sum(self.cpu.values())


def cpu_times() -> dict[str, int]:
    """Aggregate /proc/stat CPU jiffies."""
    vals = [int(v) for v in _read("/proc/stat").split("\n")[0].split()[1:]]
    names = ["user", "nice", "system", "idle", "iowait", "irq",
             "softirq", "steal"]
    return dict(zip(names, vals))


def cpu_probe_ms() -> float:
    """Median wall time of hashing 12 MB on each of ``nproc`` threads
    (``hashlib`` releases the GIL): on a shared host it rises when
    neighbours take the cores, which steal % does not always show."""
    import hashlib
    buf = b"\0" * (4 << 20)

    def hash3():
        for _ in range(3):
            hashlib.sha256(buf).digest()

    walls = []
    for _ in range(3):
        threads = [threading.Thread(target=hash3) for _ in range(nproc())]
        t = time.perf_counter()
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        walls.append(time.perf_counter() - t)
    return median(walls) * 1e3


def steal_pct(before: dict, after: dict) -> float:
    total = sum(after.values()) - sum(before.values())
    return 100.0 * (after["steal"] - before["steal"]) / max(total, 1)


# --------------------------------------------------------- index bytes

def index_bytes(root: Path) -> dict:
    """Bytes of lineage-live index files: committed batch dirs
    (posting blocks and docmap), the dictionary and ``_meta``. Hadoop
    checksum side files and ``_SUCCESS`` markers are not index data."""
    from embedanything_spark.index.build import committed_lineage
    out = {"block": 0, "doc": 0, "dictionary": 0, "meta": 0, "files": 0}

    def add(d: Path, key: str) -> None:
        for p in d.rglob("*"):
            if p.is_file() and not p.name.endswith(".crc") \
                    and p.name != "_SUCCESS":
                out[key] += p.stat().st_size
                out["files"] += 1

    for ln in committed_lineage(root):
        batch = root / "data" / f"batch-{ln['batch_id']}"
        add(batch / "kind=block", "block")
        add(batch / "kind=doc", "doc")
    add(root / "dictionary", "dictionary")
    add(root / "_meta", "meta")
    out["total"] = out["block"] + out["doc"] + out["dictionary"] \
        + out["meta"]
    return out


def new_bytes(d: Path) -> int:
    """Bytes of files under ``d`` written there rather than hard-linked
    in from an older batch."""
    return sum(p.stat().st_size for p in d.rglob("*.parquet")
               if p.stat().st_nlink == 1)


# -------------------------------------------------------- answer checks

def canon(doc_ids, scores) -> tuple:
    return (tuple(int(d) for d in doc_ids),
            tuple(float(s) for s in scores))


def canon_frame(frame) -> dict[int, tuple]:
    """Result frame (query_id, rank, doc_id, score, ...) → query_id →
    canonical (doc_ids by rank, scores by rank)."""
    out = {}
    if len(frame) == 0:
        return out
    frame = frame.sort_values(["query_id", "rank"])
    for qid, g in frame.groupby("query_id", sort=False):
        out[int(qid)] = canon(g["doc_id"], g["score"])
    return out


def same_answer(got: tuple, want: tuple) -> bool:
    """doc_ids rank-identical; scores within ``SCORE_RTOL``."""
    if got[0] != want[0]:
        return False
    return bool(np.allclose(got[1], want[1], rtol=SCORE_RTOL, atol=0.0))


class Count:
    """A ``decode_acc`` for the serving path, which takes any object with
    ``add``: counts the ranges one ``search_local`` call decodes."""

    def __init__(self):
        self.value = 0

    def add(self, n: int) -> None:
        self.value += n


class Tally:
    """Attempted and failed operations of one run; a failure is an
    exception, a non-200 response, a 503 after retry or a wrong
    answer."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self._lock = threading.Lock()

    def add(self, ok: bool, note: str | None = None) -> bool:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if note and len(self.notes) < 20:
                    self.notes.append(note)
        return ok

    @property
    def error_rate(self) -> float:
        return self.failed / max(self.attempted, 1)
