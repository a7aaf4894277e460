"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads: bulk_build, serve,
batch_search, maintain (see ``workloads.py`` and ``README.md``). The
last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones of ``BENCHMARK.json``, with
``--trace 1`` the per-layer ones. The line before it records the run's
settings, host noise (steal %, process-tree CPU seconds) and the
figures under their workload-specific names.

All files a run writes live under ``.perfbench_work/`` in the
repository root: the run's own directory (about 20 MB, left in place;
see ``Run.close``) and the span file of a traced run
(``.perfbench_work/trace-<workload>-<seed>.json``).
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import math
import os
import sys
import tempfile
import time
from pathlib import Path

T0 = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# Pinned run setting (printed with every run): the package default,
# 32g, exceeds the RAM of the hosts the benchmark is sized for.
DRIVER_MEM = "2g"
# Spark settings left at the package's defaults; each run reads their
# effective values back from its session and prints them.
EFFECTIVE_CONFS = ("spark.master", "spark.driver.memory",
                   "spark.sql.shuffle.partitions",
                   "spark.sql.files.maxPartitionBytes",
                   "spark.sql.adaptive.enabled",
                   "spark.sql.execution.arrow.maxRecordsPerBatch")


class Run:
    """Everything one run shares between the harness and a workload."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, sizes):
        from harness import ProcSampler, Tally, Tracer, nproc
        self.root = ROOT
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.sizes = sizes
        self.cores = nproc()
        self.work = ROOT / ".perfbench_work" / \
            f"{workload}-{seed}-{os.getpid()}"
        self.work.mkdir(parents=True)
        (self.work / "tmp").mkdir()
        self.tracer = Tracer(trace)
        self.tally = Tally()
        self.sampler = ProcSampler().start()
        self.setup_s = 0.0
        self.session_start_s = 0.0
        self.on_close: list = []     # callables that end helpers
        self.spark = None
        self._rollup = None
        self._jvm_tree: set[tuple[int, int]] = set()   # (pid, start)
        self.effective_conf: dict[str, str] = {}
        self.env = dict(os.environ)
        self.env.update({
            "PYTHONPATH": str(ROOT),
            "TMPDIR": str(self.work / "tmp"),
            "SPARK_LOCAL_DIRS": str(self.work / "spark-local"),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_CPUS": str(self.cores),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            # no JVM perf-data file in /tmp: a run writes only inside
            # the checkout
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData"})
        os.environ.update(self.env)
        tempfile.tempdir = str(self.work / "tmp")
        self.confs = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData "
                f"-Djava.io.tmpdir={self.work / 'tmp'} "
                f"-Dderby.system.home={self.work}"}
        if trace:
            (self.work / "eventlog").mkdir()
            self.confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.work / 'eventlog'}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false"})

    def log(self, what: str) -> None:
        """Phase marks on standard error, for finding where a run's
        wall time goes."""
        print(f"perfbench: {time.perf_counter() - T0:7.2f}s {what}",
              file=sys.stderr, flush=True)

    # -- Spark ---------------------------------------------------------
    def start_spark(self, input_only: bool = False):
        """``get_spark`` at ``local[nproc]``; its wall time is set-up
        unless the session only builds the workload's input."""
        from embedanything_spark.session import get_spark
        t = time.perf_counter()
        self.spark = get_spark(app=f"perfbench-{self.workload}",
                               master=f"local[{self.cores}]",
                               shuffle_partitions=self.cores,
                               extra=self.confs)
        self.session_start_s = time.perf_counter() - t
        self.log("spark session up")
        if not input_only:
            self.setup_s += self.session_start_s
        self.spark.sparkContext.setLogLevel("ERROR")
        self.effective_conf = {k: self.spark.conf.get(k, None)
                               for k in EFFECTIVE_CONFS}
        if self.tracer.enabled:
            self.tracer.sc = self.spark.sparkContext
        return self.spark

    def stop_spark(self) -> None:
        """End the session's JVM and wait for it. A traced run stops
        the session first, which flushes its event log; an untraced run
        kills the JVM outright (Spark's orderly shutdown takes ~3 s and
        writes nothing the benchmark needs)."""
        if self.spark is None:
            return
        from harness import proc_tree
        from pyspark import SparkContext
        self._jvm_tree |= {(p, i["start"]) for p, i in
                           proc_tree(os.getpid()).items()
                           if p != os.getpid()}
        self.tracer.sc = None
        gw = SparkContext._gateway
        if self.tracer.enabled:
            self.spark.stop()
        else:
            # the accumulator server's handler sees the JVM vanish; that
            # is expected here, so keep its traceback off standard error
            acc = self.spark.sparkContext._accumulatorServer
            acc.handle_error = lambda *a: None
        proc = gw.proc
        gw.shutdown()
        proc.kill()
        proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        SparkContext._active_spark_context = None
        self.spark = None

    def rollup(self) -> dict:
        """Per-span Spark rollup; stops the session to flush its event
        log, so call it after the last Spark call."""
        from harness import rollup_event_log
        if self._rollup is None:
            self.stop_spark()
            self._rollup = rollup_event_log(self.work / "eventlog")
        return self._rollup

    # -- measured window ----------------------------------------------
    def begin_measure(self) -> None:
        from harness import cpu_probe_ms, cpu_times
        self.probe_ms = [cpu_probe_ms()]
        self.log("measure begins")
        self.sampler.mark()
        self._cpu0 = cpu_times()
        self._m0 = time.perf_counter()

    def end_measure(self) -> None:
        from harness import cpu_probe_ms, cpu_times, steal_pct
        self.measure_s = time.perf_counter() - self._m0
        self.log("measure ends")
        self.sampler.stop()
        self.probe_ms.append(cpu_probe_ms())
        self.steal_pct = steal_pct(self._cpu0, cpu_times())
        self.tree_cpu_s = self.sampler.cpu_s()
        self.peak = dict(self.sampler.peak)

    def sampler_cpu(self, pid: int) -> float:
        self.sampler.sample()
        return self.sampler.cpu_s(pid)

    # -- teardown -----------------------------------------------------
    def close(self) -> None:
        from harness import proc_tree, still_running
        for end in self.on_close:
            end()
        self.stop_spark()
        self.log("session stopped")
        self.sampler.stop()
        # Python workers outlive the JVM and are re-parented away from
        # this process; end every process ever seen and wait for each.
        left = self._jvm_tree | {(p, i["start"]) for p, i in
                                 proc_tree(os.getpid()).items()
                                 if p != os.getpid()}
        for sig, grace in ((15, 5), (9, 10)):
            for pid, start in left:
                if still_running(pid, start):
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
            deadline = time.time() + grace
            while left and time.time() < deadline:
                left = {p for p in left if still_running(*p)}
                time.sleep(0.05)
        # The run's directory stays: on ext4 mounted with online discard,
        # unlinking a file the kernel has already written back costs
        # ~15 ms, 3-5 s for a run's few hundred files.
        self.log("closed")


def _finite(v: float) -> float:
    # a latency percentile is infinite when failed requests reach it;
    # JSON has no infinity, so print an unmistakably huge value
    return float(v) if math.isfinite(v) else 1e12


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "embedanything_spark" / "__init__.py").is_file():
        print(f"perfbench: no embedanything_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2

    ctx = Run(args.workload, args.seed, args.seconds, bool(args.trace),
              workloads.FULL)
    try:
        e2e, layer, named = workloads.WORKLOADS[args.workload](ctx)
        mb = 1 << 20
        e2e["setup_s"] = ctx.setup_s
        named["peak_rss_mb"] = ctx.peak["total"] / mb
        layer.update({
            "session.start_s": ctx.session_start_s,
            "proc.peak_rss_mb": named["peak_rss_mb"],
            "proc.cpu_util": ctx.tree_cpu_s / (ctx.measure_s * ctx.cores),
            "proc.rss_mb.jvm": ctx.peak["jvm"] / mb,
            "proc.rss_mb.python": (ctx.peak["python"]
                                   + ctx.peak["server"]) / mb,
            "proc.rss_mb.workers": ctx.peak["workers"] / mb,
            "trace.self_ms": ctx.tracer.self_s * 1e3})
        named["error_rate"] = ctx.tally.error_rate
        if ctx.tracer.enabled:
            ctx.stop_spark()
            per = ctx._rollup or {}
            spans = [{**s, "spark": {k: (len(v) if isinstance(v, set)
                                         else v)
                                     for k, v in per.get(s["id"], {}).items()
                                     if k not in ("stage_runs",
                                                  "stage_out")}}
                     for s in ctx.tracer.spans]
            (ROOT / ".perfbench_work" /
             f"trace-{args.workload}-{args.seed}.json").write_text(
                json.dumps({"spans": spans}, default=str))
    finally:
        ctx.close()

    spec = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = layer if args.trace else e2e
    metrics = {m["name"]: {"value": _finite(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in spec}
    print(json.dumps({"perfbench": {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "sizes": dataclasses.asdict(ctx.sizes),
        "settings": {"master": f"local[{ctx.cores}]", "nproc": ctx.cores,
                     "driver_mem": DRIVER_MEM,
                     "spark_local_dirs": ctx.env["SPARK_LOCAL_DIRS"],
                     "shuffle_partitions": ctx.cores,
                     "spark_conf": ctx.confs,
                     "effective_conf": ctx.effective_conf},
        "host": {"steal_pct": ctx.steal_pct,
                 "cpu_probe_ms": ctx.probe_ms,
                 "tree_cpu_s": ctx.tree_cpu_s,
                 "measure_s": ctx.measure_s,
                 "peak_rss_mb": {k: v / (1 << 20)
                                 for k, v in ctx.peak.items()},
                 "peak_procs_mb": ctx.sampler.peak_procs,
                 "loadavg": os.getloadavg()},
        "named": named, "failures": ctx.tally.notes}}, default=str))
    print(json.dumps({"correct": ctx.tally.failed == 0,
                      "attempted": ctx.tally.attempted,
                      "failed": ctx.tally.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
