"""The four workloads. Each takes the run context built by ``run.py``
and returns ``(e2e, layer, named)``: the end-to-end metrics, the
per-layer metrics (filled only when tracing is on) and the figures
under their workload-specific names (see README.md).

Sizes are set so that a measurement campaign of 92 runs (4 + 22 per
workload) ends within 57 minutes on a 4-core host, where a run of 10
measured seconds takes 25–40 s in all. Corpora are therefore ≈72k
turns (bulk_build), ≈48k (serve, batch_search) and ≈24k (maintain),
not the 0.8M turns the 32-core ``bench.py`` uses.
"""

from __future__ import annotations

import dataclasses
import http.client
import json
import shutil
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from harness import (LATENCY_LIMIT_S, Count, canon, canon_frame,
                     index_bytes, median, merge_rollup, new_bytes, pct,
                     same_answer)

# Open-loop rate of `serve`: about 40% of the closed-loop capacity
# measured at the commit that introduced the benchmark (4 cores,
# ≈48k-turn uniform corpus: ~75 answers/s on a quiet host).
OPEN_LOOP_QPS = 30.0


@dataclasses.dataclass(frozen=True)
class Sizes:
    build_convs: int = 9_000      # ≈ 72k turns: 8 build buckets for every seed
    serve_convs: int = 6_000      # ≈ 48k turns
    batch_convs: int = 6_000      # ≈ 48k turns, spread over the epochs
    batch_epochs: int = 16        # topic epochs of the clustered corpus
    batch_block_range: int = 256
    batch_distinct: int = 4       # distinct 50-query batches
    maint_convs: int = 3_000      # ≈ 24k turns
    maint_block_range: int = 4096
    maint_delta: float = 0.01     # delta size as a share of the base
    maint_pair_s: float = 5.0     # timed cycle pairs: seconds / this


FULL = Sizes()
TOY = Sizes(build_convs=300, serve_convs=300, batch_convs=320,
            batch_epochs=4, batch_distinct=2, maint_convs=300,
            maint_block_range=256, maint_delta=0.05)


def clustered_ids(sz: Sizes) -> list[int]:
    """Conversation ids of the clustered corpus: the first
    ``batch_convs / batch_epochs`` conversations of each of
    ``batch_epochs`` topic epochs (``datagen.CLUSTER_EPOCH`` ids each).
    The epochs, and with them the share of posting ranges a pool-term
    query can skip, are those of a corpus ``CLUSTER_EPOCH * batch_epochs
    / batch_convs`` times larger, at this corpus's build cost."""
    from embedanything_spark.datagen import CLUSTER_EPOCH
    per = sz.batch_convs // sz.batch_epochs
    return [e * CLUSTER_EPOCH + j for e in range(sz.batch_epochs)
            for j in range(per)]


# ----------------------------------------------------------- inputs

def corpus(conv_ids, seed: int, clustered: bool = False) -> pd.DataFrame:
    """The generated transcripts of the given conversations: the rows
    ``datagen.gen_transcripts_df`` and ``gen_transcripts_pdf`` make per
    conversation (both go through ``datagen._gen_batch``)."""
    from embedanything_spark.datagen import _gen_batch
    return _gen_batch(conv_ids, seed, clustered)


def write_parquet(pdf: pd.DataFrame, path: Path) -> None:
    """Write generated transcripts as one parquet file with the schema
    ``datagen.gen_transcripts_df`` produces (ts as a UTC timestamp; the
    package's sessions run in UTC), atomically: a streaming source must
    never list a half-written file."""
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    tbl = tbl.set_column(
        tbl.schema.get_field_index("ts"), "ts",
        tbl["ts"].cast(pa.timestamp("us")).cast(pa.timestamp("us", "UTC")))
    tbl = tbl.set_column(tbl.schema.get_field_index("turn_idx"),
                         "turn_idx", tbl["turn_idx"].cast(pa.int32()))
    tmp = path.parent.parent / f".{path.name}"
    pq.write_table(tbl, str(tmp))
    tmp.rename(path)


def query_pool(seed: int) -> pd.DataFrame:
    """Four ``gen_query_set`` fixtures (head, torso, tail, unseen and
    non-ASCII terms, k ∈ {1, 10, 100}) drawn from the seed: 200 queries,
    so that one seed's luck of the draw moves the averages less."""
    from embedanything_spark.datagen import gen_query_set
    qs = pd.concat([gen_query_set(seed=seed * 4 + j) for j in range(4)],
                   ignore_index=True)
    qs["query_id"] = np.arange(len(qs), dtype=np.int32)
    return qs


def query_stream(seed: int, n: int) -> tuple[pd.DataFrame, np.ndarray]:
    """The serve workload's requests: the seed's query pool and a seeded
    order of ``n`` picks from it."""
    qs = query_pool(seed)
    order = np.random.default_rng((seed, 7)).integers(0, len(qs), size=n)
    return qs, order


class Oracle:
    """Exact answers from ``oracle.OracleIndex`` over the workload's
    corpus, computed by ``oracle_check.py`` in a process of its own that
    regenerates the corpus from the seed. It is collected before the
    next timed step, which keeps oracle time out of every timing; started
    beside timed set-up, it runs at the lowest CPU priority
    (``beside_setup``)."""

    def __init__(self, ctx, conv_ids: list[int], queries, clustered=False,
                 beside_setup=False):
        req = {"conv_ids": conv_ids, "seed": ctx.seed,
               "clustered": clustered,
               "queries": sorted({(str(t), int(k)) for t, k in queries}),
               "nice": 19 if beside_setup else 0}
        self._proc = subprocess.Popen(
            [sys.executable, str(Path(__file__).with_name(
                "oracle_check.py"))], cwd=ctx.root, env=ctx.env,
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        ctx.on_close.append(lambda: stop_process(self._proc))
        self._proc.stdin.write(json.dumps(req))
        self._proc.stdin.close()

    def answers(self) -> dict[tuple, tuple]:
        """(query_text, k) → canonical exact answer; waits for the
        oracle process to end. Also sets ``turns``, the corpus size."""
        out = json.loads(self._proc.stdout.read())
        if self._proc.wait() != 0:
            raise RuntimeError("oracle process failed")
        self.turns = out["turns"]
        return {(t, k): canon(d, s) for t, k, d, s in out["answers"]}


def check_frames(tally, frames, qsets, want) -> None:
    """Every result frame's answers against the oracle, one tally entry
    per query answered."""
    for frame, qs in zip(frames, qsets):
        got = canon_frame(frame)
        for r in qs.itertuples():
            g = got.get(int(r.query_id), ((), ()))
            tally.add(same_answer(g, want[(r.query_text, int(r.k))]),
                      f"wrong answer: {r.query_text!r} k={r.k}")


def cluster_batches(sz: Sizes, seed: int) -> list[pd.DataFrame]:
    """The batch_search workload's distinct 50-query batches, drawn
    over the clustered corpus's epochs."""
    from embedanything_spark.datagen import (CLUSTER_EPOCH,
                                             gen_cluster_query_set)
    return [gen_cluster_query_set(sz.batch_epochs * CLUSTER_EPOCH,
                                  seed=seed * 1000 + j)
            for j in range(sz.batch_distinct)]


def write_input(ctx, conv_ids: list[int], clustered: bool = False) -> None:
    """Generate the workload's corpus into ``work/input`` as one parquet
    file per core, as ``gen_transcripts_df(partitions=nproc)`` would
    write it. It is generated in this process rather than by a Spark
    job: the corpus is the same, and the run saves a cold JVM's job."""
    (ctx.work / "input").mkdir()
    for i, part in enumerate(np.array_split(np.asarray(conv_ids),
                                            ctx.cores)):
        write_parquet(corpus(part, ctx.seed, clustered),
                      ctx.work / "input" / f"part-{i:05d}.parquet")


def build_input_index(ctx, conv_ids: list[int],
                      block_range: int | None = None,
                      clustered: bool = False) -> tuple[Path, int]:
    """Build and compact the index a query workload runs against (not
    timed, not set-up); returns (root, turns). Superseded files and the
    input are deleted at once: a file freed while still in the page
    cache costs nothing to delete, one the kernel has written back
    costs seconds here."""
    from embedanything_spark.index.build import IndexWriter
    write_input(ctx, conv_ids, clustered)
    ctx.log("input written")
    root = ctx.work / "idx"
    kw = {"block_range": block_range} if block_range else {}
    w = IndexWriter(str(root), **kw)
    turns = w.build(ctx.spark.read.parquet(str(ctx.work / "input")))[
        "n_docs"]
    ctx.log("input built")
    w.compact(ctx.spark)
    ctx.log("input compacted")
    w.expire_retired()
    shutil.rmtree(ctx.work / "input")
    return root, turns


def one_query(qs: pd.DataFrame, i: int) -> pd.DataFrame:
    return qs.iloc[[i]].reset_index(drop=True)


def _index_metrics(root: Path, turns: int, layer: dict) -> float:
    ib = index_bytes(root)
    layer.update({"index.block_bytes": ib["block"],
                  "index.doc_bytes": ib["doc"],
                  "index.dictionary_bytes": ib["dictionary"],
                  "index.files": ib["files"]})
    return ib["total"] / turns


def _build_layer(ctx, per, spans, finals) -> dict:
    """build.* over the given IndexWriter.build and finalize spans."""
    tr = ctx.tracer
    rolls = [merge_rollup(per, tr.descendants(s["id"])) for s in spans]
    n = max(len(spans), 1)
    skews = [max(r["write_skew"]) for r in rolls if r["write_skew"]]
    return {
        "build.call_s": median([s["end"] - s["start"] for s in spans])
        if spans else 0.0,
        "build.finalize_s": median([s["end"] - s["start"]
                                    for s in finals]) if finals else 0.0,
        "build.task_run_s": sum(r["run_ms"] for r in rolls) / 1e3 / n,
        "build.task_cpu_s": sum(r["cpu_ns"] for r in rolls) / 1e9 / n,
        "build.gc_s": sum(r["gc_ms"] for r in rolls) / 1e3 / n,
        "build.shuffle_write_bytes":
            sum(r["shuffle_write"] for r in rolls) / n,
        "build.spill_bytes": sum(r["spill"] for r in rolls) / n,
        "build.task_skew": median(skews) if skews else 0.0,
        "build.driver_s": sum(
            (s["end"] - s["start"]) - r["job_ms"] / 1e3
            for s, r in zip(spans, rolls)) / n,
        "build.jobs": sum(r["jobs"] for r in rolls) / n,
        "build.tasks": sum(r["tasks"] for r in rolls) / n,
        "build.output_bytes": sum(r["output"] for r in rolls) / n,
    }


# ------------------------------------------------------- bulk_build

def bulk_build(ctx):
    """Uniform corpus written once; timed: IndexWriter.build + finalize
    into a fresh root, repeated for the run's seconds after one
    discarded warm-up build."""
    from embedanything_spark.datagen import gen_query_set
    from embedanything_spark.index.build import IndexWriter
    from embedanything_spark.index.query import IndexReader
    qs = gen_query_set(seed=ctx.seed).iloc[::5].reset_index(drop=True)
    ids = list(range(ctx.sizes.build_convs))
    oracle = Oracle(ctx, ids, zip(qs.query_text, qs.k), beside_setup=True)
    spark = ctx.start_spark()
    write_input(ctx, ids)
    ctx.log("input written")
    src = spark.read.parquet(str(ctx.work / "input"))
    t0 = time.perf_counter()
    IndexWriter(str(ctx.work / "warm")).build(src)
    ctx.setup_s += time.perf_counter() - t0
    shutil.rmtree(ctx.work / "warm")
    want = oracle.answers()
    turns = oracle.turns

    tr, tally = ctx.tracer, ctx.tally
    ctx.begin_measure()
    walls, root = [], None
    end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < end or not walls:
        if root is not None:
            shutil.rmtree(root)     # see build_input_index
        root = ctx.work / f"idx-{len(walls)}"
        w = IndexWriter(str(root))
        tr.wrap(w, "finalize", "finalize")
        t = time.perf_counter()
        with tr.span("build", op=f"build-{len(walls)}"):
            w.build(src)
        walls.append(time.perf_counter() - t)
        meta = json.loads((root / "_meta" / "meta.json").read_text())
        tally.add(meta["n_docs"] == turns,
                  f"n_docs {meta['n_docs']} != {turns} turns")
    ctx.end_measure()
    frame = IndexReader(None, str(root)).search_local(qs)
    layer = {}
    bpt = _index_metrics(root, turns, layer)
    if tr.enabled:
        layer.update(_build_layer(ctx, ctx.rollup(), tr.named("build"),
                                  tr.named("finalize")))
    check_frames(tally, [frame], [qs], want)
    ctx.log("checked")

    e2e = {"throughput_per_s": turns / median(walls),
           "latency_p50_ms": median(walls) * 1e3,
           "latency_p90_ms": pct(walls, 90) * 1e3,
           "index_bytes_per_turn": bpt}
    named = {"build_turns_per_s": e2e["throughput_per_s"],
             "index_bytes_per_turn": bpt, "build_walls_s": walls,
             "input_turns": turns}
    return e2e, layer, named


# ------------------------------------------------------------ serve

class _Client:
    """One HTTP request to ``/v1/search``; a 503 is retried once."""

    def __init__(self, port: int):
        self.port = port

    def ask(self, text: str, k: int) -> tuple[int, tuple | None]:
        body = json.dumps({"query": text, "k": k})
        for attempt in range(2):
            conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                              timeout=30)
            try:
                conn.request("POST", "/v1/search", body,
                             {"Content-Type": "application/json"})
                resp = conn.getresponse()
                data = resp.read()
            finally:
                conn.close()
            if resp.status == 503 and attempt == 0:
                continue
            if resp.status != 200:
                return resp.status, None
            rows = json.loads(data)["results"]
            return 200, canon([r["doc_id"] for r in rows],
                              [r["score"] for r in rows])
        return 503, None


def start_server(ctx, root: Path, trace_out: Path | None):
    """Spawn the serving process and wait for its first answer; returns
    (process, port, seconds from spawn to first answer)."""
    cmd = [sys.executable, "-m", "embedanything_spark.cli", "serve",
           "--index", str(root), "--host", "127.0.0.1", "--port", "0"]
    if trace_out is not None:
        cmd = [sys.executable, str(Path(__file__).with_name(
            "serve_launcher.py")), "--trace-out", str(trace_out)] + cmd[3:]
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, cwd=ctx.root, stdout=subprocess.PIPE,
                            stderr=subprocess.DEVNULL, text=True,
                            env=ctx.env)
    ctx.on_close.append(lambda: stop_process(proc))
    line = proc.stdout.readline()
    if "serving on" not in line:
        raise RuntimeError(f"server did not start: {line!r}")
    port = int(line.split("http://", 1)[1].split()[0].rsplit(":", 1)[1])
    client = _Client(port)
    while True:
        try:
            status, _ = client.ask("term00001", 1)
        except OSError:
            status = 0
        if status == 200:
            break
        if proc.poll() is not None or time.perf_counter() - t0 > 60:
            raise RuntimeError("server gave no answer")
        time.sleep(0.01)
    return proc, port, time.perf_counter() - t0


def stop_process(proc) -> None:
    if proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def serve(ctx):
    """Compacted uniform index served by a separate
    ``embedanything_spark.cli serve`` process (no JVM); an open loop at
    ``OPEN_LOOP_QPS`` then a closed loop with one connection per
    core."""
    qs, order = query_stream(ctx.seed, 100_000)
    texts = qs["query_text"].tolist()
    ks = qs["k"].astype(int).tolist()
    ids = list(range(ctx.sizes.serve_convs))
    oracle = Oracle(ctx, ids, zip(texts, ks))
    ctx.start_spark(input_only=True)
    root, turns = build_input_index(ctx, ids)
    ctx.stop_spark()
    want = oracle.answers()
    ctx.log("input index built")

    # set-up: server spawn → first answer, three times (median), then
    # one discarded pass over every distinct query, a connection per core
    trace_out = ctx.work / "server-trace.json" if ctx.tracer.enabled \
        else None
    starts = []
    for i in range(3):
        proc, port, s = start_server(ctx, root, trace_out)
        starts.append(s)
        if i < 2:
            stop_process(proc)
    client = _Client(port)
    t0 = time.perf_counter()
    with ThreadPoolExecutor(ctx.cores) as pool:
        list(pool.map(client.ask, qs["query_text"], qs["k"].astype(int)))
    ctx.setup_s += median(starts) + time.perf_counter() - t0
    ctx.sampler.server_pid = proc.pid

    def call(qi: int) -> tuple:
        sent = time.perf_counter()
        try:
            status, ans = client.ask(texts[qi], ks[qi])
        except OSError:
            status, ans = 0, None
        return qi, sent, time.perf_counter(), status, ans

    ctx.begin_measure()
    m0 = time.perf_counter()
    # open loop: request i is due at t0 + i/rate and is timed from then
    half = ctx.seconds / 2
    n_open = max(1, int(half * OPEN_LOOP_QPS))
    opened = []
    with ThreadPoolExecutor(max_workers=ctx.cores) as pool:
        t0 = time.perf_counter()
        for i in range(n_open):
            due = t0 + i / OPEN_LOOP_QPS
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            opened.append((due, time.perf_counter(),
                           pool.submit(call, int(order[i]))))
    opened = [(due, disp, fut.result()) for due, disp, fut in opened]

    # closed loop: one connection per core, each waits for its reply
    picks = iter(order[n_open:].tolist())
    lock = threading.Lock()
    closed: list[tuple] = []
    cpu0 = ctx.sampler_cpu(proc.pid)
    c0 = time.perf_counter()
    c_end = c0 + ctx.seconds - half

    def loop():
        while time.perf_counter() < c_end:
            with lock:
                qi = next(picks)
            rec = call(qi)
            with lock:
                closed.append(rec)

    threads = [threading.Thread(target=loop) for _ in range(ctx.cores)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    c_wall = time.perf_counter() - c0
    server_cpu = ctx.sampler_cpu(proc.pid) - cpu0
    ctx.end_measure()
    stop_process(proc)

    # correctness: every response against the oracle's answer
    tally = ctx.tally

    def correct(rec) -> bool:
        qi, _, _, status, ans = rec
        return tally.add(
            status == 200 and same_answer(ans, want[(texts[qi], ks[qi])]),
            f"{texts[qi]!r} k={ks[qi]}: status {status}")

    open_lat = [(rec[2] - due) * 1e3 if correct(rec) else float("inf")
                for due, _, rec in opened]
    good = sum(1 for rec in closed
               if correct(rec) and rec[2] - rec[1] <= LATENCY_LIMIT_S)
    capacity = good / c_wall

    layer = {}
    bpt = _index_metrics(root, turns, layer)
    e2e = {"throughput_per_s": capacity,
           "latency_p50_ms": pct(open_lat, 50),
           "latency_p90_ms": pct(open_lat, 90),
           "index_bytes_per_turn": bpt}
    named = {"serve_p50_ms": e2e["latency_p50_ms"],
             "serve_p90_ms": e2e["latency_p90_ms"],
             "serve_capacity_qps": capacity,
             "open_loop_qps": OPEN_LOOP_QPS,
             "open_loop_requests": len(opened),
             "closed_loop_requests": len(closed),
             "latency_limit_ms": LATENCY_LIMIT_S * 1e3}
    if ctx.tracer.enabled:
        rec = json.loads(trace_out.read_text())
        calls = [c for c in rec["calls"] if c["t"] >= m0]
        local = [c["ms"] for c in calls]
        service = [(r[2] - r[1]) * 1e3 for r in closed]
        layer.update({
            "query.reader_open_s": median(rec["reader_open_s"]),
            "query.local_ms": median(local),
            "query.local_decoded_ranges":
                float(np.mean([c["decoded"] for c in calls])),
            "server.overhead_ms": median(service) - median(local),
            "server.cpu_util": server_cpu / c_wall,
            "server.queue_wait_ms": pct(
                [(rec[1] - due) * 1e3 for due, _, rec in opened], 95),
            "loadgen.late_ms": pct(
                [(disp - due) * 1e3 for due, disp, _ in opened], 95)})
    return e2e, layer, named


# ----------------------------------------------------- batch_search

def batch_search(ctx):
    """Compacted clustered index; timed: distributed
    ``IndexReader.search`` on batches of 50 queries and on single
    queries, each result materialized."""
    from embedanything_spark.index.query import IndexReader
    sz = ctx.sizes
    batches = cluster_batches(sz, ctx.seed)
    ids = clustered_ids(sz)
    spark = ctx.start_spark()
    oracle = Oracle(ctx, ids, [(r.query_text, r.k) for b in batches
                               for r in b.itertuples()], clustered=True)
    root, turns = build_input_index(ctx, ids, sz.batch_block_range,
                                    clustered=True)
    want = oracle.answers()
    ctx.log("input index built")

    pool = pd.concat(batches, ignore_index=True)
    pool["query_id"] = np.arange(len(pool), dtype=np.int32)
    order = np.random.default_rng((ctx.seed, 11)).permutation(len(pool))
    singles = [one_query(pool, int(i)) for i in order]
    opens = []
    for _ in range(3):
        t = time.perf_counter()
        reader = IndexReader(spark, str(root))
        opens.append(time.perf_counter() - t)
    # warm-up: the first calls run measurably slower while the JVM
    # compiles the query path
    t = time.perf_counter()
    for qs in batches + singles[-4:]:
        reader.search(qs).toPandas()
    ctx.setup_s += median(opens) + time.perf_counter() - t

    tr = ctx.tracer
    sc = spark.sparkContext

    def run(qs, name, prune=True):
        acc = sc.accumulator(0) if tr.enabled else None
        with tr.span(name) as sp:
            t = time.perf_counter()
            out = reader.search(qs, prune=prune, decode_acc=acc).toPandas()
            wall = time.perf_counter() - t
        if acc is not None:
            sp["decoded"] = acc.value
        frames.append(out)
        fq.append(qs)
        return wall

    # batch and single calls interleave (one batch, three singles), so
    # a slow stretch of the run weighs on both alike
    ctx.begin_measure()
    frames, fq, b_walls, s_walls = [], [], [], []
    end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < end or not b_walls:
        b_walls.append(run(batches[len(b_walls) % len(batches)],
                           "search.batch"))
        for _ in range(3):
            s_walls.append(run(singles[len(s_walls) % len(singles)],
                               "search.single"))
    ctx.end_measure()
    if tr.enabled:
        # the same batch once without pruning: what pruning skipped
        run(batches[0], "search.noprune", prune=False)
    check_frames(ctx.tally, frames, fq, want)
    ctx.log("checked")

    layer = {}
    bpt = _index_metrics(root, turns, layer)
    n_q = len(batches[0])
    e2e = {"throughput_per_s": n_q / median(b_walls),
           "latency_p50_ms": median(s_walls) * 1e3,
           "latency_p90_ms": pct(s_walls, 90) * 1e3,
           "index_bytes_per_turn": bpt}
    named = {"batch_queries_per_s": e2e["throughput_per_s"],
             "search_p50_ms": e2e["latency_p50_ms"],
             "search_p90_ms": e2e["latency_p90_ms"],
             "batch_walls_s": b_walls, "single_walls_s": s_walls}
    if tr.enabled:
        per = ctx.rollup()
        one = [(s, merge_rollup(per, tr.descendants(s["id"])))
               for s in tr.named("search.single")]
        bat = [(s, merge_rollup(per, tr.descendants(s["id"])))
               for s in tr.named("search.batch")]
        noprune = tr.named("search.noprune")[0]["decoded"]
        # decodes of the batch that is also run once with prune=False
        first = [s["decoded"] for s, _ in bat][0::len(batches)]
        layer.update({
            "search.job_ms": median([r["job_ms"] for _, r in one]),
            "search.driver_ms": median(
                [(s["end"] - s["start"]) * 1e3 - r["job_ms"]
                 for s, r in one]),
            "search.jobs_per_call": float(np.mean(
                [r["jobs"] for _, r in one])),
            "search.stages_per_call": float(np.mean(
                [r["stages"] for _, r in one])),
            "search.tasks_per_call": float(np.mean(
                [r["tasks"] for _, r in one])),
            "search.task_run_s": float(np.mean(
                [r["run_ms"] for _, r in bat])) / 1e3,
            "search.shuffle_bytes": float(np.mean(
                [r["shuffle_write"] for _, r in bat])),
            "search.decoded_ranges_per_query": float(np.mean(
                [s["decoded"] for s, _ in bat])) / n_q,
            "search.decode_skip_frac":
                1.0 - median(first) / max(noprune, 1)})
    return e2e, layer, named


# --------------------------------------------------------- maintain

def maintain(ctx):
    """Uniform compacted base; each cycle drops a delta of new
    conversations, ingests it with ``StreamingIndexIngest`` and
    compacts (``scope="auto"``, then a merge fold in the last cycle)
    while one thread keeps querying a long-lived ``IndexReader``
    through ``search_local``."""
    from embedanything_spark.index.build import (IndexWriter,
                                                 committed_lineage)
    from embedanything_spark.index.query import IndexReader
    from embedanything_spark.streaming.ingest import StreamingIndexIngest
    sz = ctx.sizes
    spark = ctx.start_spark()
    root, _ = build_input_index(ctx, list(range(sz.maint_convs)),
                                sz.maint_block_range)
    ctx.log("input index built")

    tr, tally = ctx.tracer, ctx.tally
    src, ckpt = ctx.work / "deltas", ctx.work / "checkpoint"
    src.mkdir()
    ingest = StreamingIndexIngest(str(root),
                                  block_range=sz.maint_block_range)
    tr.wrap(ingest, "process_batch", "ingest.batch")
    tr.wrap(ingest.writer, "build", "build")
    tr.wrap(ingest.writer, "finalize", "finalize")
    qs = query_pool(ctx.seed)
    sample = qs.iloc[:50:5].reset_index(drop=True)
    n_delta = max(1, int(sz.maint_convs * sz.maint_delta))
    next_conv = [sz.maint_convs]

    def ingest_delta(c: int) -> tuple[int, float]:
        """Drop delta ``c`` into the source dir and stream it in;
        returns (turns, seconds from stream start to termination)."""
        first = next_conv[0]
        next_conv[0] += n_delta
        delta = corpus(range(first, first + n_delta), ctx.seed)
        write_parquet(delta, src / f"delta-{c:04d}.parquet")
        tr.op_hint = f"cycle-{c}"
        t = time.perf_counter()
        with tr.span("ingest.query", op=f"cycle-{c}"):
            q = ingest.start(spark, str(src), str(ckpt))
            q.awaitTermination()
        wall = time.perf_counter() - t
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        return len(delta), wall

    def compact(c: int, scope: str) -> dict:
        """Compact, checking that a fixed query sample's answers are
        unchanged by it."""
        delta_bytes = sum(
            new_bytes(root / "data" / f"batch-{ln['batch_id']}")
            for ln in committed_lineage(root)
            if not ln["batch_id"].startswith("compact-"))
        before = canon_frame(
            IndexReader(None, str(root)).search_local(sample))
        t = time.perf_counter()
        with tr.span("compact", op=f"cycle-{c}"):
            lin = IndexWriter(str(root), block_range=sz.maint_block_range
                              ).compact(spark, scope=scope)
        t_end = time.perf_counter()
        after = canon_frame(
            IndexReader(None, str(root)).search_local(sample))
        for qid, ans in before.items():
            tally.add(same_answer(after.get(qid, ((), ())), ans),
                      f"cycle {c}: query {qid} changed by compaction")
        tally.add(set(after) == set(before),
                  f"cycle {c}: answered query set changed")
        return {"compact_s": t_end - t, "compact_at": (t, t_end),
                "scope": lin.get("scope"),
                "rewritten": lin.get("rewritten_files", 0),
                "passthrough": lin.get("passthrough_files", 0),
                "written": new_bytes(
                    root / "data" / f"batch-{lin['batch_id']}"),
                "delta_bytes": delta_bytes,
                "layers": sum(1 for ln in committed_lineage(root)
                              if ln["batch_id"].startswith("compact-"))}

    opens = []
    for _ in range(3):
        t = time.perf_counter()
        reader = IndexReader(None, str(root))
        opens.append(time.perf_counter() - t)
    t = time.perf_counter()
    reader.search_local(qs)
    ingest_delta(0)         # discarded warm-up of the streaming path
    ctx.setup_s += median(opens) + time.perf_counter() - t

    stop = threading.Event()
    reads: list[tuple[float, float, int]] = []
    counter = Count() if tr.enabled else None

    def reader_loop():
        i = 0
        while not stop.is_set():
            q = one_query(qs, i % len(qs))
            i += 1
            t = time.perf_counter()
            try:
                reader.search_local(q, decode_acc=counter)
                ok = True
            except Exception as e:   # counted as a failed operation
                ok = tally.add(False, f"reader: {e!r}")
            else:
                tally.add(True)
            reads.append((t, time.perf_counter(), ok))

    ctx.begin_measure()
    th = threading.Thread(target=reader_loop)
    th.start()
    cycles = []
    # compact(auto) adds a delta tier until the layer cap, where it
    # folds every tier in one merge; a run is too short to reach the
    # cap, so cycles come in pairs whose second runs that fold directly
    n_cycles = 2 * max(1, round(ctx.seconds / sz.maint_pair_s))
    try:
        for c in range(1, n_cycles + 1):
            turns, ingest_s = ingest_delta(c)
            cycles.append({"turns": turns, "ingest_s": ingest_s,
                           **compact(c, "auto" if c % 2 else "merge")})
    finally:
        stop.set()
        th.join()
    ctx.end_measure()

    lat = [(e - s) * 1e3 if ok else float("inf") for s, e, ok in reads]
    ingest_s = sum(c["ingest_s"] for c in cycles)
    layer = {}
    bpt = _index_metrics(root, sum(ln["n_docs"] for ln in
                                   committed_lineage(root)), layer)
    e2e = {"throughput_per_s": sum(c["turns"] for c in cycles) / ingest_s,
           "latency_p50_ms": pct(lat, 50),
           "latency_p90_ms": pct(lat, 90),
           "index_bytes_per_turn": bpt}
    compact_s = float(np.mean([c["compact_s"] for c in cycles]))
    named = {"ingest_turns_per_s": e2e["throughput_per_s"],
             "compact_s_per_cycle": compact_s,
             "maintain_serve_p50_ms": e2e["latency_p50_ms"],
             "maintain_serve_p90_ms": e2e["latency_p90_ms"],
             "cycles": len(cycles), "reads": len(reads),
             "ingest_walls_s": [c["ingest_s"] for c in cycles],
             "compact_walls_s": [c["compact_s"] for c in cycles],
             "scopes": [c["scope"] for c in cycles]}
    if tr.enabled:
        per = ctx.rollup()
        timed = [s for s in tr.spans if s["op"] != "cycle-0"]
        layer.update(_build_layer(
            ctx, per, [s for s in timed if s["name"] == "build"],
            [s for s in timed if s["name"] == "finalize"]))
        by = {}
        for name in ("ingest.query", "build", "finalize"):
            for s in tr.named(name):
                if s["op"] != "cycle-0":
                    by.setdefault(name, []).append(s["end"] - s["start"])
        n = len(cycles)
        q_s = sum(by.get("ingest.query", [])) / n
        b_s = sum(by.get("build", [])) / n
        f_s = sum(by.get("finalize", [])) / n
        comp = [(s, merge_rollup(per, tr.descendants(s["id"])))
                for s in tr.named("compact") if s["op"] != "cycle-0"]

        def scope_mean(scope):
            v = [c["compact_s"] for c in cycles if c["scope"] == scope]
            return float(np.mean(v)) if v else 0.0

        in_compact = [(e - s) * 1e3 for s, e, ok in reads if ok and any(
            s < b and e > a for a, b in (c["compact_at"] for c in cycles))]
        outside = [(e - s) * 1e3 for s, e, ok in reads if ok and not any(
            s < b and e > a for a, b in (c["compact_at"] for c in cycles))]
        layer.update({
            "ingest.query_s": q_s, "ingest.build_s": b_s,
            "ingest.finalize_s": f_s,
            "ingest.stream_overhead_s": q_s - b_s - f_s,
            "compact.s_per_cycle": compact_s,
            "compact.delta_s": scope_mean("delta"),
            "compact.merge_s": scope_mean("merge"),
            "compact.rewritten_files": float(np.mean(
                [c["rewritten"] for c in cycles])),
            "compact.passthrough_files": float(np.mean(
                [c["passthrough"] for c in cycles])),
            "compact.write_amp": sum(c["written"] for c in cycles)
            / max(sum(c["delta_bytes"] for c in cycles), 1),
            "compact.task_run_s": float(np.mean(
                [r["run_ms"] for _, r in comp])) / 1e3,
            "compact.shuffle_bytes": float(np.mean(
                [r["shuffle_write"] for _, r in comp])),
            "compact.layers": float(np.mean([c["layers"]
                                             for c in cycles])),
            "compact.serve_stall_ms": (pct(in_compact, 90)
                                       - pct(outside, 90))
            if in_compact and outside else 0.0,
            "query.local_ms": median([x for x in lat if x != float("inf")]),
            "query.local_decoded_ranges": counter.value / max(len(reads), 1),
            "query.reader_open_s": median(opens)})
    return e2e, layer, named


WORKLOADS = {"bulk_build": bulk_build, "serve": serve,
             "batch_search": batch_search, "maintain": maintain}
