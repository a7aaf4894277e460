"""Toy-scale self-test of the benchmark.

    python3 perfbench/selftest.py

Checks, on tiny inputs (about three minutes on 4 cores):

1. every workload, traced and untraced, prints every metric that
   ``BENCHMARK.json`` names, with its unit, and a correct result;
2. a deliberately corrupted answer is counted as a failed operation
   (``failed``, ``correct`` and the error rate);
3. the same seed yields the same query streams, and another seed
   another one.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]


# Runs in the benchmark's process before every run: toy-scale inputs.
TOY = """
import workloads
workloads.FULL = workloads.TOY
"""


def run(workload: str, trace: int, code: str = "") -> list[dict]:
    """One toy-scale run; returns its last two output lines as JSON.
    ``code`` runs in the benchmark's process before the run starts."""
    args = ["--workload", workload, "--seed", "3", "--seconds", "1",
            "--trace", str(trace)]
    cmd = [sys.executable, "-c",
           f"import sys; sys.path[:0] = [{str(HERE)!r}, {str(ROOT)!r}]\n"
           f"{TOY}{code}\nimport run; sys.exit(run.main({args!r}))"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=300)
    if out.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} exited "
                         f"{out.returncode}:\n{out.stderr[-3000:]}")
    return [json.loads(x) for x in out.stdout.strip().splitlines()[-2:]]


def check_metrics() -> None:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in (x["name"] for x in bench["workloads"]):
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            _, res = run(w, trace)
            want = {m["name"]: m["unit"] for m in bench[section]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{w} trace={trace}: {got} != {want}"
            assert all(isinstance(v["value"], (int, float))
                       for v in res["metrics"].values())
            assert res["correct"] and res["failed"] == 0 \
                and res["attempted"] >= 1, f"{w} trace={trace}: {res}"
            print(f"ok  {w} trace={trace}: {len(got)} metrics")


CORRUPT = """
from embedanything_spark.index.query import IndexReader
_search_local = IndexReader.search_local
def search_local(self, queries, *a, **kw):
    out = _search_local(self, queries, *a, **kw)
    if len(out):
        out.loc[0, "doc_id"] += 1     # one wrong answer
    return out
IndexReader.search_local = search_local
"""


def check_corruption() -> None:
    detail, res = run("bulk_build", 0, CORRUPT)
    named = detail["perfbench"]["named"]
    assert res["failed"] >= 1 and not res["correct"], res
    assert named["error_rate"] == res["failed"] / res["attempted"] > 0
    print(f"ok  corrupted answer counted: failed {res['failed']} of "
          f"{res['attempted']}")


def check_streams() -> None:
    from workloads import FULL, cluster_batches, query_stream

    def streams(seed):
        qs, order = query_stream(seed, 1000)
        return (qs.to_json(), order.tolist(),
                [b.to_json() for b in cluster_batches(FULL, seed)])

    assert streams(7) == streams(7), "same seed, different stream"
    assert streams(7) != streams(8), "different seeds, same stream"
    print("ok  query streams are a function of the seed")


if __name__ == "__main__":
    check_streams()
    check_corruption()
    check_metrics()
    print("selftest passed")
