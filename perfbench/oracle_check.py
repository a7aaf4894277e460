"""Exact BM25 answers from ``oracle.OracleIndex`` over one generated
corpus, computed in a process of its own so that the benchmark's timed
work never waits for it.

    echo '{"conv_ids": [0, 1, 2], "seed": 1, "clustered": false,
           "queries": [["term00001", 10]], "nice": 0}' \
        | python3 perfbench/oracle_check.py

prints ``{"turns": <corpus turns>, "answers": [[query_text, k, doc_ids,
scores], ...]}``.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    req = json.load(sys.stdin)
    # started beside timed set-up, the oracle runs at the lowest CPU
    # priority so that the set-up does not wait for it
    os.nice(req.get("nice", 0))
    from embedanything_spark.oracle import OracleIndex
    from workloads import corpus
    docs = corpus(req["conv_ids"], req["seed"], req["clustered"])
    oracle = OracleIndex(docs)
    out = []
    for text, k in req["queries"]:
        r = oracle.score_query(text, k)
        out.append([text, k, [int(d) for d in r["doc_id"]],
                    [float(s) for s in r["score"]]])
    json.dump({"turns": len(docs), "answers": out}, sys.stdout)


if __name__ == "__main__":
    main()
