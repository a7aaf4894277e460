"""Traced launcher for the serving process.

Runs ``embedanything_spark.cli serve`` unchanged, with a timing wrapper
around ``IndexReader.__init__`` and ``IndexReader.search_local``: each
call's wall time and its decoded-range count (through the public
``decode_acc`` argument) are kept in memory and written as JSON to
``--trace-out`` when the process receives SIGTERM.

    python3 perfbench/serve_launcher.py --trace-out OUT serve --index DIR ...
"""

from __future__ import annotations

import json
import signal
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from embedanything_spark import cli  # noqa: E402
from embedanything_spark.index.query import IndexReader  # noqa: E402
from harness import Count  # noqa: E402


def main(argv: list[str]) -> None:
    if argv[:1] != ["--trace-out"] or len(argv) < 3:
        sys.exit(__doc__)
    out, rest = Path(argv[1]), argv[2:]
    rec = {"reader_open_s": [], "calls": []}
    lock = threading.Lock()
    init, search_local = IndexReader.__init__, IndexReader.search_local

    def timed_init(self, *a, **kw):
        t = time.perf_counter()
        init(self, *a, **kw)
        rec["reader_open_s"].append(time.perf_counter() - t)

    def timed_search_local(self, queries, prune=True, decode_acc=None):
        acc = Count()
        t = time.perf_counter()
        res = search_local(self, queries, prune, acc)
        ms = (time.perf_counter() - t) * 1e3
        if decode_acc is not None:
            decode_acc.add(acc.value)
        with lock:
            rec["calls"].append({"t": t, "ms": ms, "decoded": acc.value})
        return res

    IndexReader.__init__ = timed_init
    IndexReader.search_local = timed_search_local

    def dump(signum, frame):
        with lock:
            out.write_text(json.dumps(rec))
        sys.exit(0)

    signal.signal(signal.SIGTERM, dump)
    cli.main(rest)


if __name__ == "__main__":
    main(sys.argv[1:])
