"""Run one workload of the layered benchmark and print its result.

    python3 layerbench/run.py --workload serve_dto --seed 1 \
        --seconds 8 --trace 0

Run it from the root of a checkout of the repository.  The last line
of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``--trace 0`` reports the end-to-end
metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones (a
separate run with spans around each layer's entry points).  Progress
goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

WORKLOADS = ("serve_dto", "serve_topk_dense")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    missing = [p for p in ("search_engine_spark/engine.py", "tests/oracle.py")
               if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"layerbench: run from a checkout of the repository; "
              f"missing {', '.join(missing)}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from layerbench.harness import run

    result, _ = run(args.workload, args.seed, args.seconds, bool(args.trace),
                 root)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
