"""Self-test of the benchmark on a tiny corpus.

    python3 layerbench/selftest.py

Run from the root of a checkout.  For every workload in BENCHMARK.json
it makes an untraced and a traced run over 1,500 documents with a
one-second window, each in its own process (one JVM per process, as in
a real run), and prints every metric with its unit.  It fails unless
each run reports exactly the metric names and units BENCHMARK.json
lists.  The untraced runs plant one wrong answer in the window, which
the output check must count as failed.  Takes about three minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

# one run in a fresh interpreter; prints the result and the verdict on
# the planted answer as the last line
_ONE_RUN = """
import json, sys
sys.path.insert(0, sys.argv[1])
from layerbench.harness import run
res, r = run(sys.argv[2], 1, 1.0, sys.argv[3] == "1", sys.argv[1],
             n_docs=1500, plant_wrong_answer=sys.argv[3] == "0")
print(json.dumps({"result": res, "planted_caught": r.planted_caught}))
"""


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, "-c", _ONE_RUN, root, w, str(trace)],
                stdout=subprocess.PIPE, text=True, timeout=600)
            if proc.returncode != 0:
                problems.append(f"{w} trace={trace}: exit {proc.returncode}")
                continue
            out = json.loads(proc.stdout.strip().splitlines()[-1])
            res = out["result"]
            print(f"{w} trace={trace}: attempted {res['attempted']}, "
                  f"failed {res['failed']}, correct {res['correct']}")
            for name, m in sorted(res["metrics"].items()):
                print(f"  {name:42s} {m['value']:14.6g} {m['unit']}")
            got = {k: m["unit"] for k, m in res["metrics"].items()}
            if got != want[trace]:
                problems.append(
                    f"{w} trace={trace}: metrics differ from BENCHMARK.json:"
                    f" {sorted(set(got.items()) ^ set(want[trace].items()))}")
            if not res["correct"]:
                problems.append(f"{w} trace={trace}: reference check failed")
            if not trace and out["planted_caught"] is not True:
                problems.append(f"{w}: planted wrong answer not caught")
    for p in problems:
        print(f"FAIL {p}")
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
