"""Self-test of the benchmark: a short run of each workload at sf0.001.

Checks that every metric ``BENCHMARK.json`` names is emitted with its unit
(``end_to_end`` with ``--trace 0``, ``per_layer`` with ``--trace 1``), that
the unmodified engine passes every check, and that a deliberately corrupted
result (``--corrupt``) is counted as failed.

Run from the repository root:  python3 perfbench/selftest.py [workload ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "3", "--seconds", "1", "--trace", str(trace), "--sf", "0.001",
        *extra,
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    problems: list[str] = []
    for wl in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = run(wl, trace)
            if not out["correct"] or out["failed"]:
                problems.append(f"{wl} trace={trace}: {out['failed']} failed")
            for m in bench[key]:
                got = out["metrics"].get(m["name"])
                if got is None:
                    problems.append(f"{wl} trace={trace}: {m['name']} missing")
                elif got["unit"] != m["unit"]:
                    problems.append(
                        f"{wl} trace={trace}: {m['name']} unit {got['unit']} != {m['unit']}"
                    )
            extra = set(out["metrics"]) - {m["name"] for m in bench[key]}
            if extra:
                problems.append(f"{wl} trace={trace}: not in BENCHMARK.json: {sorted(extra)}")
        bad = run(wl, 0, "--corrupt")
        if bad["correct"] or bad["failed"] < 1:
            problems.append(f"{wl}: corrupted result not counted as failed")
        print(f"{wl}: checked", flush=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
