"""Self-test of the benchmark. Run from the repository root:

    python3 perfbench/selftest/selftest.py

It checks that the expected contents of the two writes, derived from the
seed, still equal the ones pinned in ``digests.json``. For every workload
it runs the fewest passes a run makes (one untraced, three traced) at
sf0.001 with no warm-up, and checks that the result line carries every
metric ``BENCHMARK.json`` names, with every output correct. Then it corrupts one pinned digest and checks that the
benchmark reports the failure (``failed`` > 0, so ``fail_rate`` > 0) and
still finishes the run. Exit code 0 when all checks hold.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")


def run(workload: str, trace: int, digests: str | None = None) -> dict:
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--sf", "0.001", "--warmup", "0"]
    if digests:
        cmd += ["--digests", digests]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}:\n"
                             f"{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = {0: [m["name"] for m in spec["end_to_end"]],
              1: [m["name"] for m in spec["per_layer"]]}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    problems = []
    sys.path[:0] = [BENCH, ROOT]
    from pin_digests import expected_writes
    with open(os.path.join(BENCH, "digests.json")) as f:
        pinned = json.load(f)
    for sf, want in pinned["writes"].items():
        got = json.loads(json.dumps(expected_writes(sf[2:], want["seed"])))
        print(f"write contents {sf} seed={want['seed']}: "
              f"{'pinned' if got == want else 'DIFFER'}")
        if got != want:
            problems.append(("write contents", sf))

    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            res = run(w, trace)
            missing = [m for m in wanted[trace] if m not in res["metrics"]]
            wrong_unit = [m for m in wanted[trace] if m in res["metrics"]
                          and res["metrics"][m]["unit"] != units[m]]
            ok = res["correct"] and res["failed"] == 0 and not missing and not wrong_unit
            print(f"{w} trace={trace}: attempted={res['attempted']} "
                  f"failed={res['failed']} missing={missing} wrong_unit={wrong_unit}")
            if not ok:
                problems.append((w, trace))

    pinned["sf0.001"]["stream_ingest"]["hash"] = "0" * 64
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    bad = os.path.join(ROOT, ".perfbench", "selftest-corrupt-digests.json")
    with open(bad, "w") as f:
        json.dump(pinned, f)
    res = run("stream", 0, digests=bad)
    print(f"corrupted digest: correct={res['correct']} failed={res['failed']} "
          f"attempted={res['attempted']}")
    if res["correct"] or res["failed"] == 0 or res["attempted"] <= res["failed"]:
        problems.append(("corrupted digest", 0))
    os.remove(bad)

    print("selftest", "FAILED: " + str(problems) if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
