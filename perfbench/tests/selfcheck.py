"""Self-check of the benchmark: every workload runs end to end on a small
fixture, untraced and traced, its outputs match the references, and every
metric BENCHMARK.json names is emitted with its unit.

Run from the repository root with the sf0.001 fixture directory (the
references for it are in perfbench/refs/sf0.001*.json):

    python3 perfbench/tests/selfcheck.py <sf0.001 dir>
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    for wl in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            before = len(problems)
            cmd = bench["command"] + ["--workload", wl, "--seed", "7", "--seconds", "1",
                                      "--trace", str(trace), "--data", sys.argv[1]]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                problems.append(f"{wl} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
                continue
            res = json.loads(lines[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{wl} trace={trace}: {res['failed']} of {res['attempted']} failed")
            if got != want[trace]:
                problems.append(f"{wl} trace={trace}: metrics differ from BENCHMARK.json: "
                                f"missing {sorted(set(want[trace]) - set(got))}, "
                                f"extra {sorted(set(got) - set(want[trace]))}, "
                                f"units {[k for k in got if want[trace].get(k, got[k]) != got[k]]}")
            print(f"{wl} trace={trace}: {'ok' if len(problems) == before else 'FAILED'}",
                  flush=True)
    if problems:
        sys.exit("\n".join(problems))
    print("selfcheck passed")


if __name__ == "__main__":
    main()
