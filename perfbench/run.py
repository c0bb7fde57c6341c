"""Link-graph benchmark of the graft engine. Builds the engine and the
benchmark from source, runs one workload in one JVM, and prints the result
as one JSON object on the last line of standard output.

    python3 perfbench/run.py --workload graph_loops --seed 1 --seconds 10 --trace 0

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
See perfbench/README.md.
"""
import argparse
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["crawl_to_rank", "graph_loops"]
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    build.build()
    work = os.path.join(build.BUILD, "work", a.workload)
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "result.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = build.java_command("linkbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--out", out])
    try:
        rc = subprocess.run(cmd, stdout=sys.stderr, timeout=RUN_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        raise SystemExit(f"run exceeded {RUN_TIMEOUT_S} s")
    if rc != 0 or not os.path.exists(out):
        raise SystemExit(f"run failed (exit {rc})")
    with open(out) as f:
        print(f.read().strip())


if __name__ == "__main__":
    main()
