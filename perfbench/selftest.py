"""The benchmark's self-test: span arithmetic on synthetic job events, then
every workload at toy size, untraced and traced, checked for correct outputs
and for exactly the metrics BENCHMARK.json declares. Exits 0 when all pass.

    python3 perfbench/selftest.py
"""
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402


def main():
    build.build()
    cmd = build.java_command("linkbench.SelfTest", [
        "--work", os.path.join(build.BUILD, "selftest"),
        "--benchmark", os.path.join(build.ROOT, "BENCHMARK.json")])
    sys.exit(subprocess.run(cmd).returncode)


if __name__ == "__main__":
    main()
