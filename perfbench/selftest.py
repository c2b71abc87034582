"""Self-test of the benchmark: every workload at tiny size, untraced and
traced. It checks that each run exits 0 with a correct result, that the
last line carries exactly the metric names and units BENCHMARK.json
declares, that every named metric is printed and that every correctness
check ran and passed.

    python3 perfbench/selftest.py
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

NAMED = {
    "lloyd_assign_heavy": ["fit_s", "fit_cpu_s", "setup_wall_s", "setup_cpu_s", "host_steal_s",
                           "failed_ratio"],
    "lloyd_update_heavy": ["fit_s", "fit_cpu_s", "setup_wall_s", "setup_cpu_s", "host_steal_s",
                           "failed_ratio"],
}
LLOYD_CHECKS = ["every fit ran exactly maxIter", "no EmptyClustersDetected event",
                "centers match LocalLloyds.run"]
CHECKS = {
    ("lloyd_assign_heavy", "0"): LLOYD_CHECKS,
    ("lloyd_assign_heavy", "1"): LLOYD_CHECKS + ["every scored prediction equals model.predict"],
    ("lloyd_update_heavy", "0"): LLOYD_CHECKS,
    ("lloyd_update_heavy", "1"): LLOYD_CHECKS + [
        "final SemDedupIndex.read validates", "keepers = initial keepers + keep=true verdicts",
        "every probe returns one verdict per doc"],
}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {
        "0": {m["name"]: m["unit"] for m in bench["end_to_end"]},
        "1": {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems = []
    for w in [x["name"] for x in bench["workloads"]]:
        for trace in ("0", "1"):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", "7",
                   "--seconds", "1", "--trace", trace, "--tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                                  text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            tag = f"{w} trace={trace}"
            if proc.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {proc.returncode}\n{proc.stdout[-2000:]}"
                                f"{proc.stderr[-2000:]}")
                continue
            result = json.loads(lines[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(result)}")
            if result.get("correct") is not True or result.get("failed") != 0 \
                    or result.get("attempted", 0) < 1:
                problems.append(f"{tag}: result {result}")
            got = {n: m["unit"] for n, m in result["metrics"].items()}
            if got != declared[trace]:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"{sorted(set(got) ^ set(declared[trace]))}")
            text = proc.stdout
            for name in NAMED[w]:
                if f"  {name} " not in text:
                    problems.append(f"{tag}: named metric {name} not printed")
            for check in CHECKS[(w, trace)]:
                if f"check PASS {check}" not in text:
                    problems.append(f"{tag}: check '{check}' did not pass")
            print(f"ok   {tag}" if not any(p.startswith(tag) for p in problems) else f"FAIL {tag}")
    for p in problems:
        print(p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
