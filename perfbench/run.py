"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1 [--tiny]

Run from the repository root. It builds the library and the harness
(perfbench/build.py), generates the seeded input in a separate JVM (cached
per workload and seed), then measures in a fresh JVM. The last line of
standard output is one JSON object: correct, attempted, failed and the
metrics (end-to-end with --trace 0, per-layer with --trace 1). The exit
code is non-zero when a correctness check or an op failed, or when the
run could not start. --tiny shrinks every size for the self-test.

An untraced lloyd_update_heavy run is measured by two processes in turn,
each with half the run's seconds and fits, and each end-to-end metric is
the median over the samples of both (set-up: one sample per process):
its fit cost differs by up to 1.6x from one JVM to the next (see
perfbench/README.md, Steadiness).
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import build

PROCESSES = {"lloyd_assign_heavy": 1, "lloyd_update_heavy": 2}
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880
KEEP_DATA_DIRS = 3


def run_child(cmd, deadline):
    """Runs cmd in its own process group; returns its exit code, or None
    at the deadline. A child still running on the way out is killed.
    """
    proc = subprocess.Popen(cmd, start_new_session=True, cwd=build.ROOT)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def harness_digest():
    return build.digest(sorted(
        os.path.join(d, f) for d, _, fs in os.walk(os.path.join(build.HERE, "scala"))
        for f in fs if f.endswith(".scala")))[:12]


def generate(base, workload, seed, tiny, deadline):
    """Seeded input, generated once per (harness, workload, seed, size)."""
    data_root = os.path.join(build.BUILD_DIR, "data")
    name = f"{workload}-s{seed}-{'tiny' if tiny else 'full'}-{harness_digest()}"
    data = os.path.join(data_root, name)
    if os.path.exists(os.path.join(data, "_GENERATED")):
        os.utime(data)
        return data
    shutil.rmtree(data, ignore_errors=True)
    t0 = time.time()
    code = run_child(base + ["perfbench.Gen", workload, str(seed), data, "1" if tiny else "0"],
                     deadline)
    if code != 0:
        raise RuntimeError(f"input generation failed (exit {code})")
    size = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(data) for f in fs)
    with open(os.path.join(data, "_GENERATED"), "w") as f:
        f.write(f"{size}\n")
    print(f"input: generated {name} in {time.time() - t0:.1f} s, {size} bytes on disk")
    dirs = sorted((os.path.join(data_root, d) for d in os.listdir(data_root)),
                  key=os.path.getmtime, reverse=True)
    for old in dirs[KEEP_DATA_DIRS:]:
        shutil.rmtree(old, ignore_errors=True)
    return data


def combine(results):
    """One result object from the results of a run's processes: their
    checks and op counts, and each end-to-end metric the median of all
    their samples.
    """
    metrics = results[0]["metrics"]
    if "samples" in results[0]:
        for name, m in metrics.items():
            xs = [x for r in results for x in r["samples"][name]]
            m["value"] = statistics.median(xs)
            if len(results) > 1:
                print(f"  merged {name:<24} median={m['value']:.4f} {m['unit']}  n={len(xs)}  "
                      f"[{' '.join(f'{x:.3f}' for x in xs)}]")
    return {"correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(PROCESSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--tiny", action="store_true")
    a = ap.parse_args()
    start = time.time()
    # a terminated run still takes its JVMs down (see run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        jar = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: cannot build: {e}")
    # the run's own time starts once the jar is there; a run that had to
    # build stays within the first run's allowance as a whole
    deadline = min(time.time() + RUN_LIMIT_S, start + BUILD_LIMIT_S)

    work = os.path.join(build.BUILD_DIR, "work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        base = build.jvm(jar, tmp)
        data = generate(base, a.workload, a.seed, a.tiny, deadline)
        share = 1 if a.trace == "1" else PROCESSES[a.workload]
        codes, results = [], []
        for p in range(share):
            result_file = os.path.join(work, f"result-{p}.json")
            cmd = base + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", a.trace, "--data", data,
                          "--work", work, "--result", result_file, "--tiny", "1" if a.tiny else "0",
                          "--traces", os.path.join(build.BUILD_DIR, "traces"),
                          "--share", str(share)]
            sys.stdout.flush()
            code = run_child(cmd, deadline)
            if code is None:
                sys.exit("perfbench: run exceeded its time limit")
            if not os.path.exists(result_file):
                sys.exit(f"perfbench: measuring process exited {code} without a result")
            with open(result_file) as f:
                results.append(json.load(f))
            codes.append(code)
        result = combine(results)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"run: {time.time() - start:.1f} s wall")
    print(json.dumps(result))
    ok = all(c == 0 for c in codes) and result["correct"] and result["failed"] == 0
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
