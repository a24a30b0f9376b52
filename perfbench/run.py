#!/usr/bin/env python3
"""Run one benchmark measurement; see perfbench/README.md.

    python3 perfbench/run.py --workload small --seed 1 --seconds 20 --trace 0

Builds graft and the benchmark from source on first use (build.py),
then runs one JVM on Spark local[nproc]. Every file the run makes goes
under .bench_run/<run>/ in the checkout, the JVM's java.io.tmpdir
included, and that directory is deleted when the run ends. Results
(and, for --trace 1, the spans file) are kept in .bench_out/.

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}. Exit code 0 only when every correctness gate passed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(ROOT, ".bench_run", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(out_dir, exist_ok=True)
    cmd = build.java_cmd(cp, "graft.perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--run-dir", run_dir, "--out-dir", out_dir,
    ], props=[("java.io.tmpdir", tmp),
              ("log4j.configurationFile",
               os.path.join(ROOT, "perfbench", "log4j2.properties"))])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"[perfbench] run exceeded {RUN_TIMEOUT_S} s; killed",
              file=sys.stderr)
        return 3
    finally:
        t0 = time.monotonic()
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"[perfbench] removed the run directory in "
              f"{time.monotonic() - t0:.1f} s", file=sys.stderr)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        print(f"[perfbench] no result line (exit code {proc.returncode})",
              file=sys.stderr)
        return proc.returncode or 4
    if a.trace == 1:
        report_overhead(out_dir, a.workload, a.seed)
    print(json.dumps(result))
    return proc.returncode


def report_overhead(out_dir, workload, seed):
    """Tracing overhead as the difference between this traced run and
    an untraced run of the same workload and seed, when one exists."""
    def e2e(t):
        path = os.path.join(out_dir, f"full-{workload}-seed{seed}-trace{t}.json")
        return json.load(open(path))["end_to_end"] if os.path.exists(path) else None
    base, traced = e2e(0), e2e(1)
    if not base or not traced:
        return
    for k in sorted(base):
        b, t = base[k]["value"], (traced.get(k) or {}).get("value")
        if b and t is not None:
            print(f"[perfbench] tracing overhead on {k}: {(t - b) / b * 100:+.1f}% "
                  f"({b:.4g} -> {t:.4g} {base[k]['unit']})", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
