"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload store|microbatch|dedup \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds graft and the benchmark from source
(see build.py), then runs graft.perfbench.Main in one JVM on local[2]. The
JVM prints a report line (host context, every named metric, the checks'
findings) and, last, one result line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. Traced runs also
leave their spans, one JSON line each, under <build dir>/traces/.

Exits non-zero, without a result line, when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

WORKLOADS = ["store", "microbatch", "dedup"]
DEADLINE_S = 175  # a run must end within 180 s of its start once built
HEAP = "3g"


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=["0", "1"])
    a = p.parse_args()

    try:
        out = build.build()
        jsa = build.archive(out)
    except (build.BuildError, OSError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    started = time.monotonic()
    work = out / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # A fixed heap: a heap that G1 grows and shrinks (after the live-heap
    # probe's full GCs) made GC threads take as much CPU as the program in
    # some runs and not in others. The C1 compiler only: with C2, the CPU an
    # iteration takes depends on how far background compilation has got,
    # which differs from run to run for the whole of a short run. A fixed set
    # of compiler threads, so that the CPU time they use can be told apart
    # from the program's (Host.jitCpuNs).
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1",
           "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-XX:SharedArchiveFile={jsa}",
           "-Xlog:disable", "-Xlog:all=error:stderr", f"-Djava.io.tmpdir={work / 'tmp'}", *build.JVM_OPENS]
    cmd += [
        "-cp", build.classpath(out), "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", str(work), "--root", str(build.ROOT),
        "--source-stamp", (out / "stamp").read_text()[:16],
    ]
    log = out / f"{a.workload}-seed{a.seed}-trace{a.trace}.stderr"
    # a SIGTERM still stops the JVM and removes the run's files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = None
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=build.ROOT)
            try:
                stdout, _ = proc.communicate(timeout=DEADLINE_S)
            except subprocess.TimeoutExpired:
                print(f"run exceeded {DEADLINE_S} s; stderr in {log}", file=sys.stderr)
                return 3
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in stdout.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    ok = (
        proc.returncode == 0
        and isinstance(result, dict)
        and set(result) == {"correct", "attempted", "failed", "metrics"}
    )
    if not ok:
        sys.stderr.write("\n".join(lines[-5:]) + "\n")
        print(f"run failed (exit {proc.returncode}); stderr in {log}", file=sys.stderr)
        return 4
    for l in lines:
        print(l)
    print(f"run took {time.monotonic() - started:.1f} s", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
