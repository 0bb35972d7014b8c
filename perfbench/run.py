"""Outside-in benchmark of the RAG engine: chat turns and change-feed
freshness, both set up by the bulk ingest-and-vectorize flow.

    python3 perfbench/run.py --workload chat|feed --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds the engine and the benchmark from
source (see build.py) into $CARGO_TARGET_DIR, or .bench_build when that
is unset, then runs one measurement in a fresh work directory there.
The last line of standard output is the result object
({"correct", "attempted", "failed", "metrics"}); the line before it
records the environment (cpus, start load average, not-idle flag).
A traced run (--trace 1) also keeps its spans and layer table in
<build dir>/perfbench/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_LIMIT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["chat", "feed"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    jar, archive = build.build(build_dir)
    base = os.path.join(build_dir, "perfbench")
    work = os.path.join(base, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    cmd = build.java_cmd(jar, work, archive) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work]
    # a terminated run still stops its JVM: SystemExit runs the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: run exceeded %d s" % RUN_LIMIT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        trace = os.path.join(work, "trace.json")
        if os.path.exists(trace):
            keep = os.path.join(base, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(trace, os.path.join(keep, "%s-seed%d.json" % (a.workload, a.seed)))
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.exit("perfbench: run failed with exit code %d" % proc.returncode)
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        sys.exit("perfbench: malformed result line")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
