"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source on first use (see
build.py), runs the workload in one JVM on local[nproc], and prints every
metric by name with its unit. The last line of standard output is the
result object: {"correct", "attempted", "failed", "metrics"}. The full
record (host, per-query details, output checks) is written under
.bench_build/results/; a traced run also writes its spans there and
reports its tracing overhead against the untraced runs of the same
workload and build found there."""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
BENCH = ROOT / "perfbench"
DATA = BENCH / "data" / "sf0.1"
RESULTS = build.BUILD / "results"
WORKLOADS = ["analytic_drain", "corpus_drain", "nightly_dag"]
JVM_TIMEOUT_S = 170
HEAP = "4g"


def fail(msg: str, code: int = 2) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def git_head() -> str:
    if not (ROOT / ".git").exists():
        return ""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return ""


def tracing_overhead(workload: str, tag: str, traced_wall: float) -> dict:
    """Traced wall minus the median untraced wall of the same workload and
    build among the records in RESULTS."""
    walls = []
    for p in RESULTS.glob(f"{workload}-*-t0-*.json"):
        if p.name.endswith(".spans.json"):
            continue
        try:
            rec = json.loads(p.read_text())
            if rec["host"]["source_digest"] == tag:
                walls.append(rec["end_to_end"]["wall_s"]["value"])
        except (OSError, ValueError, KeyError, TypeError):
            continue
    if not walls:
        return {"untraced_runs": 0, "overhead_s": None}
    base = statistics.median(walls)
    return {"untraced_runs": len(walls), "untraced_wall_s_median": base,
            "traced_wall_s": traced_wall, "overhead_s": traced_wall - base}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    for need in (DATA, BENCH / "partition", BENCH / "reference"):
        if not need.is_dir():
            fail(f"missing {need.relative_to(ROOT)}")
    try:
        classes, tag = build.build()
        cp = build.classpath(classes)
    except build.BuildError as e:
        fail(f"build failed: {e}")

    stamp = time.strftime("%Y%m%dT%H%M%S")
    work = build.BUILD / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    RESULTS.mkdir(parents=True, exist_ok=True)
    out = RESULTS / f"{a.workload}-s{a.seed}-t{a.trace}-{stamp}-{os.getpid()}"
    log = out.with_suffix(".log")
    env = dict(os.environ, PERFBENCH_GIT_HEAD=git_head(), PERFBENCH_SOURCE_DIGEST=tag,
               SPARK_SCALA_VERSION="2.13")
    cmd = (["java"] + build.jvm_share_flags(classes) + build.ADD_OPENS +
           [f"-Xmx{HEAP}", "-Xss4m", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--data", str(DATA), "--bench", str(BENCH),
            "--work", str(work), "--out", str(out)])
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"workload exceeded {JVM_TIMEOUT_S} s; log: {log}", 3)
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"workload JVM exited with {proc.returncode}; log: {log}", 3)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        fail(f"workload printed no result line; log: {log}", 3)

    for l in lines[:-1]:
        print(l)
    if a.trace == "1":
        record_file = out.with_suffix(".json")
        record = json.loads(record_file.read_text())
        overhead = tracing_overhead(a.workload, tag, record["per_layer"]["trace.wall_s"]["value"])
        record["tracing_overhead"] = overhead
        record_file.write_text(json.dumps(record))
        print(f"{'tracing overhead':40s} {overhead['overhead_s']} s "
              f"(traced wall minus median of {overhead['untraced_runs']} untraced runs of this build)")
        print(f"{'spans':40s} {out.with_suffix('.spans.json').relative_to(ROOT)}")
    print(f"{'record':40s} {out.with_suffix('.json').relative_to(ROOT)}")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
