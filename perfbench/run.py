"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload pubsub --seed 1 --seconds 15 --trace 0

Builds the program from source on first use (see build.py), runs the
workload in one JVM on Spark `local[nproc]`, and prints one JSON object:
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`.
With `--trace 1` the metrics are the per-layer ones and the spans go to
`.bench_build/traces/<workload>-<seed>.jsonl`. The JVM's own output goes
to `.bench_build/logs/`, never to stdout, so the last stdout line is
always the result.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("pubsub", "lake", "curate")
RUN_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def last_json_line(text: str):
    """The last line of `text` that parses as a whole JSON object, or None
    (a reader that keeps only the tail of the output may cut the first)."""
    for line in reversed(text.splitlines()):
        line = line.strip()
        if line.startswith("{") and line.endswith("}"):
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if isinstance(obj, dict):
                return obj
    return None


def result_line(result: dict) -> str:
    return json.dumps(result, separators=(", ", ": "))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    jars = build.spark_jars()

    work = build.BUILD / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    logs = build.BUILD / "logs"
    logs.mkdir(exist_ok=True)
    log_path = logs / f"{args.workload}-{args.seed}-trace{args.trace}.log"
    out = work / "result.json"
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--out", str(out)])
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True, cwd=work)
            try:
                code = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                print(f"[perfbench] run exceeded {RUN_TIMEOUT_S}s; see {log_path}", file=sys.stderr)
                return 3
            finally:
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        if code != 0 or not out.exists():
            tail = log_path.read_text(errors="replace")[-3000:]
            print(f"[perfbench] run failed (exit {code}):\n{tail}", file=sys.stderr)
            return 1
        result = json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(result_line(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
