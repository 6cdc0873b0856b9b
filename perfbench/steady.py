"""Steadiness tool: repeat one workload with different seeds and report,
per metric, the median, the quartiles and the spread (interquartile
distance as a share of the median), as `statistics.quantiles(n=4)` gives
them.

    python3 perfbench/steady.py --workload lake --runs 10 --seconds 15

With `--bounds BENCHMARK.json` each end-to-end metric's spread is also
compared with a third of its bound.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
from run import last_json_line  # noqa: E402


def cpu_ticks():
    """(steal, total) CPU ticks of the host from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def summarize(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--seed-base", type=int, default=1)
    ap.add_argument("--bounds", help="BENCHMARK.json whose end_to_end bounds to check")
    args = ap.parse_args(argv)

    runs = []
    for i in range(args.runs):
        seed = args.seed_base + i
        t0 = cpu_ticks()
        proc = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", args.workload,
                               "--seed", str(seed), "--seconds", str(args.seconds),
                               "--trace", "0"],
                              stdout=subprocess.PIPE, text=True, cwd=HERE.parent)
        res = last_json_line(proc.stdout[-2000:]) if proc.returncode == 0 else None
        if res is None:
            print(f"seed {seed}: run failed (exit {proc.returncode})", file=sys.stderr)
            return 1
        t1 = cpu_ticks()
        # time the hypervisor gave this VM's CPUs to others during the run
        steal = (t1[0] - t0[0]) / max(1, t1[1] - t0[1]) if t0 and t1 else float("nan")
        runs.append({"seed": seed, "steal": steal, **res})
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} "
              f"steal={steal:.1%} {vals}", flush=True)

    bounds = {}
    if args.bounds:
        spec = json.loads(Path(args.bounds).read_text())
        bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    print(f"\n{args.workload}: {len(runs)} runs, all correct: {all(r['correct'] for r in runs)}, "
          f"median CPU steal {statistics.median(r['steal'] for r in runs):.1%}")
    print(f"{'metric':<28}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}  check")
    steady = True
    for name in runs[0]["metrics"]:
        s = summarize([r["metrics"][name]["value"] for r in runs])
        note = ""
        if name in bounds:
            ok = s["spread"] <= bounds[name] / 3
            steady &= ok
            note = f"{'ok' if ok else 'WIDE'} (bound {bounds[name]})"
        print(f"{name:<28}{s['median']:>12.4g}{s['q1']:>12.4g}{s['q3']:>12.4g}"
              f"{s['spread']:>9.3f}  {note}")
    return 0 if steady else 4


if __name__ == "__main__":
    sys.exit(main())
