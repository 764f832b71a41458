"""Run the benchmark over several seeds and summarize each metric's spread.

Usage, from the repository root:

    python3 perfbench/sweep.py --workload rmat_kernels --seeds 1-10 --seconds 10 \
        [--trace 0|1] [--out summary.json]

Each run is a separate ``perfbench/run.py`` process, one after another.
Per metric it reports the median, the quartiles (``statistics.quantiles(n=4)``)
and the spread: (Q3 - Q1) / median. Runs that fail or print no result are
listed under "errors".
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out")
    args = p.parse_args(argv)

    runs, errors, walls = [], [], []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, str(RUN), "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, capture_output=True, text=True)
        walls.append(time.perf_counter() - t0)
        lines = proc.stdout.strip().splitlines()
        try:
            result = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            errors.append({"seed": seed, "returncode": proc.returncode, "stderr": proc.stderr[-2000:]})
            continue
        result["seed"] = seed
        runs.append(result)
        print(f"seed {seed}: {walls[-1]:.1f} s, correct={result['correct']} failed={result['failed']}",
              file=sys.stderr)

    names = sorted({k for r in runs for k in r["metrics"]})
    summary = {
        "workload": args.workload,
        "seeds": args.seeds,
        "seconds": args.seconds,
        "trace": args.trace,
        "run_wall_s": summarize(walls),
        "all_correct": all(r["correct"] for r in runs) and not errors,
        "failed_ops": sum(r["failed"] for r in runs),
        "attempted_ops": sum(r["attempted"] for r in runs),
        "metrics": {
            n: {**summarize([r["metrics"][n]["value"] for r in runs if n in r["metrics"]]),
                "unit": next(r["metrics"][n]["unit"] for r in runs if n in r["metrics"])}
            for n in names
        },
        "runs": runs,
        "errors": errors,
    }
    text = json.dumps(summary, indent=1)
    if args.out:
        Path(args.out).write_text(text)
    for n in names:
        m = summary["metrics"][n]
        print(f"{n:32s} median {m['median']:.6g} {m['unit']:6s} spread {m['spread']:.3f}")
    print(f"run wall median {summary['run_wall_s']['median']:.1f} s; errors {len(errors)}")
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
