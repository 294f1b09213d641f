"""Repeat one workload over several seeds and report how steady it is.

From the repository root:

    python3 vdbbench/prove.py --workload vector_rw --seeds 1-10 --seconds 5
    python3 vdbbench/prove.py --workload vector_rw --seeds 11-20 --seconds 5 \\
        --against .vdbbench/prove/vector_rw-1-10.jsonl

Each seed is one untraced run of ``vdbbench/run.py``; its result line and
wall time are appended to ``.vdbbench/prove/<workload>-<seeds>.jsonl``.
For every end-to-end metric the tool prints the median over the seeds and
the spread (inter-quartile distance over the median) next to the metric's
bound in ``BENCHMARK.json``. With ``--against`` it also prints how much
worse each median is than the one in an earlier file, as a share of it.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from vdbbench import stats  # noqa: E402


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _worse(metric: dict, new: float, old: float) -> float:
    """How much worse ``new`` is than ``old``, as a share of ``old``."""
    change = (new - old) / old
    return change if metric["better"] == "lower" else -change


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--against", help="a results file of an earlier set")
    a = p.parse_args(argv)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    out = ROOT / ".vdbbench" / "prove" / f"{a.workload}-{a.seeds}.jsonl"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.unlink(missing_ok=True)
    for seed in _seeds(a.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, str(ROOT / "vdbbench" / "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds", str(a.seconds),
             "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if proc.returncode != 0:
            print(f"seed {seed}: exit code {proc.returncode}")
            return 1
        result = json.loads(proc.stdout.splitlines()[-1])
        result.update(seed=seed, run_s=time.perf_counter() - t0)
        with open(out, "a") as f:
            f.write(json.dumps(result) + "\n")
        print(f"seed {seed}: {result['run_s']:.1f} s, correct {result['correct']}, "
              f"{result['failed']}/{result['attempted']} failed", flush=True)
    rows = [json.loads(line) for line in open(out)]
    old = [json.loads(line) for line in open(a.against)] if a.against else None
    run_s = [r["run_s"] for r in rows]
    print(f"{a.workload}, seeds {a.seeds}: {sum(r['correct'] for r in rows)}/"
          f"{len(rows)} correct, run seconds median {stats.median(run_s):.1f} "
          f"max {max(run_s):.1f}; results in {out.relative_to(ROOT)}")
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in rows]
        med = stats.median(vals)
        line = (f"  {m['name']:<12} median {med:>12.6g}  spread "
                f"{stats.spread(vals):6.3f}  bound {m['bound']}")
        if old:
            was = stats.median(r["metrics"][m["name"]]["value"] for r in old)
            line += f"  worse than earlier set by {_worse(m, med, was):+.3f}"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
