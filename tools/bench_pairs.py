#!/usr/bin/env python3
"""Same-session parent/change pairs of one benchmark workload.

    python3 tools/bench_pairs.py --parent <rev> --workload ingest_replay --pairs 10

Runs `perfbench/run.py --seconds 12 --trace 0` once on each side per pair:
the parent from a `git archive` copy of <rev> under the scratch directory
(reused while it exists), the change from this checkout's working tree.
Pair i uses seed --seed + i on both sides, and the side that runs first
alternates between pairs. Each side builds into its own .bench_build/.

Prints, per end-to-end metric of BENCHMARK.json, the parent's and the
change's q1/median/q3, how many pairs the change won and the median
change, then each side's correct/failed counts. Every run's result line
is appended to <scratch>/pairs-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parent_copy(rev, scratch):
    """A git archive copy of rev under scratch, extracted once per commit."""
    sha = subprocess.run(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    dest = scratch / f"parent-{sha[:12]}"
    if not (dest / "perfbench" / "run.py").exists():
        dest.mkdir(parents=True, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", str(dest)], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {sha} failed")
    return dest


def run(side_root, workload, seed, seconds):
    """One benchmark run; its result line, or a failed stand-in."""
    env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=side_root, env=env, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        if proc.returncode != 0:
            raise ValueError(f"exit {proc.returncode}")
        return json.loads(lines[-1])
    except (ValueError, IndexError) as e:
        sys.stderr.write(proc.stderr[-2000:])
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {}, "error": str(e)}


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="the parent revision")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--scratch", default=os.path.join(tempfile.gettempdir(), "bench_pairs"),
                    help="where the parent copy and the run log live")
    a = ap.parse_args()

    scratch = Path(a.scratch).resolve()
    sides = {"parent": parent_copy(a.parent, scratch), "change": ROOT}
    log = scratch / f"pairs-{a.workload}.jsonl"
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            res = run(sides[side], a.workload, a.seed + i, a.seconds)
            runs[side].append(res)
            with open(log, "a") as fh:
                fh.write(json.dumps({"pair": i, "side": side, "seed": a.seed + i, **res}) + "\n")
            values = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"[bench_pairs] pair {i + 1}/{a.pairs} {side}: correct={res['correct']} "
                  f"failed={res['failed']} {values}", file=sys.stderr, flush=True)

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    print(f"{a.workload}: {a.pairs} pairs, parent {a.parent} vs working tree")
    print(f"{'metric':<14} {'parent q1/med/q3':>33} {'change q1/med/q3':>33} {'won':>6} {'med':>8}")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                 for p, c in zip(runs["parent"], runs["change"])
                 if name in p["metrics"] and name in c["metrics"]]
        if not pairs:
            continue
        ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
        won = sum((c < p) if lower else (c > p) for p, c in pairs)
        qp, qc = quartiles(ps), quartiles(cs)
        delta = qc[1] / qp[1] - 1 if qp[1] else float("nan")
        print(f"{name:<14} {' / '.join(f'{x:.4g}' for x in qp):>33} "
              f"{' / '.join(f'{x:.4g}' for x in qc):>33} {won:>3}/{len(pairs):<2} {delta:>+8.1%}")
    for side in ("parent", "change"):
        rs = runs[side]
        print(f"{side}: {sum(r['correct'] for r in rs)}/{len(rs)} correct, "
              f"failed operations {sum(r['failed'] for r in rs)} of {sum(r['attempted'] for r in rs)}")


if __name__ == "__main__":
    main()
