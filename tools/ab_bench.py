"""A/B one perfbench workload between two git revisions.

    python tools/ab_bench.py BASE NEW --workload stream_ingest --seeds 11-20
        [--seconds 12] [--workdir DIR] [--log FILE]

Each revision is ``git archive``d into ``<workdir>/base/repo`` and
``<workdir>/new/repo`` (equal path depth, so path lengths cost both
sides the same). Every seed runs both sides back to back, alternating
which goes first, with ``perfbench/run.py --seconds N --trace 0``. For
each end-to-end metric of ``BENCHMARK.json`` it prints both sides'
values, median, quartiles and IQR, how many seeds the new side won, and
the median gap against the base side's IQR. A run whose host readings
show ``external_cpu_cores`` above 0.5 is flagged: its figures are
contended.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONTENDED_CORES = 0.5


def parse_run(stdout: str) -> dict:
    """The figures of one ``run.py`` stdout: its last two lines are the
    info line and the result line."""
    info, result = (json.loads(x) for x in stdout.strip().splitlines()[-2:])
    return {
        "metrics": {k: m["value"] for k, m in result["metrics"].items()},
        "external_cpu_cores": info["noise_controls"]["external_cpu_cores"],
        "correct": result["correct"],
        "failed": result["failed"],
    }


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[tuple[int, dict, dict]], metrics: list[dict]) -> list[str]:
    """Report lines for ``pairs`` of ``(seed, base_run, new_run)`` over
    ``metrics`` (``BENCHMARK.json`` entries: name, better)."""
    lines = []
    for seed, base, new in pairs:
        for side, run in (("base", base), ("new", new)):
            if run["external_cpu_cores"] > CONTENDED_CORES:
                lines.append(
                    f"! seed {seed} {side}: external_cpu_cores "
                    f"{run['external_cpu_cores']:.2f} > {CONTENDED_CORES}"
                )
            if run["failed"] or not run["correct"]:
                lines.append(f"! seed {seed} {side}: {run['failed']} failed, correct={run['correct']}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        lines.append(f"{name} ({m['better']} is better)")
        stats = {}
        for side in ("base", "new"):
            xs = [p[1 if side == "base" else 2]["metrics"][name] for p in pairs]
            q1, med, q3 = quartiles(xs)
            stats[side] = (med, q3 - q1)
            lines.append(
                f"  {side:4} " + " ".join(f"{x:.4g}" for x in xs)
                + f" | median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} IQR {q3 - q1:.4g}"
            )
        wins = sum(
            (n["metrics"][name] < b["metrics"][name])
            if lower
            else (n["metrics"][name] > b["metrics"][name])
            for _s, b, n in pairs
        )
        (bmed, biqr), (nmed, _) = stats["base"], stats["new"]
        change = (nmed - bmed) / bmed * 100 if bmed else float("nan")
        lines.append(
            f"  new wins {wins}/{len(pairs)}; median {change:+.1f}%; "
            f"|gap| {abs(nmed - bmed):.4g} vs base IQR {biqr:.4g}"
        )
    return lines


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def checkout(rev: str, dest: str) -> None:
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.run(
        ["git", "-C", ROOT, "archive", rev], check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_side(tree: str, workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, check=True, capture_output=True, text=True,
    ).stdout
    return parse_run(out)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("base")
    p.add_argument("new")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seeds_arg, required=True)
    p.add_argument("--seconds", type=int, default=12)
    p.add_argument("--workdir", default=os.path.join(ROOT, ".ab_bench"))
    p.add_argument("--log", help="append each run as a JSON line")
    args = p.parse_args(argv)
    trees = {s: os.path.join(args.workdir, s, "repo") for s in ("base", "new")}
    for side, rev in (("base", args.base), ("new", args.new)):
        checkout(rev, trees[side])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    pairs = []
    for i, seed in enumerate(args.seeds):
        order = ("base", "new") if i % 2 == 0 else ("new", "base")
        runs = {}
        for side in order:
            runs[side] = run_side(trees[side], args.workload, seed, args.seconds)
            if args.log:
                with open(args.log, "a") as fh:
                    fh.write(json.dumps({"seed": seed, "side": side, **runs[side]}) + "\n")
        pairs.append((seed, runs["base"], runs["new"]))
        print(f"seed {seed} done ({'/'.join(order)})", file=sys.stderr, flush=True)
    print("\n".join(summarize(pairs, metrics)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
