#!/usr/bin/env python3
"""Alternating A/B of two commits on one perfbench workload.

    python3 tools/perf_ab.py SCRATCH --workload sync_refresh --seeds 9401-9410 \
        [--base HEAD~1] [--head HEAD] [--trace 0]

Clones the repository twice under SCRATCH (SCRATCH/base, SCRATCH/head),
checks out --base and --head, and runs

    python3 perfbench/run.py --workload W --seed S --seconds T --trace 0|1

with T the `run_seconds` of BENCHMARK.json, once per seed on each side,
alternating which side goes first (the first pair runs base first).
--head WORKTREE measures the uncommitted working tree: a clone of HEAD
with every tracked or unignored file of the working tree copied over it. Build output (target/) is never copied between
checkouts: sbt/zinc's analysis holds absolute paths, and a copied target/
lets one checkout's build delete the other's classes. Each side builds
itself on its first run.

Prints one JSON line per metric of the workload's result line: each
side's median, quartiles and runs, how many pairs each side won (by
the metric's `better` direction in BENCHMARK.json; ties count for
neither; a pair counts only when both of its runs succeeded) and how many
of its runs failed. Every run's full result line is appended to
SCRATCH/runs.jsonl; a failed run (non-zero exit or no result line) is
appended as {"side", "seed", "run_failed": true, "exit"} (a result line's
own "failed" counts failed operations) and the A/B carries on. Exits 1
after the summary if any run failed.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def git(*args, cwd=ROOT):
    return subprocess.run(["git", *args], cwd=cwd, check=True, capture_output=True,
                          text=True).stdout


def checkout(dest, rev):
    """A fresh clone of the repository at `rev` (or the working tree)."""
    if dest.exists():
        shutil.rmtree(dest)
    subprocess.run(["git", "clone", "-q", "--no-hardlinks", str(ROOT), str(dest)], check=True)
    if rev != "WORKTREE":
        git("checkout", "-q", git("rev-parse", rev).strip(), cwd=dest)
        return
    listed = git("ls-files", "-z", "--cached", "--others", "--exclude-standard")
    for name in filter(None, listed.split("\0")):
        src, dst = ROOT / name, dest / name
        if src.is_file():
            dst.parent.mkdir(parents=True, exist_ok=True)
            shutil.copy2(src, dst)
        elif dst.exists():  # tracked but deleted in the working tree
            dst.unlink()


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(side_dir, a, seconds, seed, log):
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(a.trace)]
    p = subprocess.run(cmd, cwd=side_dir, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    if result is None:
        sys.stderr.write(p.stderr[-3000:])
        sys.stderr.write(f"perf_ab: {side_dir.name} seed {seed} failed (exit {p.returncode})\n")
    record = result or {"run_failed": True, "exit": p.returncode}
    log.write(json.dumps({"side": side_dir.name, "seed": seed, **record}) + "\n")
    log.flush()
    return result


def summary(xs):
    if not xs:
        return {"median": None, "q1": None, "q3": None, "runs": xs}
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return {"median": med, "q1": q1, "q3": q3, "runs": xs}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("scratch", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 9401-9410 or 9401,9405")
    ap.add_argument("--base", default="HEAD~1")
    ap.add_argument("--head", default="HEAD")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    a.scratch.mkdir(parents=True, exist_ok=True)
    sides = {"base": a.scratch / "base", "head": a.scratch / "head"}
    checkout(sides["base"], a.base)
    checkout(sides["head"], a.head)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for k in ("end_to_end", "per_layer") for m in bench[k]}

    results = {"base": {}, "head": {}}  # side -> seed -> result line
    failed = {"base": 0, "head": 0}
    with open(a.scratch / "runs.jsonl", "a") as log:
        for i, seed in enumerate(seeds(a.seeds)):
            order = ("base", "head") if i % 2 == 0 else ("head", "base")
            for side in order:
                r = run(sides[side], a, bench["run_seconds"], seed, log)
                if r is None:
                    failed[side] += 1
                else:
                    results[side][seed] = r

    done = [r for rs in results.values() for r in rs.values()]
    correct = all(r["correct"] for r in done)
    names = dict.fromkeys(name for r in done for name in r["metrics"]) or [None]
    for name in names:
        xs = {s: {k: r["metrics"][name]["value"] for k, r in results[s].items()
                  if name in r["metrics"]} for s in results}
        sign = -1 if better.get(name, "lower") == "lower" else 1
        wins = {"base": 0, "head": 0}
        paired = [k for k in xs["base"] if k in xs["head"]]
        for k in paired:
            b, h = xs["base"][k], xs["head"][k]
            if b != h:
                wins["head" if sign * (h - b) > 0 else "base"] += 1
        print(json.dumps({"workload": a.workload, "metric": name, "better": better.get(name),
                          "pairs": len(paired), "all_correct": correct,
                          **{s: {**summary(list(xs[s].values())), "wins": wins[s],
                                 "failed": failed[s]} for s in results}}))
    if any(failed.values()):
        sys.exit(f"perf_ab: failed runs: base {failed['base']}, head {failed['head']}")


if __name__ == "__main__":
    main()
