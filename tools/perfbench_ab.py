#!/usr/bin/env python3
"""Paired A/B of the perfbench benchmark: a base commit against the
working tree.

    python3 tools/perfbench_ab.py --base HEAD --workload company_reports \
        --pairs 10 [--seed-start 1] [--seconds 5] [--metric job_s] \
        [--trace-seeds N] [--scratch DIR] [--json OUT]

Run from the repository root. The base commit is exported with
`git archive` into `<scratch>/base-<sha>` (a plain tree: nothing is
registered in this repository's .git, so an interrupted run leaves
nothing to prune). Each side builds into its own directory
(`CARGO_TARGET_DIR`, which perfbench/run.py compiles into), so the two
class trees never share a cache. Pair i runs seed `seed-start + i` on
both sides, base first on even pairs and the working tree first on odd
ones, so drift in the host's speed falls on both sides alike.

Prints each side's median and quartiles for every end-to-end metric in
BENCHMARK.json, the failed-job counts, and for `--metric` the pairs the
working tree won (ties count for neither side). A gain is shown only
when the working tree wins at least nine tenths of the pairs and the
medians differ by more than the base's interquartile range.

Every end-to-end metric also gets a no-regression verdict, printed in
its row and written to `--json` under "verdicts". Its `bound` in
BENCHMARK.json is read as a fraction of the base median:
  worse       the working tree's median is worse than the base median
              by more than the bound;
  unresolved  the base runs' interquartile range is wider than the
              bound, so 'not worse' cannot be told from noise, unless
              every working-tree run beats every base run;
  no worse    everything else.

With `--trace-seeds N`, the untraced pairs are followed by one traced
run (`--trace 1`) per side on each of the first N seeds, in the same
alternating order, and each per-layer metric of BENCHMARK.json is
printed as both sides' medians: the layer evidence a speed-up claim
quotes.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile


def git(*args):
    return subprocess.run(["git", *args], check=True, stdout=subprocess.PIPE,
                          text=True).stdout.strip()


def export(sha, dest):
    """The commit's tree at `dest`, once."""
    done = os.path.join(dest, ".exported")
    if os.path.exists(done):
        return
    os.makedirs(dest, exist_ok=True)
    archive = subprocess.Popen(["git", "archive", sha], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"git archive {sha} failed")
    open(done, "w").close()


def run_once(root, build_dir, workload, seed, seconds, trace=0):
    env = dict(os.environ, CARGO_TARGET_DIR=build_dir)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=root, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(base, change, better, bound):
    """'worse', 'unresolved' or 'no worse' for one end-to-end metric
    (see the module docstring); a side without results is unresolved."""
    if not base or not change:
        return "unresolved"
    bq1, bmed, bq3 = quartiles(base)
    cmed = quartiles(change)[1]
    lower = better == "lower"
    if ((cmed - bmed) if lower else (bmed - cmed)) > bound * abs(bmed):
        return "worse"
    beats_all = max(change) < min(base) if lower else min(change) > max(base)
    if bq3 - bq1 > bound * abs(bmed) and not beats_all:
        return "unresolved"
    return "no worse"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="commit to compare against (e.g. HEAD)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed-start", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--metric", default="job_s", help="the metric a gain is claimed on")
    ap.add_argument("--trace-seeds", type=int, default=0,
                    help="traced runs per side on this many seeds, for per-layer medians")
    ap.add_argument("--scratch", default=os.path.join(tempfile.gettempdir(), "perfbench_ab"))
    ap.add_argument("--json", help="also write every run's result here")
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    layers = [m["name"] for m in bench["per_layer"]]
    if a.metric not in better:
        sys.exit(f"--metric {a.metric} is not an end-to-end metric of BENCHMARK.json")
    sha = git("rev-parse", a.base)
    scratch = os.path.abspath(a.scratch)
    base_root = os.path.join(scratch, "base-" + sha[:12])
    export(sha, base_root)
    sides = {"base": (base_root, os.path.join(scratch, "build-base")),
             "change": (root, os.path.join(scratch, "build-change"))}

    runs = {"base": [], "change": []}
    for i in range(a.pairs):
        seed = a.seed_start + i
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            res = run_once(*sides[side], a.workload, seed, a.seconds)
            runs[side].append(res)
            shown = res["metrics"][a.metric]["value"] if res else "run failed"
            print(f"pair {i + 1} seed {seed} {side}: {a.metric} = {shown}", flush=True)

    traced = {"base": [], "change": []}
    for i in range(a.trace_seeds):
        seed = a.seed_start + i
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            res = run_once(*sides[side], a.workload, seed, a.seconds, trace=1)
            traced[side].append(res)
            print(f"traced seed {seed} {side}: {'done' if res else 'run failed'}", flush=True)

    print(f"\n{a.workload}: base {sha[:12]} vs working tree, {a.pairs} pairs")
    print(f"{'metric':<16}{'base q1 / median / q3':>34}{'change q1 / median / q3':>34}"
          f"{'bound':>7}  verdict")
    verdicts = {}
    for m in better:
        cols, vals = [], []
        for side in ("base", "change"):
            xs = [r["metrics"][m]["value"] for r in runs[side] if r and m in r["metrics"]]
            vals.append(xs)
            cols.append("/".join(f"{v:.4g}" for v in quartiles(xs)) if xs else "-")
        verdicts[m] = verdict(*vals, better[m], bounds[m])
        print(f"{m:<16}{cols[0]:>34}{cols[1]:>34}{bounds[m]:>7.2f}  {verdicts[m]}")
    for side in ("base", "change"):
        failed = sum(r["failed"] if r else 1 for r in runs[side])
        print(f"failed jobs ({side}): {failed}")

    if a.trace_seeds:
        print(f"\nper-layer medians over {a.trace_seeds} traced seed(s)")
        print(f"{'layer metric':<28}{'base':>14}{'change':>14}{'change/base':>13}")
        for m in layers:
            meds = []
            for side in ("base", "change"):
                xs = [r["metrics"][m]["value"] for r in traced[side] if r and m in r["metrics"]]
                meds.append(statistics.median(xs) if xs else None)
            if meds == [None, None]:
                continue
            shown = [f"{v:.4g}" if v is not None else "-" for v in meds]
            ratio = f"{meds[1] / meds[0]:.3f}" if None not in meds and meds[0] else "-"
            print(f"{m:<28}{shown[0]:>14}{shown[1]:>14}{ratio:>13}")

    if not all(any(runs[side]) for side in runs):
        sys.exit("a side produced no result; see the stderr above")
    lower = better[a.metric] == "lower"
    wins = ties = 0
    for b, c in zip(runs["base"], runs["change"]):
        if not (b and c):
            continue
        bv, cv = b["metrics"][a.metric]["value"], c["metrics"][a.metric]["value"]
        if bv == cv:
            ties += 1
        elif (cv < bv) == lower:
            wins += 1
    bq1, bmed, bq3 = quartiles([r["metrics"][a.metric]["value"] for r in runs["base"] if r])
    cmed = quartiles([r["metrics"][a.metric]["value"] for r in runs["change"] if r])[1]
    gain = (cmed < bmed) == lower and abs(cmed - bmed) > bq3 - bq1
    shown = wins >= 0.9 * a.pairs and gain
    print(f"{a.metric}: working tree wins {wins}/{a.pairs} pairs ({ties} ties); "
          f"median {bmed:.4g} -> {cmed:.4g} ({(cmed - bmed) / bmed:+.1%} of base), "
          f"base IQR {bq3 - bq1:.4g}: gain {'shown' if shown else 'NOT shown'}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"base": sha, "workload": a.workload, "verdicts": verdicts,
                       "runs": runs, "traced": traced}, f, indent=1)


if __name__ == "__main__":
    main()
