#!/usr/bin/env python3
"""Interleaved two-HEAD bench adjudicator (round-15 ask #1b).

The r14 record published common-93 at +29% vs r13 and only a judge-run
A/B — rebuild the r13 HEAD, re-run the identical harness on the same
machine minutes apart — could prove the code flat (+1.2%): the machine
itself had drifted ~22% between the two rounds' records. This tool puts
that adjudication in the protocol: when a round's common-N drifts >10%
from the rolling record, run

    python3 tools/bench_ab.py <baseline-ref> [--sf /root/testdata/sf0.1]
                              [--reps 2] [--cpus 32]

and it will
  1. check the baseline ref out into a git worktree (its own target/),
  2. build both HEADs,
  3. run the two Bench harnesses INTERLEAVED (A B B A ... — the
     mirrored order cancels slow monotonic machine drift within the
     session, the interleaving cancels fast drift),
  4. compare the per-side medians over the COMMON query set (q* keys
     present and >= 0 on both sides — new/renamed queries drop out),
  5. normalize by the calibration probes when both sides publish them
     (HEADs >= r15 carry "calib" in every record; for older baselines
     the interleaving itself is the control), and
  6. print a verdict: CODE-FLAT (common-N ratio within the noise band
     after calibration) or CODE-REGRESSION (the delta survives the
     machine control).

Exit code 0 = flat, 2 = regression (|delta| > --flat-band after
normalization), 1 = usage/infra error. The verdict JSON goes to stdout
(last line) for the round notes.

Perfbench mode A/Bs one workload of the benchmark in BENCHMARK.json:

    python3 tools/bench_ab.py <baseline-ref> --perfbench <workload>
                              [--pairs 10] [--seed0 21] [--workdir DIR]

It exports the baseline ref's committed files (`git archive`) and a copy
of the working tree's files (tracked and untracked, not ignored) into two
new directories under --workdir, so each side builds in its own fresh
target/ (copying a built checkout's target/ breaks the other tree's
incremental compiler state). Both sides are built first, then pair i runs
`perfbench/run.py --seed <seed0 + i>` (untraced, BENCHMARK.json's
run_seconds) once per side, alternating which side runs first. For every
end-to-end metric of BENCHMARK.json it prints each side's median and quartiles, the change's win
fraction over the pairs (ties count for neither side) and whether the
gain rule holds: wins >= 9/10 of the pairs and a median difference larger
than the baseline's interquartile spread. The last stdout line is JSON.
Exit code 0, or 1 on a build or run failure.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(cmd, cwd, env=None, capture=False):
    e = dict(os.environ)
    if env:
        e.update(env)
    r = subprocess.run(cmd, cwd=cwd, env=e,
                       stdout=subprocess.PIPE if capture else None,
                       stderr=subprocess.STDOUT if capture else None,
                       text=True)
    if r.returncode != 0:
        out = (r.stdout or "")[-4000:] if capture else ""
        raise RuntimeError(f"command failed ({r.returncode}): {' '.join(cmd)}\n{out}")
    return r.stdout if capture else None


def bench_once(workdir, sf_dir, cpus):
    """One Bench run; returns the parsed detail JSON (first metric line)."""
    out = run(["sbt", "-batch", "runMain graft.Bench"], cwd=workdir,
              env={"SPARK_GRAFT_SF_DIR": sf_dir, "SPARK_GRAFT_CPUS": str(cpus)},
              capture=True)
    for line in out.splitlines():
        line = line.strip()
        # forked run output is prefixed "[info] " by sbt
        m = re.search(r'(\{"metric".*\})\s*$', line)
        if m:
            return json.loads(m.group(1))
    raise RuntimeError(f"no metric line in Bench output from {workdir}:\n{out[-3000:]}")


def common_total(runs_a, runs_b):
    """Median per-side sum over the query keys valid in EVERY run."""
    def qkeys(r):
        return {k for k, v in r["queries"].items()
                if k.startswith("q") and isinstance(v, (int, float)) and v >= 0}
    common = set.intersection(*(qkeys(r) for r in runs_a + runs_b))
    sums_a = [sum(r["queries"][k] for k in common) for r in runs_a]
    sums_b = [sum(r["queries"][k] for k in common) for r in runs_b]
    return sorted(common), statistics.median(sums_a), statistics.median(sums_b), sums_a, sums_b


def calib_of(runs):
    """Median of each calib key across a side's runs ({} pre-r15)."""
    keys = set()
    for r in runs:
        keys |= set(r.get("calib", {}).keys())
    return {k: statistics.median([r["calib"][k] for r in runs if k in r.get("calib", {})])
            for k in sorted(keys)}


def snapshot_ref(ref, dst):
    """Export `ref`'s committed files into the new directory `dst`."""
    os.makedirs(dst)
    git = subprocess.Popen(["git", "archive", ref], cwd=REPO, stdout=subprocess.PIPE)
    tar = subprocess.run(["tar", "-x", "-C", dst], stdin=git.stdout)
    git.stdout.close()
    if git.wait() != 0 or tar.returncode != 0:
        raise RuntimeError(f"could not export {ref} into {dst}")


def snapshot_worktree(dst):
    """Copy the working tree's tracked and untracked, not ignored, files
    into the new directory `dst`."""
    out = subprocess.run(["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
                         cwd=REPO, stdout=subprocess.PIPE, check=True).stdout
    for rel in filter(None, out.decode().split("\0")):
        src = os.path.join(REPO, rel)
        if os.path.isfile(src):  # a tracked file deleted in the tree is skipped
            os.makedirs(os.path.dirname(os.path.join(dst, rel)), exist_ok=True)
            shutil.copy2(src, os.path.join(dst, rel))


def quartiles(vals):
    """(q1, median, q3) of a sample."""
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return q1, q2, q3


def metric_value(res, name):
    """A perfbench metric's number ({"value", "unit"} objects), or None."""
    v = res["metrics"].get(name)
    return v["value"] if isinstance(v, dict) else v


def perfbench_ab(args):
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    names = list(better)
    work = args.workdir or os.path.join("/tmp", "bench_ab_perfbench")
    shutil.rmtree(work, ignore_errors=True)
    trees = {"base": os.path.join(work, "base"), "head": os.path.join(work, "head")}
    snapshot_ref(args.baseline, trees["base"])
    snapshot_worktree(trees["head"])
    for side, tree in trees.items():
        print(f"[bench_ab] building {side} in {tree}", file=sys.stderr, flush=True)
        # perfbench/run.py's own build step, without a measured run
        run([sys.executable, "-c", "import os, sys; sys.path.insert(0, 'perfbench'); "
             "import run; os.makedirs(run.WORK, exist_ok=True); run.ensure_build()"],
            cwd=tree, capture=True)
    runs = {"base": [], "head": []}
    for i in range(args.pairs):
        seed = args.seed0 + i
        for side in (("base", "head") if i % 2 == 0 else ("head", "base")):
            out = run([sys.executable, "perfbench/run.py", "--workload", args.perfbench,
                       "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                       "--trace", "0"], cwd=trees[side], capture=True)
            # run.py's stderr is merged in; its result is the last JSON line
            res = json.loads(next(l for l in reversed(out.splitlines())
                                  if l.startswith("{") and '"metrics"' in l))
            runs[side].append(res)
            print(f"[bench_ab] pair {i + 1}/{args.pairs} seed {seed} {side}: " +
                  " ".join(f"{n}={metric_value(res, n)}" for n in names) +
                  f" failed={res['failed']}/{res['attempted']}", file=sys.stderr, flush=True)
    report = {"baseline_ref": args.baseline, "workload": args.perfbench,
              "pairs": args.pairs, "seeds": [args.seed0 + i for i in range(args.pairs)]}
    report.update(summarize(runs, names, better))
    print(json.dumps(report))
    if not args.keep_worktree:
        shutil.rmtree(work, ignore_errors=True)
    return 0


def summarize(runs, names, better):
    """Per-side failed ratio, and per metric each side's quartiles, the
    head's win fraction and the gain rule; prints one line per metric."""
    report = {"metrics": {}}
    for side in runs:
        att = sum(r["attempted"] for r in runs[side])
        report[f"{side}_failed_ratio"] = sum(r["failed"] for r in runs[side]) / att if att else None
    for n in names:
        pairs = [(metric_value(b, n), metric_value(h, n)) for b, h in zip(runs["base"], runs["head"])
                 if metric_value(b, n) is not None and metric_value(h, n) is not None]
        if not pairs:
            continue
        lower = better[n] == "lower"
        wins = sum(1 for b, h in pairs if (h < b if lower else h > b))
        bq, hq = quartiles([b for b, _ in pairs]), quartiles([h for _, h in pairs])
        gain = (hq[1] < bq[1]) == lower and abs(hq[1] - bq[1]) > bq[2] - bq[0]
        row = {"better": "lower" if lower else "higher",
               "base_q1_median_q3": [round(x, 4) for x in bq],
               "head_q1_median_q3": [round(x, 4) for x in hq],
               "median_change_pct": round(100 * (hq[1] - bq[1]) / bq[1], 2) if bq[1] else None,
               "head_win_fraction": round(wins / len(pairs), 3),
               "gain_rule_holds": bool(gain and wins >= 0.9 * len(pairs))}
        report["metrics"][n] = row
        print(f"{n:32s} base {bq[1]:.4f} [{bq[0]:.4f}, {bq[2]:.4f}]  "
              f"head {hq[1]:.4f} [{hq[0]:.4f}, {hq[2]:.4f}]  "
              f"head wins {wins}/{len(pairs)}  gain rule: {row['gain_rule_holds']}")
    return report


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("baseline", help="git ref of the previous round's HEAD")
    ap.add_argument("--perfbench", metavar="WORKLOAD",
                    help="A/B one perfbench workload instead of the Bench harness")
    ap.add_argument("--pairs", type=int, default=10, help="perfbench: interleaved pairs")
    ap.add_argument("--seed0", type=int, default=1, help="perfbench: seed of the first pair")
    ap.add_argument("--workdir", help="perfbench: where the two snapshots go")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=2, help="runs per side")
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--flat-band", type=float, default=0.05,
                    help="|normalized delta| below this = code flat")
    ap.add_argument("--keep-worktree", action="store_true",
                    help="keep the baseline worktree (perfbench: both snapshots)")
    args = ap.parse_args()
    if args.perfbench:
        try:
            return perfbench_ab(args)
        except RuntimeError as e:
            print(f"[bench_ab] {e}", file=sys.stderr)
            return 1

    wt = os.path.join("/tmp", f"bench_ab_{re.sub(r'[^A-Za-z0-9._-]', '_', args.baseline)}")
    if os.path.exists(wt):
        run(["git", "worktree", "remove", "--force", wt], cwd=REPO)
    run(["git", "worktree", "add", "--detach", wt, args.baseline], cwd=REPO)
    try:
        print(f"[bench_ab] building HEAD ({REPO}) and baseline {args.baseline} ({wt})",
              flush=True)
        run(["sbt", "-batch", "compile"], cwd=REPO, capture=True)
        run(["sbt", "-batch", "compile"], cwd=wt, capture=True)

        runs_a, runs_b = [], []  # a = HEAD, b = baseline
        # mirrored interleave: A B B A A B B A ... cancels linear drift
        order = []
        for i in range(args.reps):
            order += (["a", "b"] if i % 2 == 0 else ["b", "a"])
        for side in order:
            workdir = REPO if side == "a" else wt
            print(f"[bench_ab] running Bench in {'HEAD' if side == 'a' else 'baseline'}",
                  flush=True)
            r = bench_once(workdir, args.sf, args.cpus)
            (runs_a if side == "a" else runs_b).append(r)

        common, med_a, med_b, sums_a, sums_b = common_total(runs_a, runs_b)
        raw_delta = (med_a - med_b) / med_b if med_b > 0 else float("nan")
        cal_a, cal_b = calib_of(runs_a), calib_of(runs_b)
        # normalize by the spark-machinery probe when both sides carry it
        # (same machine + interleave means the ratio should be ~1; a
        # ratio far from 1 would itself flag an asymmetric environment)
        norm = 1.0
        if "spark_agg10m" in cal_a and "spark_agg10m" in cal_b and cal_b["spark_agg10m"] > 0:
            norm = cal_a["spark_agg10m"] / cal_b["spark_agg10m"]
        norm_delta = (med_a / norm - med_b) / med_b if med_b > 0 else float("nan")
        # sign matters: a HEAD that got FASTER than the baseline is an
        # improvement, not a regression — only a positive delta beyond
        # the band fails the gate. A NaN delta (broken/zero baseline
        # walls) is an invalid measurement, never a pass.
        import math
        verdict = ("CODE-INVALID" if math.isnan(norm_delta)
                   else "CODE-FLAT" if abs(norm_delta) <= args.flat_band
                   else "CODE-REGRESSION" if norm_delta > 0
                   else "CODE-IMPROVEMENT")
        result = {
            "baseline_ref": args.baseline,
            "sf": args.sf,
            "common_n": len(common),
            "head_common_sec": round(med_a, 3),
            "baseline_common_sec": round(med_b, 3),
            "head_runs_sec": [round(s, 3) for s in sums_a],
            "baseline_runs_sec": [round(s, 3) for s in sums_b],
            "raw_delta_pct": round(100 * raw_delta, 2),
            "calib_head": cal_a,
            "calib_baseline": cal_b,
            "calib_norm_ratio": round(norm, 4),
            "normalized_delta_pct": round(100 * norm_delta, 2),
            "verdict": verdict,
        }
        print(json.dumps(result))
        return 2 if verdict in ("CODE-REGRESSION", "CODE-INVALID") else 0
    finally:
        if not args.keep_worktree:
            run(["git", "worktree", "remove", "--force", wt], cwd=REPO)


if __name__ == "__main__":
    sys.exit(main())
