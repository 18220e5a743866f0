"""A/B: the working tree against a parent commit, in alternating pairs.

    python3 perfbench/ab.py --claim query_mix:op_p50_s [--parent HEAD]

The parent's tree is exported with ``git archive`` into
``.perfbench/ab/<commit>`` (no worktree is registered) and this
benchmark's own files are copied over it, so both sides run the same
benchmark against different engine code. It runs 10 pairs of every
workload in ``BENCHMARK.json``; a pair runs one workload on both sides
with the same seed (1000 for the first pair, one more for each next),
parent first on even pairs and change first on odd ones. Results whose
stamps differ in anything but the code identity are refused.

For the claimed metric it prints each side's median and quartiles and
the pair verdict: claimed only if the change wins at least 9 of every 10
pairs (ties count for neither side) and the medians differ by more than
the parent's inter-quartile range. For every other end-to-end metric of
every workload it prints the bound check against ``BENCHMARK.json``:
``ok``, ``WORSE``, or ``unresolved`` where the parent's own spread is
wider than the bound. Exit code 0 means the claim holds and no metric is
worse than its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

PAIRS = 10
FIRST_SEED = 1000


def _git(*args: str) -> str:
    return subprocess.run(["git", *args], cwd=ROOT, capture_output=True, text=True,
                          check=True, timeout=120).stdout.strip()


def export_parent(rev: str) -> str:
    """The parent's files plus this benchmark, under ``.perfbench/ab``."""
    commit = _git("rev-parse", "--verify", f"{rev}^{{commit}}")
    tree = os.path.join(ROOT, ".perfbench", "ab", commit)
    if not os.path.isdir(tree):
        os.makedirs(tree)
        archive = subprocess.Popen(["git", "archive", commit], cwd=ROOT,
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tree], stdin=archive.stdout, check=True)
        archive.stdout.close()
        if archive.wait() != 0:
            shutil.rmtree(tree, ignore_errors=True)
            raise SystemExit(f"ab: git archive {commit} failed")
    # run.py stamps results with this: git inside the exported tree
    # would find the enclosing repository's HEAD instead.
    os.makedirs(os.path.join(tree, ".perfbench"), exist_ok=True)
    with open(os.path.join(tree, ".perfbench", "commit"), "w") as f:
        f.write(commit + "\n")
    bench_dir = os.path.join(tree, os.path.basename(HERE))
    shutil.rmtree(bench_dir, ignore_errors=True)
    shutil.copytree(HERE, bench_dir, ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tree)
    return tree


def run_side(tree: str, workload: str, seed: int, seconds: int) -> dict:
    """One untraced run in ``tree``; its metrics and stamp."""
    cmd = [sys.executable, os.path.join(os.path.basename(HERE), "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"ab: {' '.join(cmd)} in {tree} failed:\n{p.stderr[-2000:]}")
    result = json.loads(lines[-1])
    path = os.path.join(tree, ".perfbench", "results",
                        f"{workload}-seed{seed}-trace0.json")
    with open(path) as f:
        result["stamp"] = json.load(f)["stamp"]
    return result


def _fmt(values: list[float]) -> str:
    q1, med, q3 = stats.quartiles(values)
    return f"median={med:.6g} q1={q1:.6g} q3={q3:.6g} n={len(values)}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--claim", required=True,
                    help="workload:metric the change claims to improve")
    ap.add_argument("--parent", default="HEAD",
                    help="commit the working tree is compared against")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    workloads = [w["name"] for w in bench["workloads"]]
    claim_wl, _, claim_metric = args.claim.partition(":")
    if claim_wl not in workloads or claim_metric not in metrics:
        ap.error(f"--claim must be workload:metric with workload in {workloads} "
                 f"and metric in {sorted(metrics)}")

    parent = export_parent(args.parent)
    sides = {"parent": parent, "change": ROOT}
    samples = {(w, s): {m: [] for m in metrics} for w in workloads for s in sides}
    failed = 0
    for i in range(PAIRS):
        seed = FIRST_SEED + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for w in workloads:
            got = {s: run_side(sides[s], w, seed, bench["run_seconds"]) for s in order}
            bad = stats.stamp_mismatches(got["parent"]["stamp"], got["change"]["stamp"])
            if bad:
                raise SystemExit(f"ab: refusing to compare {w} seed {seed}: stamps "
                                 f"differ in {bad}")
            for s, r in got.items():
                failed += r["failed"]
                for m, v in r["metrics"].items():
                    samples[(w, s)][m].append(v["value"])
            print(f"pair {i + 1}/{PAIRS} {w} seed={seed} " + " ".join(
                f"{s}:{claim_metric}={got[s]['metrics'][claim_metric]['value']:.6g}"
                for s in order), flush=True)

    ok = failed == 0
    if failed:
        print(f"ab: {failed} failed operation(s); see the per-run output")
    for w in workloads:
        print(f"\n{w}")
        for m, spec in metrics.items():
            par, chg = samples[(w, "parent")][m], samples[(w, "change")][m]
            line = (f"  {m:<28} {spec['unit']:<6} parent {_fmt(par)} | "
                    f"change {_fmt(chg)}")
            if (w, m) == (claim_wl, claim_metric):
                v = stats.pair_verdict(par, chg, spec["better"])
                line += (f"\n    claim: wins {v['wins']} losses {v['losses']} ties "
                         f"{v['ties']} of {v['pairs']}; parent IQR "
                         f"{v['parent_iqr']:.6g} -> "
                         f"{'CLAIMED' if v['claimed'] else 'NOT CLAIMED'}")
                ok = ok and v["claimed"]
            else:
                verdict = stats.bound_verdict(par, chg, spec["better"], spec["bound"])
                line += f"  bound {spec['bound']:.0%}: {verdict}"
                ok = ok and verdict != "WORSE"
            print(line)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
