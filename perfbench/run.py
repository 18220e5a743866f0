"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Closed loop, one client: one process, one ``local[nproc]`` session,
operations back to back. Set-up is session start, seeded input
generation (with the numpy reference for ``ingest``), the oracle digests
for ``query_mix``, and a warm-up, each timed once: ``setup_s`` is one
sample per run. Input generation runs a second, untimed time to check
that the seed gives the same bytes. The run then measures
``ceil(--seconds / pass_s)`` whole passes of the workload, ``pass_s``
being the workload's nominal pass length, checks every operation's
output, and prints one line per metric (unit, sample count, median,
quartiles) followed by one JSON line. The pass count does not depend on
how fast this run goes: when it did (passes until ``--seconds`` had
elapsed), a fast host fitted a second, warmer pass into some runs and
not others, and the medians split in two.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs traced
passes and reports the per-layer metrics, including each layer's self
time and the tracing overhead: traced pass wall minus the median
untraced ``wall_s`` of earlier results in this checkout with the same
stamp and code (any seed; 0 when there are none). Its spans are written
to ``.perfbench/spans/``.

Every result is also written to ``.perfbench/results/`` with a stamp
(cpus, driver memory, shuffle partitions, seed, input sha256, code
identity) that ``perfbench/ab.py`` matches before comparing results.

The measurement runs in a child process. This process is the subreaper
of everything the child starts, and it returns only when every such
process has ended: the JVM outlives its Python driver by a few seconds,
and PySpark's worker daemon runs in a process group of its own.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import glob
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import stats  # noqa: E402
import tracing as tr  # noqa: E402

DRIVER_MEMORY = "2g"

#: Metric names, units and bounds live in BENCHMARK.json only.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = [(m["name"], m["unit"]) for m in _SPEC["end_to_end"]]
#: Per-layer times and counts are per pass, except ``plans.*`` (per
#: operation) and ``core.jobs_per_batch``.
PER_LAYER = [(m["name"], m["unit"]) for m in _SPEC["per_layer"]]

PER_OP = {"plans.build_s", "plans.analysis_s", "plans.optimization_s",
          "plans.physical_s", "plans.jobs", "plans.stages", "plans.tasks"}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _git_commit() -> str:
    """HEAD when ``ROOT`` is a repository's top level; else the commit
    ``perfbench/ab.py`` recorded when it exported this tree; else 'none'.
    An exported tree sits inside the repository it came from, so a bare
    ``git rev-parse HEAD`` there would name the wrong commit."""
    def git(*args: str) -> str:
        return subprocess.run(["git", *args], cwd=ROOT, capture_output=True,
                              text=True, timeout=30, check=True).stdout.strip()

    try:
        if os.path.realpath(git("rev-parse", "--show-toplevel")) == os.path.realpath(ROOT):
            return git("rev-parse", "HEAD")
    except (OSError, subprocess.SubprocessError):
        pass
    try:
        with open(os.path.join(WORK, "commit")) as f:
            return f.read().strip()
    except OSError:
        return "none"


def _code_identity() -> dict:
    commit = _git_commit()
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "mission_data_pipeline_spark", "**", "*.py"),
                             recursive=True))
    for p in files + [os.path.join(ROOT, "__spark_entry__.py")] + sorted(
        glob.glob(os.path.join(HERE, "*.py"))
    ):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return {"git_commit": commit, "source_sha256": h.hexdigest()}


def _session(work: str, cpus: int):
    from mission_data_pipeline_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.local.dir": f"{work}/spark-local",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _patch_lineage(tracer) -> None:
    """Route every lineage truncation through a traced span; operators
    import ``make_truncator`` at call time, so they pick this up."""
    from mission_data_pipeline_spark.operators import lineage

    original = lineage.make_truncator

    def make_truncator(checkpoint_dir):
        trunc = original(checkpoint_dir)

        def traced(df):
            with tracer.lineage_span():
                return trunc(df)

        return traced

    lineage.make_truncator = make_truncator


def _line(name: str, unit: str, s: dict, note: str = "") -> None:
    print(
        f"  {name:<28} {unit:<6} n={s['n']:<4} median={s['median']:.6g} "
        f"q1={s['q1']:.6g} q3={s['q3']:.6g}{note}"
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "mission_data_pipeline_spark")):
        print(f"perfbench: no engine source under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the engine too, whatever the cwd.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(WORK, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    tempfile.tempdir = None  # re-read TMPDIR
    # Every JVM, the spark-submit launcher included, keeps its temporary
    # and perf-data files inside the checkout.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    cpus = _cpus()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    wl = WORKLOADS[args.workload]()
    spark = None
    try:
        with tr.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = _session(work, cpus)
            start_s = time.perf_counter() - t0
            t = time.perf_counter()
            input_sha256 = wl.prepare(work, args.seed)["input_sha256"]
            prep_s = time.perf_counter() - t
            # Untimed: the same seed must write the same bytes again.
            if wl.prepare(work, args.seed)["input_sha256"] != input_sha256:
                raise RuntimeError("input generation is not deterministic")
            t = time.perf_counter()
            wl.warm_up(spark)
            warm_s = time.perf_counter() - t
            setup = [start_s + prep_s + warm_s]

            conf = spark.sparkContext.getConf()
            stamp = {
                "workload": args.workload,
                "seed": args.seed,
                "trace": args.trace,
                "cpus": cpus,
                "driver_memory": conf.get("spark.driver.memory"),
                "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
                "input_sha256": input_sha256,
                **_code_identity(),
            }
            tracer = None
            untraced: list[float] = []
            if args.trace:
                untraced = _untraced_walls(stamp)
                tracer = tr.Tracer(spark)
                _patch_lineage(tracer)
            passes = [wl.run_pass(spark, args.seed, k, tracer)
                      for k in range(1, max(1, math.ceil(args.seconds / wl.pass_s)) + 1)]
            scan_s = 0.0
            if tracer is not None:
                t = time.perf_counter()
                wl.scan_only(spark)
                scan_s = time.perf_counter() - t
            peak = max(rss.peak_bytes, rss.sample())
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    ops = [o for p in passes for o in p.ops]
    failed = sum(1 for o in ops if not o.ok)
    walls = [p.wall_s for p in passes]
    op_walls = [o.wall_s for p in passes for o in p.ops]
    tail = stats.tail_percentile(len(op_walls))
    summaries = {
        "setup_s": stats.summary(setup),
        "wall_s": stats.summary(walls),
        "op_p50_s": {**stats.summary(op_walls),
                     "median": stats.percentile(op_walls, 50)},
        "op_p90_s": {**stats.summary(op_walls),
                     "median": stats.percentile(op_walls, tail)},
        "items_per_s": stats.summary([p.items / p.wall_s for p in passes]),
        "stored_bytes_per_input_byte": stats.summary(
            [p.stored_bytes / wl.input_bytes for p in passes]),
        "peak_rss_mb": stats.summary([peak / 2**20]),
    }
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cpus={cpus} passes={len(passes)} ops={len(op_walls)} "
          f"failed={failed} ({wl.item_unit} per pass: {passes[0].items:g})")
    print(f"  error_rate {failed / max(1, len(ops)):.4f}")
    print(f"  setup parts: session {start_s:.2f} s, prepare {prep_s:.2f} s, "
          f"warm-up {warm_s:.2f} s")
    metrics: dict = {}
    if not args.trace:
        for name, unit in END_TO_END:
            note = f"  (p{tail:g} of op walls)" if name == "op_p90_s" else ""
            _line(name, unit, summaries[name], note)
            metrics[name] = {"value": summaries[name]["median"], "unit": unit}
    else:
        print(f"  untraced reference: {len(untraced)} result(s) with this stamp in "
              f"{WORK}/results" + ("" if untraced else
                                   "; run --trace 0 first to get the tracing overhead"))
        layer = _layer_metrics(wl, tracer, passes, untraced, scan_s)
        for name, unit in PER_LAYER:
            v = layer.get(name, 0.0)
            print(f"  {name:<28} {unit:<6} {v:.6g}")
            metrics[name] = {"value": v, "unit": unit}
        os.makedirs(f"{WORK}/spans", exist_ok=True)
        tracer.dump(f"{WORK}/spans/{args.workload}-seed{args.seed}-{os.getpid()}.json")
    os.makedirs(f"{WORK}/results", exist_ok=True)
    with open(f"{WORK}/results/{args.workload}-seed{args.seed}-trace{args.trace}.json",
              "w") as f:
        json.dump({"stamp": stamp, "summaries": summaries, "metrics": metrics,
                   "samples": {"setup_s": setup, "wall_s": walls, "op_s": op_walls,
                               "ops": [[o.name, o.wall_s, o.ok] for o in ops]}},
                  f, indent=1)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _layer_metrics(wl, tracer, passes, untraced, scan_s) -> dict:
    """Per-pass (or per-operation) values of the traced counters."""
    n_pass = len(passes)
    n_ops = sum(len(p.ops) for p in passes)
    c = tracer.counters
    out = {k: v / (n_ops if k in PER_OP else n_pass) for k, v in c.items()}
    selfs = dict.fromkeys(tr.LAYERS, 0.0)
    for p in passes:
        for o in p.ops:
            for layer, v in tr.self_times(o.span, tracer.spans).items():
                selfs[layer] += v
    for layer, v in selfs.items():
        out[f"self.{layer}_s"] = v / n_pass
    if wl.name == "ingest":
        # The packet scan is the pipeline's only Python node, and Spark
        # records no input rows or bytes for it.
        rows = out.get("functions.python_rows", 0.0)
        out["sources.input_rows"] = rows
        out["sources.input_bytes"] = rows / wl.input_rows * wl.input_bytes
        out["core.jobs_per_batch"] = c.get("plans.jobs", 0.0) / c.get("core.batches", 1)
        # Batch wall minus time in jobs: what no job span covers.
        out["core.driver_s"] = out["self.driver_s"] + out["self.core_s"]
    out["sources.scan_passes"] = out.get("sources.input_rows", 0.0) / wl.input_rows
    out["sources.scan_s"] = scan_s
    out["trace.wall_traced_s"] = stats.quartiles([p.wall_s for p in passes])[1]
    if untraced:
        out["trace.wall_untraced_s"] = stats.quartiles(untraced)[1]
        out["trace.overhead_s"] = out["trace.wall_traced_s"] - out["trace.wall_untraced_s"]
    return out


def _untraced_walls(stamp: dict) -> list[float]:
    """wall_s of the untraced results in this checkout measured with the
    same settings and code (seed and inputs may differ): the reference
    the tracing overhead is taken against."""
    walls = []
    for path in glob.glob(f"{WORK}/results/{stamp['workload']}-seed*-trace0.json"):
        with open(path) as f:
            rec = json.load(f)
        other = {**rec["stamp"], "seed": stamp["seed"], "trace": stamp["trace"],
                 "input_sha256": stamp["input_sha256"]}
        if not stats.stamp_mismatches(stamp, other, same_code=True):
            walls.append(rec["summaries"]["wall_s"]["median"])
    return walls


_MEASURE_ENV = "PERFBENCH_MEASURE"
_PR_SET_CHILD_SUBREAPER = 36
#: How long the JVM gets to exit on its own once its driver has ended.
_EXIT_GRACE_S = 30.0


def supervise() -> int:
    """Run ``main`` in a child process; on every way out, wait until the
    child and all its descendants have ended, killing those that outlive
    the grace period. Returns the child's exit code."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")

    def interrupted(signum, _frame):
        raise SystemExit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, interrupted)
    code, grace = 1, 5.0
    child = None
    try:
        child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *sys.argv[1:]],
                                 env={**os.environ, _MEASURE_ENV: "1"})
        code = child.wait()
        code = code if code >= 0 else 128 - code
        grace = _EXIT_GRACE_S
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, signal.SIG_IGN)
        if child is not None and child.poll() is None:
            child.terminate()
        _reap_descendants(grace)
    return code


def _reap_descendants(grace_s: float) -> None:
    """Reap every descendant; orphans are re-parented to this process, so
    waiting until it has no children left waits for all of them."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() >= deadline:
            for p in tr.process_children().get(os.getpid(), []):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


if __name__ == "__main__":
    sys.exit(main() if os.environ.get(_MEASURE_ENV) else supervise())
