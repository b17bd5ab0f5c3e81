"""Seeded end-to-end benchmark of pitfeat's public functions.

    python3 perfbench/run.py --workload pit_build --seed 1 --seconds 10 --trace 0

Runs one workload (see BENCHMARK.json) on ``local[<cpus>]`` through the
session users get from ``pitfeat.session.get_spark``, from the root of a
checkout. Inputs are generated from ``--seed`` in a session of their own
and cached under ``perfbench/.work``. Set-up is what a user's first job
costs: a fresh JVM from ``get_spark``, Python worker warm-up and the first,
untimed repetition. Then ``--seconds`` / ``rep_s`` timed
repetitions run, ``rep_s`` being the workload's nominal warm repetition on 4
cores. Each re-reads its inputs from files and writes its complete result,
and every result is checked against an independent oracle after the timed
region.

``--trace 1`` times half the repetitions untraced and half with a span per
layer, and reports the per-layer metrics instead of the end-to-end ones.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. The exit code is 1 when any
output check fails, and 2 when the program under test cannot be imported.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
MIN_REPS = 3
KEEP_INPUT_SETS = 12

GENERIC_LAYERS = (
    "ops.asof", "ops.windows", "ops.normalize", "ops.ewma",
    "ops.similarity", "ops.dedup", "ops.text",
)
GENERIC = {
    "wall_s": "s", "call_s": "s", "task_s": "s", "cpu_s": "s", "gc_s": "s",
    "idle_frac": "ratio", "shuffle_mb": "MB", "spill_mb": "MB", "tasks": "count",
    "failed_tasks": "count", "jobs": "count", "exchanges": "count", "sorts": "count",
    "python_nodes": "count", "rows_out": "rows",
}
# per-layer metric -> (layer, total key, unit)
SPECIFIC = {
    "io.read_s": ("io", "wall_s", "s"),
    "io.scan_tasks": ("io", "tasks", "count"),
    "checkpoint.wall_s": ("checkpoint", "wall_s", "s"),
    "checkpoint.task_s": ("checkpoint", "task_s", "s"),
    "checkpoint.bytes_written": ("checkpoint", "bytes_written", "bytes"),
    "checkpoint.jobs": ("checkpoint", "jobs", "count"),
    "ops.vectors.wall_s": ("ops.vectors", "wall_s", "s"),
    "ops.vectors.task_s": ("ops.vectors", "task_s", "s"),
}
COUNTERS = {
    "ops.asof.match_rate": "ratio",
    "ops.asof.leaks": "count",
    "ops.normalize.pruned_cols": "count",
    "ops.similarity.recall_at10": "ratio",
    "ops.dedup.pairs_recall": "ratio",
}


def isolate(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout and let the Spark
    Python workers import the program. Must run before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # no hsperfdata file: the JVM writes it under /tmp whatever tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    sys.path.insert(0, ROOT)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Session:
    def __init__(self, master: str):
        self.master = master
        self.spark = None

    def start(self) -> float:
        """Start the session; returns the seconds get_spark took."""
        from pitfeat.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=self.master)
        return time.perf_counter() - t0

    def warm_workers(self) -> None:
        n = self.spark.sparkContext.defaultParallelism
        self.spark.range(0, n, numPartitions=n).mapInPandas(lambda it: it, "id long").collect()

    def close(self) -> None:
        """Stop Spark and the JVM, and wait until every child has ended."""
        from pyspark import SparkContext

        from perfbench.trace import descendants

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 30
        while descendants() and time.time() < deadline:
            time.sleep(0.2)
        for pid in descendants():
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
        while descendants():
            time.sleep(0.1)


def prune_inputs(keep_dir: str) -> None:
    base = os.path.dirname(keep_dir)
    sets = sorted(
        (os.path.join(base, d) for d in os.listdir(base)),
        key=os.path.getmtime,
        reverse=True,
    )
    for d in sets[KEEP_INPUT_SETS:]:
        if d != keep_dir:
            shutil.rmtree(d, ignore_errors=True)


def run(args, run_dir: str) -> tuple[dict, int]:
    from perfbench import inputs
    from perfbench.trace import NullTracer, Tracer, TreeMemory
    from perfbench.workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    session = Session(f"local[{cpus}]")
    mem = TreeMemory().start() if args.trace else None
    reps: list[dict] = []  # one per attempted timed repetition
    rep_no = 0

    def one_rep(traced: bool) -> dict:
        nonlocal rep_no
        rep_no += 1
        out = os.path.join(run_dir, "reps", str(rep_no))
        session.spark.catalog.clearCache()
        tr = Tracer(session.spark, f"rep{rep_no}") if traced else NullTracer()
        t0 = time.perf_counter()
        try:
            res = wl.rep(session.spark, out, tr)
            res["job_s"] = time.perf_counter() - t0
        except Exception:
            traceback.print_exc()
            res = {"error": True, "job_s": time.perf_counter() - t0}
        res.update(out_dir=out, traced=traced, tracer=tr)
        return res

    try:
        in_dir = inputs.input_dir(WORK, args.workload, args.seed, args.size)
        if not inputs.cached(in_dir):
            # in a session of its own, so the set-up below starts cold
            session.start()
            t0 = time.perf_counter()
            inputs.ensure_inputs(session.spark, in_dir, args.workload, args.seed, args.size)
            log(f"inputs {time.perf_counter() - t0:.3f}")
            session.close()
        prune_inputs(in_dir)
        wl = WORKLOADS[args.workload](in_dir, args.seed)
        # set-up as a user meets it: a fresh JVM, the Python workers, and
        # the first repetition, which compiles the job's code
        t0 = time.perf_counter()
        start_s = session.start()
        session.warm_workers()
        t1 = time.perf_counter()
        warm = one_rep(False)
        setup_s = time.perf_counter() - t0
        shutil.rmtree(warm["out_dir"], ignore_errors=True)
        log(f"setup {setup_s:.3f}: start {start_s:.3f} workers {t1 - t0 - start_s:.3f} first rep {warm['job_s']:.3f}")

        # A fixed count, not a deadline: the JVM keeps warming up for many
        # repetitions, so a count set by the host's speed of the moment
        # would move the median along that curve and amplify host drift.
        n_reps = max(MIN_REPS, round(args.seconds / wl.rep_s))
        phases = [(False, max(2, n_reps // 2)), (True, max(2, n_reps - n_reps // 2))] if args.trace else [(False, n_reps)]
        for traced, n in phases:
            reps.extend(one_rep(traced) for _ in range(n))
        for r in reps:
            if r["traced"]:
                r["layers"] = r["tracer"].layer_totals()
                log("spans " + json.dumps([dataclasses.asdict(s) for s in r["tracer"].spans]))
        peak_mb = mem.stop() if mem else None

        t0 = time.perf_counter()
        wl.expect()
        for r in reps:
            fails = ["repetition raised"] if r.get("error") else []
            if not fails:
                try:
                    fails, r["hits"], r["total"] = wl.check(r)
                except Exception as e:
                    traceback.print_exc()
                    fails = [f"check raised {e!r}"]
            r["fails"] = fails
            for f in fails:
                log(f"rep {r['out_dir']}: {f}")
            shutil.rmtree(r["out_dir"], ignore_errors=True)
        log(f"checks {time.perf_counter() - t0:.3f}")
        log("job_s " + " ".join(f"{r['job_s']:.3f}{'t' if r['traced'] else ''}" for r in reps))

        failed = sum(bool(r["fails"]) for r in reps)
        ok = [r for r in reps if not r["fails"]]
        if args.trace:
            metrics = layer_metrics(ok, start_s, peak_mb, cpus)
        else:
            metrics = end_to_end(ok, setup_s, wl.rows_in)
        if args.context:
            log("context " + json.dumps(context(session.spark)))
    finally:
        if mem:
            mem.stop()
        session.close()
    result = {"correct": failed == 0, "attempted": len(reps), "failed": failed, "metrics": metrics}
    return result, 0 if failed == 0 else 1


def _m(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(ok: list[dict], setup_s: float, rows_in: int) -> dict:
    if not ok:
        return {}
    job_s = statistics.median(r["job_s"] for r in ok)
    return {
        "setup_s": _m(setup_s, "s"),
        "job_s": _m(job_s, "s"),
        "rows_per_s": _m(rows_in / job_s, "rows/s"),
        "oracle_recall": _m(statistics.median(r["hits"] / r["total"] for r in ok), "ratio"),
    }


def layer_metrics(ok: list[dict], start_s: float, peak_mb: float, cpus: int) -> dict:
    traced = [r for r in ok if r["traced"]]
    plain = [r for r in ok if not r["traced"]]
    if not traced or not plain:
        return {}
    per_rep = []
    for r in traced:
        lt = r["layers"]
        vals = {}
        for layer in GENERIC_LAYERS:
            t = lt.get(layer, {})
            for k, unit in GENERIC.items():
                if k == "idle_frac":
                    wall = t.get("wall_s", 0.0)
                    v = 1.0 - t.get("task_s", 0.0) / (wall * cpus) if wall else 0.0
                else:
                    v = t.get(k, 0)
                vals[f"{layer}.{k}"] = v
        for name, (layer, key, _) in SPECIFIC.items():
            vals[name] = lt.get(layer, {}).get(key, 0)
        counters = r.get("counters", {})
        for name in COUNTERS:
            vals[name] = counters.get(name, 0)
        vals["trace.coverage"] = sum(t["wall_s"] for t in lt.values()) / r["job_s"]
        per_rep.append(vals)
    units = {f"{l}.{k}": u for l in GENERIC_LAYERS for k, u in GENERIC.items()}
    units.update({k: v[2] for k, v in SPECIFIC.items()})
    units.update(COUNTERS)
    units["trace.coverage"] = "ratio"
    metrics = {k: _m(statistics.median(v[k] for v in per_rep), units[k]) for k in per_rep[0]}
    metrics["session.start_s"] = _m(start_s, "s")
    metrics["session.peak_rss_mb"] = _m(peak_mb, "MB")
    overhead = statistics.median(r["job_s"] for r in traced) / statistics.median(r["job_s"] for r in plain) - 1
    metrics["trace.overhead_frac"] = _m(overhead, "ratio")
    return metrics


def context(spark) -> dict:
    """Host readings for a recorded run: the repository's host-health probe
    and whether the session put Spark's local dirs on tmpfs."""
    from bench import host_probe

    local_dir = spark.conf.get("spark.local.dir", None) or ""
    return {
        "host_probe": host_probe(spark),
        "tmpfs_local_dir": local_dir.startswith("/dev/shm"),
        "cpus": len(os.sched_getaffinity(0)),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["pit_build", "asof_hotkey", "corpus_neardup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full", help="tiny: smoke-test inputs")
    ap.add_argument("--context", action="store_true", help="log host-probe readings to stderr")
    args = ap.parse_args(argv)

    run_dir = os.path.join(WORK, "runs", uuid.uuid4().hex[:12])
    isolate(run_dir)
    try:
        import pitfeat  # noqa: F401
        from jobs import build_features  # noqa: F401
    except ImportError as e:
        shutil.rmtree(run_dir, ignore_errors=True)
        log(f"cannot import the program under test from {ROOT}: {e}")
        return 2
    try:
        result, code = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
