#!/usr/bin/env python3
"""KG-leg benchmark: pages -> written triples and concept triples.

Run from the repository root::

    python3 perfbench/run.py --workload kg_parity_300 --seed 0 --seconds 10 --trace 0

One process drives ``pipeline.run_pipeline`` on ``local[<cores>]``.  Set-up
starts Spark and warms it: the incremental workload builds its base store,
the parity workload makes a small run on pages outside every input set.
With ``--trace 0`` it then repeats full runs until ``--seconds`` have been
measured and prints the end-to-end metrics.  With ``--trace 1`` it makes
one run with every layer traced (see ``tracer.py``) and then one untraced
run, and prints the per-layer metrics and the tracing overhead (traced wall
minus untraced wall).  Every full run's triple set and concept-triple set
are fingerprinted and checked against the pinned fingerprints of the seed's
input set.  The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  The exit code is
0 only when every check passed.

Workloads, pinned fingerprints and the layer map are in ``spec.json``;
metric names, units and bounds in ``BENCHMARK.json``.  Scratch files go to
``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import contextlib
import fcntl
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import proctree  # noqa: E402
import tracer as tr  # noqa: E402

MEM_PREFIX = "/tmp/folkscope_mem_"  # storeless run_pipeline's output root
PRIME = 2**31 - 1


def load(path):
    with open(path) as f:
        return json.load(f)


def metric_units() -> dict:
    spec = load(os.path.join(ROOT, "BENCHMARK.json"))
    return {
        "e2e": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


# ---------------------------------------------------------------- host fit


def host_env(work: str, heap_share: float) -> dict:
    """Environment for an isolated run sized to this host: all scratch under
    ``work``, driver heap a share of MemTotal, executors able to import the
    program."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    heap_mb = max(1024, int(mem_kb / 1024 * heap_share))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    tempfile.tempdir = tmp
    return {
        "cpus": cpus,
        "heap_mb": heap_mb,
        "spark": {
            "spark.ui.showConsoleProgress": "false",
            # the per-layer numbers read every job of the traced run back
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    }


def redirect_mem_output(materialize, work: str):
    """Storeless run_pipeline writes its triples under a fixed /tmp path;
    point that at this run's own scratch directory instead."""
    write = materialize.write_triples

    def write_triples(triples, path, *args, **kwargs):
        if path.startswith(MEM_PREFIX):
            path = os.path.join(work, "mem", path[len(MEM_PREFIX):])
        return write(triples, path, *args, **kwargs)

    return tr.rebind(write, write_triples)


# ---------------------------------------------------------------- inputs


def write_pages(spark, synthetic, path: str, start: int, n: int, n_items: int):
    import pandas as pd
    from folkscope_spark.schemas import PAGES

    rows = [synthetic.page_row(start + i, n_items) for i in range(n)]
    spark.createDataFrame(pd.DataFrame(rows), schema=PAGES).write.parquet(path)


class _BaseBuilt(Exception):
    pass


def build_base(spark, root: str, pages_path: str, n_pages: int, n_items: int, opts):
    """Commit the base pages' assertions with run_pipeline itself, stopping
    it when it reaches scoring."""
    from folkscope_spark import pipeline, score

    def stop(*_a, **_k):
        raise _BaseBuilt

    undo = tr.rebind(score.score_assertions, stop)
    try:
        pipeline.run_pipeline(
            spark, root, n_pages=n_pages, n_items=n_items,
            pages=spark.read.parquet(pages_path), **opts,
        )
    except _BaseBuilt:
        pass
    else:
        raise RuntimeError("base run_pipeline did not reach scoring")
    finally:
        tr.restore(undo)


# ---------------------------------------------------------------- one run


def fingerprint(df, cols) -> list[int]:
    """Order-independent (rows, sum of xxhash64 mod 2^31-1) of ``cols``."""
    from pyspark.sql import functions as F

    h = F.pmod(F.xxhash64(*cols), F.lit(PRIME))
    r = df.agg(F.count("*").alias("n"), F.sum(h).alias("h")).first()
    return [int(r["n"]), int(r["h"] or 0)]


def tree_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def one_run(spark, pipeline, wl, pages_path, n_pages, n_items, store_dir, tracer=None):
    """One run_pipeline call until triples and concept triples are forced.
    Memory is sampled only when traced: the sampler's own CPU and /proc
    reads would otherwise count in the untraced, gated figures."""
    pages = spark.read.parquet(pages_path)
    cpu0 = proctree.cpu_seconds()
    with proctree.PeakPss() if tracer else contextlib.nullcontext() as mem:
        t0 = time.perf_counter()
        span = tracer.begin("run_pipeline", "pipeline") if tracer else None
        res = pipeline.run_pipeline(
            spark, store_dir, n_pages=n_pages, n_items=n_items, pages=pages,
            **wl["run_pipeline"],
        )
        fp = {
            "triples": fingerprint(res["triples"], ["subj", "pred", "obj"]),
            "concept_triples": fingerprint(
                res["concept_triples"], ["subj", "pred", "obj"]
            ),
        }
        if span:
            tracer.end(span)
        wall = time.perf_counter() - t0
    return {
        "wall": wall,
        "cpu": proctree.cpu_seconds() - cpu0,
        "pss": mem.peak if mem else None,
        "fp": fp,
        "res": res,
    }


def check(run: dict, wl: dict, expected: list) -> list[str]:
    """Problems with one run's output; ``expected`` holds the fingerprints
    it must equal (pinned, the first run in this process)."""
    errs = []
    fp = run["fp"]
    if fp["triples"][0] == 0 or fp["concept_triples"][0] == 0:
        errs.append(f"empty output {fp}")
    for want, where in expected:
        if fp != want:
            errs.append(f"fingerprint {fp} != {want} ({where})")
    if wl["store"]:
        c = run["res"]["counters"]
        if not c.get("assertions_reused_keys"):
            errs.append(f"the grown run reused no assertion keys: {c}")
    return errs


# ---------------------------------------------------------------- traced


def layer_metrics(sc, tracer, traced: dict, cpus: int) -> dict:
    res = traced["res"]
    walls = tracer.layer_walls()
    groups = tr.group_task_metrics(sc, [None] + tr.LAYERS[1:])
    groups["session"] = groups.pop(None)
    rows = dict(tracer.rows)
    rows["pipeline"] = traced["fp"]["concept_triples"][0]
    out = {}
    for layer in tr.LAYERS:
        g = groups[layer]
        out[f"{layer}.wall_s"] = walls[layer]
        out[f"{layer}.task_s"] = g["task_s"]
        out[f"{layer}.task_cpu_s"] = g["task_cpu_s"]
        out[f"{layer}.idle_core_s"] = walls[layer] * cpus - g["task_s"]
        out[f"{layer}.shuffle_write_mb"] = g["shuffle_write_mb"]
        out[f"{layer}.spill_mb"] = g["spill_mb"]
        out[f"{layer}.rows_out"] = rows[layer]
        out[f"{layer}.failed_tasks"] = g["failed_tasks"]
    kernels = res["kernel_timers"].seconds()
    for layer in ("parse", "match", "conceptualize"):
        out[f"{layer}.kernel_cpu_s"] = kernels.get(layer, {}).get("cpu", 0.0)

    def ratio(a, b):
        return a / b if b else 0.0

    sc.setJobGroup("post", "post")
    matched_sids = res["matched"].select("sid").distinct().count()
    forms = res["event_triples_src"].select("obj_text").distinct().count()
    c = res["counters"]
    reused = c.get("assertions_reused_keys", 0)
    out["parse.distinct_ratio"] = ratio(rows["parse"], rows["score"])
    out["match.hit_ratio"] = ratio(matched_sids, rows["parse"])
    out["canonicalize.merge_ratio"] = ratio(rows["canonicalize"], forms)
    out["generate.reused_key_ratio"] = ratio(
        reused, reused + c.get("assertions_generated_keys", 0)
    )
    out["snapshots.commit_s"] = tracer.span_seconds("SnapshotStore.commit")
    out["snapshots.bytes_written_mb"] = traced["store_delta"][0] / 1e6
    out["snapshots.files_written"] = traced["store_delta"][1]
    out["trace.wall_s"] = traced["wall"]
    out["trace.peak_pss_gb"] = traced["pss"] / 1e9
    return out


# ---------------------------------------------------------------- driver


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    tree = proctree.descendants()
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    proctree.reap(tree)


def input_set(spec, seed: int) -> int:
    """The input set a seed selects: every one has pinned fingerprints, and
    every page index it uses stays within the dates pandas can hold."""
    return seed % spec["input_sets"]


def benchmark(args, spec, work, host) -> dict:
    from folkscope_spark import materialize, pipeline, session, synthetic

    wl = spec["workloads"][args.workload]
    n_items = spec["n_items"]
    n_pages = args.pages or wl["pages"]
    n_warm = wl["warmup_pages"]
    index = input_set(spec, args.seed)
    start = index * spec["seed_stride"]
    key = f"{n_pages}:{n_items}:{index}"
    pins = spec["pinned_fingerprints"]
    expected = [(pins[key], "pinned")] if key in pins else []

    undo = redirect_mem_output(materialize, work)
    tracer = tr.Tracer()
    info: dict = {"cpus": host["cpus"], "heap_mb": host["heap_mb"], "input_set": index}
    runs: list[dict] = []
    errors: list[str] = []
    metrics: dict = {}

    span = tracer.begin("get_spark", "session")
    t = time.perf_counter()
    spark = session.get_spark(app="perfbench", extra=host["spark"])
    setup = time.perf_counter() - t
    tracer.end(span)
    sc = spark.sparkContext
    try:
        sc.setJobGroup("inputs", "inputs")
        t = time.perf_counter()
        paths = {name: os.path.join(work, name) for name in ("pages", "warm_pages", "base_pages")}
        write_pages(spark, synthetic, paths["pages"], start, n_pages, n_items)
        # the warm-up's pages lie outside every input set
        warm_start = spec["input_sets"] * spec["seed_stride"]
        if n_warm:
            write_pages(spark, synthetic, paths["warm_pages"], warm_start, n_warm, n_items)
        n_base = n_pages * wl.get("base_pages", 0) // wl["pages"]
        if wl["store"]:
            write_pages(spark, synthetic, paths["base_pages"], start, n_base, n_items)
        info["pages_write_s"] = time.perf_counter() - t

        t = time.perf_counter()
        base = None
        if wl["store"]:
            base = os.path.join(work, "base")
            build_base(spark, base, paths["base_pages"], n_base, n_items, wl["run_pipeline"])
        # a small storeless run, so that the measured runs do not pay for
        # JIT compilation, class loading and Python worker start-up
        # (building the base store does that for the incremental workload)
        if n_warm:
            sc.setJobGroup("warmup", "warmup")
            pipeline.run_pipeline(
                spark, None, n_pages=n_warm, n_items=n_items,
                pages=spark.read.parquet(paths["warm_pages"]), **wl["run_pipeline"],
            )["concept_triples"].count()
        setup += time.perf_counter() - t

        def cleanup():
            spark.catalog.clearCache()
            for d in ("store", "mem"):
                shutil.rmtree(os.path.join(work, d), ignore_errors=True)

        def attempt(traced: bool) -> dict:
            cleanup()
            store = None
            if base:
                store = os.path.join(work, "store")
                shutil.copytree(base, store)
            before = tree_files(store) if store else {}
            sc.setJobGroup("run", "run")
            try:
                if traced:
                    tracer.install(sc)
                try:
                    run = one_run(spark, pipeline, wl, paths["pages"], n_pages,
                                  n_items, store, tracer if traced else None)
                finally:
                    if traced:
                        tracer.uninstall()
                after = tree_files(store) if store else {}
                new = [p for p in after if p not in before]
                run["store_delta"] = (sum(after[p] for p in new), len(new))
                run["errors"] = check(run, wl, expected)
                if not run["errors"] and not runs:
                    expected.append((run["fp"], "the first run in this process"))
            except Exception as e:  # a run that raises counts as failed
                traceback.print_exc()
                run = {"errors": [f"{type(e).__name__}: {e}"]}
            runs.append(run)
            errors.extend(run["errors"])
            return run

        if args.trace:
            # traced first, so that its layers find the Python workers'
            # memos as a measured run does; the untraced run after it finds
            # them filled, so the overhead it gives is an upper bound
            traced = attempt(traced=True)
            if not errors:
                metrics = layer_metrics(sc, tracer, traced, host["cpus"])
                untraced = attempt(traced=False)
                metrics["trace.untraced_wall_s"] = untraced.get("wall", 0.0)
                metrics["trace.overhead_s"] = traced["wall"] - metrics["trace.untraced_wall_s"]
            write_spans(work, args, tracer)
        else:
            t_measure = time.perf_counter()
            while not errors and (not runs or time.perf_counter() - t_measure < args.seconds):
                attempt(traced=False)
            if not errors:
                wall = statistics.median(r["wall"] for r in runs)
                metrics = {
                    "kg_wall_s": wall,
                    "docs_per_s": n_pages / wall,
                    "setup_s": setup,
                    "cpu_core_s": statistics.median(r["cpu"] for r in runs),
                }
        cleanup()
        info["fingerprints"] = runs[0].get("fp") if runs else None
        info["walls"] = [round(r["wall"], 3) for r in runs if "wall" in r]
    finally:
        tr.restore(undo)
        # free the runs' Java handles while the JVM can still take the
        # release calls; freed after it exits, each one logs an error
        for r in runs:
            r.pop("res", None)
        gc.collect()
        shutdown(spark)
    return {
        "attempted": len(runs),
        "failed": sum(1 for r in runs if r["errors"]),
        "errors": errors,
        "metrics": metrics,
        "info": info,
    }


def write_spans(work, args, tracer) -> None:
    t0 = min(s["start"] for s in tracer.spans)
    spans = [
        {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in tracer.spans
    ]
    path = os.path.join(work, f"spans_{args.workload}_seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(spans, f, indent=1)


def main(argv=None) -> int:
    spec = load(os.path.join(HERE, "spec.json"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec["workloads"]))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=1.0,
                    help="keep repeating untraced runs until this much time was measured")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, default=None,
                    help="override the workload's page count (smoke tests)")
    ap.add_argument("--work-dir", default=".perfbench_work")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "folkscope_spark")):
        print(f"perfbench: no folkscope_spark package under {ROOT}", file=sys.stderr)
        return 2
    units = metric_units()["layer" if args.trace else "e2e"]
    work = os.path.abspath(args.work_dir)
    os.makedirs(work, exist_ok=True)
    # one run per work dir at a time: runs share its scratch paths
    lock = open(os.path.join(work, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print(f"perfbench: another run holds {lock.name}", file=sys.stderr)
        return 3
    for d in ("pages", "warm_pages", "base_pages", "base", "store", "mem",
              "spark-local", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    host = host_env(work, spec["heap_share_of_memtotal"])

    out = benchmark(args, spec, work, host)

    missing = sorted(set(units) - set(out["metrics"]))
    if not out["errors"] and missing:
        out["errors"].append(f"metrics not produced: {missing}")
    correct = not out["errors"]
    for e in out["errors"]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    info = out["info"]
    print(f"# workload {args.workload} seed {args.seed} trace {args.trace} "
          f"cores {info['cpus']} heap {info['heap_mb']}m "
          f"pages_write_s {info.get('pages_write_s', 0):.3f} (not timed)")
    print(f"# fingerprints {info['fingerprints']}")
    print(f"# run walls {info.get('walls')} s")
    print(f"# failed_frac {out['failed'] / max(1, out['attempted'])} "
          f"({out['failed']} of {out['attempted']} runs)")
    metrics = {
        k: {"value": v, "unit": units[k]}
        for k, v in out["metrics"].items() if k in units
    }
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, out["attempted"]),
        "failed": out["failed"] if correct else max(1, out["failed"]),
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
