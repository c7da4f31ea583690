"""KG benchmark: one command per workload run.

    python3 kgbench/run.py --workload kg_small_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. Set-up (session start, seeded input
tables, warm-up passes) is timed as ``setup_s``; then passes run back
to back until ``--seconds`` have passed (at least one); then the
session stops and every pass's output is checked. With ``--trace 0``
the last stdout line holds the end-to-end metrics. With ``--trace 1`` a
session with the Spark event log on runs one untraced reference pass and
one layer-by-layer traced pass, and the last line holds the per-layer
metrics. The line before it is a context record (host shape, window
probes, per-pass figures). See kgbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path
from statistics import median

ROOT = Path(__file__).resolve().parent.parent
MAX_PASSES = 6
T_START = time.time()
E2E = [
    ("docs_per_s", "docs/s"),
    ("docs_per_cpu_s", "docs/cpu-s"),
    ("setup_s", "s"),
    ("success_rate", "ratio"),
    ("quality_score", "ratio"),
]
LAYER_UNITS = [("wall_s", "s"), ("cpu_s", "s"), ("idle_core_s", "s"), ("jobs", "count"),
               ("rows_out", "count"), ("gc_s", "s"), ("shuffle_mb", "MB")]
COUNTERS = [
    ("operators.dedup.jaccard_pairs.verified_per_candidate", "ratio"),
    ("kg.xref.build_clusters.rounds", "count"),
    ("operators.dedup.dedup_clusters.rounds", "count"),
    ("kg.pipeline.run_pipeline.jobs", "count"),
    ("trace.overhead", "ratio"),
    ("trace.coverage", "ratio"),
    ("host.peak_rss_mb", "MB"),
]


def log(msg: str) -> None:
    print(f"kgbench +{time.time() - T_START:6.1f}s {msg}", file=sys.stderr, flush=True)


def per_layer_spec() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit. Each workload prints
    all of them; layers a workload does not run read 0."""
    from kgbench import kg, qc

    spec = []
    for mod in (kg, qc):
        for layer in mod.LAYERS:
            spec += [(f"{layer}.{m}", u) for m, u in LAYER_UNITS]
            if layer in mod.PY_LAYERS:
                spec.append((f"{layer}.py_cpu_s", "s"))
    return spec + COUNTERS


def make_workload(name: str, work: str, seed: int, n_tables: int):
    from kgbench.kg import KgSmallBatch
    from kgbench.qc import CorpusQc

    cls = {"kg_small_batch": KgSmallBatch, "corpus_qc": CorpusQc}[name]
    return cls(work, seed, n_tables)


def start_session(name: str, work: str, cores: int, heap_mb: int, trace: bool):
    from sling_spark.session import get_spark

    from kgbench.trace import event_log_conf

    os.environ["SLING_SPARK_DRIVER_MEM"] = f"{heap_mb}m"
    # every JVM, the spark-submit launcher included, keeps its temp and
    # perf-data files inside the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(event_log_conf(os.path.join(work, "eventlog")))
    spark = get_spark(master=f"local[{cores}]", app_name=f"kgbench_{name}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM and wait for every child."""
    from pyspark import SparkContext

    from kgbench.host import stop_descendants

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)
    stop_descendants()
    log("session stopped")


def timed_passes(spark, wl, seconds: float) -> list[dict]:
    """Back-to-back passes 1, 2, ... until ``seconds`` have passed and
    at least ``wl.min_passes`` have run, at most MAX_PASSES. A pass that
    raises counts as failed."""
    from kgbench.host import tree_sample

    passes: list[dict] = []
    t_start = time.time()
    while len(passes) < MAX_PASSES and (
            len(passes) < wl.min_passes or time.time() - t_start < seconds):
        i = len(passes) + 1
        s0, t0 = tree_sample(), time.time()
        try:
            wl.run(spark, i)
            ok = True
        except Exception:  # recorded as a failed pass; the run goes on
            traceback.print_exc()
            ok = False
        t1, s1 = time.time(), tree_sample()
        log(f"pass {i}: {t1 - t0:.2f} s")
        passes.append({"i": i, "ok": ok, "docs": wl.docs(i), "wall_s": t1 - t0,
                       "cpu_s": s1["cpu_s"] - s0["cpu_s"]})
    return passes


def end_to_end(wl, passes: list[dict]) -> dict[str, float]:
    """Check every pass, then the end-to-end metrics: the rates are
    medians of the per-pass rates of the passes that finished, so one
    pass slowed by a co-tenant does not move them."""
    for p in passes:
        if p["ok"]:
            p["quality"] = wl.check(p["i"])
            p["ok"] = p["quality"] == 1.0
    done = [p for p in passes if "quality" in p]
    return {
        "docs_per_s": median(p["docs"] / p["wall_s"] for p in done) if done else 0.0,
        "docs_per_cpu_s": median(p["docs"] / p["cpu_s"] for p in done) if done else 0.0,
        "success_rate": sum(p["ok"] for p in passes) / len(passes),
        "quality_score": min(p.get("quality", 0.0) for p in passes),
    }


def traced_pass(spark, wl) -> dict:
    """Pass 2 layer by layer, bracketed by untraced reference passes 1
    and 3: the mean of the two references is the untraced wall that
    the traced pass is compared with, so warming between passes does
    not read as tracing cost."""
    from kgbench.trace import Tracer

    def reference(i: int) -> tuple[float, tuple[float, float]]:
        t0 = time.time()
        window = wl.run(spark, i)
        wall = time.time() - t0
        log(f"reference pass {i}: {wall:.2f} s")
        return wall, window

    wall_1, window = reference(1)
    tracer = Tracer(spark)
    counters = wl.traced(spark, 2, tracer)
    log(f"traced pass: {tracer.spans[-1].t1 - tracer.spans[0].t0:.2f} s")
    wall_3, _ = reference(3)
    return {"reference_wall_s": [wall_1, wall_3], "window": window,
            "spans": tracer.spans, "counters": counters}


def per_layer(wl, traced: dict, log_dir: str, cores: int) -> dict[str, float]:
    from kgbench.trace import jobs_between, layer_metrics, read_event_log

    spans = traced["spans"]
    jobs = read_event_log(log_dir)
    values = dict.fromkeys((n for n, _u in per_layer_spec()), 0.0)
    values.update(layer_metrics(spans, jobs, cores, wl.py_layers))
    values.update(traced["counters"])
    cands = values["operators.dedup.lsh_candidate_pairs.rows_out"]
    if cands:
        values["operators.dedup.jaccard_pairs.verified_per_candidate"] = (
            values["operators.dedup.jaccard_pairs.rows_out"] / cands)
    if wl.name == "kg_small_batch":
        values["kg.pipeline.run_pipeline.jobs"] = len(jobs_between(jobs, *traced["window"]))
    pass_wall = spans[-1].t1 - spans[0].t0
    values["trace.overhead"] = pass_wall / (sum(traced["reference_wall_s"]) / 2)
    values["trace.coverage"] = sum(sp.t1 - sp.t0 for sp in spans) / pass_wall
    return values


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["kg_small_batch", "corpus_qc"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "sling_spark" / "__init__.py").is_file():
        print(f"kgbench: no sling_spark package under {ROOT}; run from a repository checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)

    from kgbench.host import PeakRss, session_shape, window_probe

    trace = bool(args.trace)
    cores, heap_mb = session_shape()
    context = {"workload": args.workload, "seed": args.seed, "trace": trace,
               "master": f"local[{cores}]", "driver_heap_mb": heap_mb,
               "window_probe_pre": window_probe()}
    work = str(ROOT / ".kgbench_work" / f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        with PeakRss() if trace else nullcontext() as rss:
            t0 = time.time()
            spark = start_session(args.workload, work, cores, heap_mb, trace)
            try:
                wl = make_workload(args.workload, work, args.seed, 4 if trace else 1 + MAX_PASSES)
                for _ in range(wl.warmups):
                    wl.run(spark, 0)
                setup_s = time.time() - t0
                log(f"set-up done: {setup_s:.2f} s")
                if trace:
                    traced = traced_pass(spark, wl)
                else:
                    passes = timed_passes(spark, wl, args.seconds)
            finally:
                stop_session(spark)
        if trace:
            scores = [wl.check(i) for i in (1, 2, 3)]
            attempted, failed = 3, sum(s != 1.0 for s in scores)
            metrics = per_layer(wl, traced, os.path.join(work, "eventlog"), cores)
            metrics["host.peak_rss_mb"] = rss.peak_bytes / 1e6
            context.update(quality=scores, reference_wall_s=traced["reference_wall_s"])
        else:
            metrics = end_to_end(wl, passes)
            metrics["setup_s"] = setup_s
            attempted, failed = len(passes), sum(not p["ok"] for p in passes)
            context["passes"] = passes
        log("checks done")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # after the run only the DRAM half of the probe: the 1-core burn takes
    # 2-4 s, which twice per run does not fit the time budget (README)
    context.update(wl.context(), setup_s=setup_s, window_probe_post=window_probe(burn=False))

    units = dict(per_layer_spec() if trace else E2E)
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
