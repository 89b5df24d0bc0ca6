"""Pipeline benchmark: one seeded end-to-end workload per run.

    python3 perfbench/run.py --workload crawl_curation --seed 1 --seconds 5 --trace 0

Run from the repository root. Workloads: ``crawl_curation`` (WARC crawl
graph + LLM-data curation) and ``star_analytics`` (star-schema reads and
partitioned writes); see ``workloads.py``. A run:

1. generates its inputs from ``--seed`` (``generate.py``; untimed);
2. builds the session and registers the WARC source, timed as ``setup_s``:
   the cold set-up every fresh job pays (JVM launch included), one sample
   per process;
3. runs the pipeline as a closed loop, one step after another from this
   one process: pass 0 is the cold pass (first pass in a fresh process:
   Python-worker fork, codegen, JIT), later passes are warm and continue
   until ``--seconds`` of warm-pass time, at least one. Between passes the
   session's cache and catalog tables are dropped, so every pass starts
   like a fresh job in a warm JVM. Every pass checks every output, and the
   output checksums must agree across passes.

Every time the run reports is wall clock minus the host CPU steal in the
same interval (``spans.stolen``): on a shared virtual machine steal comes
in bursts of minutes and would otherwise decide the run-to-run spread.
Each pass logs its steal; on bare metal it is 0.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` (checks; failed/attempted is the failed ratio) and ``metrics``:
the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. A traced run alternates traced and untraced warm
passes: traced passes force each span's output at its boundary, label its
Spark jobs, and take stage metrics from the event log; the overhead is the
traced minus the untraced pass time. Everything a run writes stays under
``.perfbench/`` in the working directory: the work directory is removed at
the end, the span dump ``trace-<workload>-<seed>-<trace>.json`` is kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from generate import dir_files
from spans import (STAGE_KEYS, STAGE_SPANS, Tracer, attribute_stages, clock, descendant_hwm_mb,
                   duration, elapsed, hwm_mb, read_event_log, stage_metrics, stolen)

MIN_WARM = 1  # warm passes of each kind, at least
MAX_PASSES = 40
# spans that enclose other spans: their self time is reported separately
SELF_TIME_SPANS = ("plans.pipeline_run", "engine.materialize")


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _session_profile(work: str, traced: bool):
    """Sized for this machine through public SessionProfile fields only:
    cores = usable CPUs, shuffle partitions = cores, a driver heap of a
    quarter of RAM capped at 2 GiB."""
    from ascii_hydra_spark.session import SessionProfile

    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    heap_mb = min(2048, mem_mb // 4)
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    prof = SessionProfile(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        driver_memory=f"{heap_mb}m",
        extra_conf=conf,
    )
    return prof, cores


def main(argv: list[str] | None = None) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ascii_hydra_spark", "__init__.py")):
        _log("ascii_hydra_spark/ not found in the working directory; run from the repo root")
        return 2
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    workload = WORKLOADS[args.workload]

    work = os.path.join(root, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local", "eventlog", "inputs"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    inputs = os.path.join(work, "inputs")
    t = time.perf_counter()
    manifest = workload.generate(inputs, args.seed)
    _log(f"generated {manifest['input_rows']} rows, {manifest['input_bytes']} bytes "
         f"in {time.perf_counter() - t:.1f}s")
    try:
        result = _run(args, workload, root, work, inputs, manifest, wanted)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 3
    print(json.dumps(result))
    return 0


def _run(args, workload, root, work, inputs, manifest, wanted):
    from pyspark import SparkContext

    from ascii_hydra_spark import engine as engine_mod, plans as plans_mod, sources
    from ascii_hydra_spark.session import build_spark
    from ascii_hydra_spark.sources.warc import register_warc_source
    from workloads import PAGERANK_ITERATIONS

    traced_run = bool(args.trace)
    prof, cores = _session_profile(work, traced_run)
    c0 = clock()
    spark = build_spark(prof)
    c1 = clock()
    register_warc_source(spark)
    c2 = clock()
    setup_s = elapsed(c0, c2)
    setup = {"session.build_s": elapsed(c0, c1), "session.register_sources_s": elapsed(c1, c2)}
    spark.sparkContext.setLogLevel("ERROR")
    _log(f"setup {setup_s:.3f}s (+{stolen(c0, c2):.3f}s host steal; build {setup['session.build_s']:.3f}s,"
         f" register {setup['session.register_sources_s']:.3f}s)")

    try:
        tracer = Tracer(spark.sparkContext)

        def write_parquet(df, path, *a, **kw):
            before = dir_files(path) if os.path.isdir(path) else {}
            with tracer.span("sources.write_parquet"):
                sources.write_parquet(df, path, *a, **kw)
            new = {p: n for p, n in dir_files(path).items() if p not in before}
            tracer.count("sources.files_written", sum(1 for p in new if p.endswith(".parquet")))
            tracer.count("sources.bytes_written", sum(new.values()))

        # the sinks plans.Pipeline and HydraEngine.materialize call
        for mod in (plans_mod, engine_mod):
            if getattr(mod, "write_parquet", None) is not sources.write_parquet:
                raise RuntimeError(f"{mod.__name__}.write_parquet is no longer sources.write_parquet")
            mod.write_parquet = write_parquet
        wl = workload(spark, tracer, inputs, manifest, write_parquet)
        wl.prepare()

        times: dict[bool, list[float]] = {False: [], True: []}
        attempted = failed = 0
        digests: set[str] = set()
        n_checks = 1
        # peak resident set: the process tree, the JVM alone, its Python workers
        peak_mb = {"tree": 0.0, "jvm": 0.0, "workers": 0.0}
        jvm_pid = SparkContext._gateway.proc.pid
        pass_info: list[dict] = []

        def one_pass(k: int, traced: bool) -> float:
            nonlocal attempted, failed, n_checks
            out = os.path.join(work, "out", f"pass{k}")
            tracer.start_pass(k, traced)
            c0 = clock()
            try:
                checks, digest = wl.run_pass(out)
            except Exception:  # a step raised: the whole pass counts as failed
                traceback.print_exc()
                checks, digest = [("pass", False)] * n_checks, None
            c1 = clock()
            dt, lost = elapsed(c0, c1), stolen(c0, c1)
            n_checks = len(checks)
            bad = [n for n, ok in checks if not ok]
            if digest is not None:
                digests.add(digest)
            attempted += len(checks)
            failed += len(bad)
            # the next pass starts like a fresh job: no cached plans, no
            # tables or views left in the session catalog
            spark.catalog.clearCache()
            for t in spark.catalog.listTables():
                kind = "VIEW" if t.isTemporary else "TABLE"
                spark.sql(f"DROP {kind} IF EXISTS {t.name}")
            for key, mb in (("tree", descendant_hwm_mb(os.getpid())), ("jvm", hwm_mb(jvm_pid)),
                            ("workers", descendant_hwm_mb(jvm_pid))):
                peak_mb[key] = max(peak_mb[key], mb)
            shutil.rmtree(out, ignore_errors=True)
            pass_info.append({"pass": k, "traced": traced, "s": dt, "stolen_s": lost,
                              "failed_checks": bad})
            _log(f"pass {k} {'traced' if traced else 'untraced'} {dt:.3f}s (+{lost:.3f}s host steal);"
                 f" peak rss MB jvm {peak_mb['jvm']:.0f} workers {peak_mb['workers']:.0f}"
                 + (f" FAILED {bad}" if bad else ""))
            return dt

        cold = one_pass(0, False)
        k, warm_total = 1, 0.0
        while True:
            traced = traced_run and k % 2 == 1
            dt = one_pass(k, traced)
            times[traced].append(dt)
            warm_total += dt
            k += 1
            enough = len(times[False]) >= MIN_WARM and (not traced_run or len(times[True]) >= MIN_WARM)
            if enough and warm_total >= args.seconds or k > MAX_PASSES:
                break
        if len(digests) > 1:  # outputs differ between passes
            attempted += 1
            failed += 1
            _log(f"output checksums differ across passes: {len(digests)} distinct")
        else:
            attempted += 1
    finally:
        spark.stop()
        # the JVM exits when its stdin closes; wait for it (and its workers)
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)

    tracer.self_times()
    untraced = [p["pass"] for p in pass_info if not p["traced"] and p["pass"] > 0]
    job_s = statistics.median(times[False])
    if not traced_run:
        def per_pass(fn):
            return statistics.median(fn(p) for p in untraced)

        written = per_pass(lambda p: tracer.counters[(p, "sources.bytes_written")]
                           + tracer.counters[(p, "streaming.bytes_written")])
        metrics = {
            "setup_s": setup_s,
            "cold_job_s": cold,
            "job_s": job_s,
            "rows_per_s": manifest["input_rows"] / job_s,
            "write_s": per_pass(tracer.sink_seconds),
            "bytes_written_per_input_byte": written / manifest["input_bytes"],
            "python_worker_rss_mb": peak_mb["workers"],
        }
    else:
        metrics = {**setup, **_layer_metrics(tracer, work, cores, times, PAGERANK_ITERATIONS),
                   "memory.peak_rss_mb": peak_mb["tree"], "memory.jvm_hwm_mb": peak_mb["jvm"]}
    dump = os.path.join(root, ".perfbench", f"trace-{args.workload}-{args.seed}-{args.trace}.json")
    tracer.write(dump, {"passes": pass_info, "setup_s": setup_s, "manifest_rows": manifest["input_rows"]})

    units = {m["name"]: m["unit"] for m in wanted}
    if traced_run:  # a layer this workload never calls did no work
        own = _own_metrics(workload)
        metrics.update({n: 0.0 for n in units if n not in metrics and n not in own})
    missing = [n for n in units if n not in metrics]
    if missing:
        _log(f"metrics not produced: {missing}")
        return None
    n_warm = len(times[False])
    _log(f"{args.workload} seed={args.seed}: cold 1 pass, warm {n_warm} untraced"
         + (f" + {len(times[True])} traced" if traced_run else "") + " passes; "
         f"failed_ratio={failed}/{attempted}")
    for n, u in units.items():
        _log(f"  {n:48s} {metrics[n]:14.4f} {u}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }


def _own_metrics(workload) -> set[str]:
    """Per-layer names a workload's traced passes must produce."""
    own = set(workload.counters)
    for sp in workload.spans:
        own.add(f"{sp}_s")
        if sp in STAGE_SPANS:
            own.update(f"{sp}.{k}" for k in STAGE_KEYS)
        if sp in SELF_TIME_SPANS:
            own.add(f"{sp}.self_s")
    if "plans.pipeline_run" in workload.spans:
        own.update(("plans.assets", "plans.asset_max_s"))
    if "operators.graph.pagerank" in workload.spans:
        own.add("operators.graph.pagerank_iter_s")
    return own


def _layer_metrics(tracer, work, cores, times, pagerank_iterations) -> dict[str, float]:
    """Per-layer metrics: medians over the traced warm passes."""
    traced_passes = sorted({s["pass"] for s in tracer.spans if s["traced"]})
    logs = sorted(
        (os.path.join(work, "eventlog", f) for f in os.listdir(os.path.join(work, "eventlog"))),
        key=os.path.getmtime,
    )
    log = read_event_log(logs[-1]) if logs else {"jobs": {}, "stage_job": {}, "tasks": {}}
    by_span = attribute_stages(tracer, log)
    per: dict[str, list[float]] = {}

    for p in traced_passes:
        spans = tracer.pass_spans(p)
        dur: dict[str, float] = {}
        for _, s in spans:
            dur[s["name"]] = dur.get(s["name"], 0.0) + duration(s)
        for n, d in dur.items():
            per.setdefault(f"{n}_s", []).append(d)
        for (cp, cn), v in tracer.counters.items():
            if cp == p:
                per.setdefault(cn, []).append(v)
        for parent in SELF_TIME_SPANS:
            if parent in dur:
                per.setdefault(f"{parent}.self_s", []).append(
                    sum(s["self_s"] for _, s in spans if s["name"] == parent))
        pipes = [s for _, s in spans if s["name"] == "plans.pipeline_run"]
        if pipes:
            per.setdefault("plans.assets", []).append(sum(s.get("assets", 0) for s in pipes))
            per.setdefault("plans.asset_max_s", []).append(max(s.get("asset_max_s", 0.0) for s in pipes))
        if "operators.graph.pagerank" in dur:
            per.setdefault("operators.graph.pagerank_iter_s", []).append(
                dur["operators.graph.pagerank"] / pagerank_iterations)
        for sp in STAGE_SPANS:  # a span whose jobs were not attributed yields no stage metrics
            stages = [st for i, s in spans if s["name"] == sp for st in by_span.get(i, [])]
            if stages:
                for key, v in stage_metrics(stages, dur[sp], cores).items():
                    per.setdefault(f"{sp}.{key}", []).append(v)
    metrics = {n: statistics.median(v) for n, v in per.items()}
    traced_med = statistics.median(times[True])
    untraced_med = statistics.median(times[False])
    metrics["trace.job_s"] = traced_med
    metrics["trace.untraced_job_s"] = untraced_med
    metrics["trace.overhead_s"] = traced_med - untraced_med
    return metrics


if __name__ == "__main__":
    sys.exit(main())
