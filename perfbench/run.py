"""Seeded churn / curate benchmark for letarette_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload churn --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with keys ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` a separate traced run's per-layer
metrics; the traced run also writes every span to
``.perfbench_work/trace-<workload>-<seed>.json``. Host load and CPU count
go to standard error and ride along in that file. See README.md beside
this file for the workloads and the layer to end-to-end map.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "query_cpu_ms": "ms",
    "items_per_cpu_s": "1/s",
}

# span name -> fields reported per call besides `ms` and `calls`. The
# spans without `jobs` are pure Python and never start a Spark job.
SPANS = {
    "parser.parse": (),
    "analysis.query": (),
    "executor.search_df": ("jobs", "tasks", "run_ms", "input_bytes"),
    "executor.topk": ("jobs", "tasks", "run_ms", "input_bytes"),
    "index.docs": ("jobs",),
    "index.docs_for_rowids": ("jobs",),
    "snippets.snippet": (),
    "spelling.respell": ("jobs",),
    "index.open": ("jobs",),
    "incremental.upsert": ("jobs", "run_ms", "shuffle_write_bytes"),
    "incremental.compact": ("jobs", "run_ms", "shuffle_write_bytes"),
    "indexer.housekeeping": ("jobs",),
    "blocks.build_blocks": ("jobs", "run_ms"),
    "analysis.tokenize": ("jobs", "run_ms"),
    "builder.build_index": ("jobs", "run_ms", "input_bytes", "shuffle_write_bytes", "spill_bytes"),
    "spelling.build_table": ("jobs",),
    "auxiliary.update_stopwords": ("jobs",),
    "pipeline.prepare_training_data": ("jobs", "run_ms", "shuffle_write_bytes"),
    "semdedup.semdedup_kept": ("jobs", "run_ms"),
    "similarity.ivf_centroids": ("jobs",),
    "pq.pq_codebooks": ("jobs",),
    "pq.pq_index_write": ("jobs",),
    "pq.pq_index_topk": ("jobs", "input_bytes"),
    "similarity.hard_negatives": ("jobs",),
    "dsir.dsir_sample": ("jobs", "run_ms"),
    "bpe.bpe_train": ("jobs", "run_ms", "shuffle_write_bytes"),
}
_FIELD_UNITS = {"ms": "ms", "run_ms": "ms", "jobs": "count", "tasks": "count", "calls": "count"}

GAUGES = {
    **{f"search.class.{c}.p50_ms": "ms" for c in gen.QUERY_CLASSES},
    "executor.jobs_per_query": "count",
    "executor.stages_per_query": "count",
    "executor.input_bytes_per_hit": "B",
    "search.blocking_coverage_min": "ratio",
    "search.segmented.p50_ms": "ms",
    "search.clean.p50_ms": "ms",
    "index.segments_per_query": "count",
    "churn.upsert_p50_ms": "ms",
    "trace.overhead_ms": "ms",
    **{f"builder.bytes.{k}": "B" for k in
       ("postings", "docs", "prefix", "term_stats", "blocks", "spelling")},
    "builder.index_bytes_per_doc_byte": "ratio",
    "process.mem_p95_mb": "MB",
    "wall.query_gmean_ms": "ms",
    "wall.items_per_s": "1/s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = {}
    for name, extra in SPANS.items():
        for f in ("ms", "calls") + extra:
            out[f"{name}.{f}"] = _FIELD_UNITS.get(f, "B")
    out.update(GAUGES)
    return out


def install_hooks(tracer, spark) -> None:
    """Spans around the calls into each layer, from outside the package."""
    from letarette_spark.analysis.tokenizer import Analyzer
    from letarette_spark.index import auxiliary, blocks, builder, incremental
    from letarette_spark.query import executor, snippets, spelling

    for attr in ("parse_query", "reduce_phrases"):
        tracer.wrap(executor, attr, "parser.parse")
    tracer.wrap(Analyzer, "query_alternatives", "analysis.query")
    tracer.wrap(executor.Searcher, "search_df", "executor.search_df")
    tracer.wrap(executor.Searcher, "_respell", "spelling.respell")
    tracer.wrap(type(spark.range(1)), "collect", "executor.topk", caller="_search_impl")
    tracer.wrap(builder.Index, "docs", "index.docs")
    tracer.wrap(builder.Index, "docs_for_rowids", "index.docs_for_rowids")
    tracer.wrap(snippets.SnippetBuilder, "snippet", "snippets.snippet")
    tracer.wrap(incremental, "compact_index", "incremental.compact")
    tracer.wrap(blocks, "build_blocks", "blocks.build_blocks")
    tracer.wrap(builder, "build_index", "builder.build_index")
    tracer.wrap(spelling, "build_speling_table", "spelling.build_table")
    tracer.wrap(auxiliary, "update_stopwords", "auxiliary.update_stopwords")


def gmean(xs) -> float:
    # the geometric mean weighs every query class alike, whatever its cost;
    # a median of ten mixed queries jumps between classes from seed to seed
    return math.exp(statistics.fmean(math.log(max(x, 1e-3)) for x in xs))


def end_to_end(m) -> dict[str, float]:
    return {
        "setup_s": m.setup_s,
        "query_cpu_ms": gmean(m.cpu_ms),
        "items_per_cpu_s": m.items / m.item_cpu_s,
    }


def per_layer(m, tracer, mem_p95: int) -> dict[str, float]:
    tracer.resolve()
    tot = tracer.totals()
    out: dict[str, float] = {}
    for name, extra in SPANS.items():
        t = tot.get(name)
        calls = t["calls"] if t else 0
        out[f"{name}.calls"] = float(calls)
        for f in ("ms",) + extra:
            out[f"{name}.{f}"] = t[f] / calls if calls else 0.0
    qspans = [(s, c, ms) for s, c, ms in m.ops if c]
    for c in gen.QUERY_CLASSES:
        lat = [ms for _, k, ms in qspans if k == c]
        out[f"search.class.{c}.p50_ms"] = statistics.median(lat) if lat else 0.0
    spans = [s for s, _, _ in qspans]
    hits = sum(s.attrs.get("hits", 0) for s in spans)
    out["executor.jobs_per_query"] = statistics.mean(s.stats["jobs"] for s in spans) if spans else 0.0
    out["executor.stages_per_query"] = (
        statistics.mean(s.stats["stages"] for s in spans) if spans else 0.0)
    out["executor.input_bytes_per_hit"] = (
        sum(s.stats["input_bytes"] for s in spans) / hits if hits else 0.0)
    out["search.blocking_coverage_min"] = min((tracer.coverage(s) for s in spans), default=0.0)
    # the pairs alternate which run goes first, and the second of a pair
    # runs warmer; over an even count the mean cancels that, a median not
    out["trace.overhead_ms"] = statistics.fmean(m.overhead_ms) if m.overhead_ms else 0.0
    out["process.mem_p95_mb"] = mem_p95 / 2**20
    out["wall.query_gmean_ms"] = gmean(m.latencies_ms)
    out["wall.items_per_s"] = m.items / m.item_s
    for k in GAUGES:
        out.setdefault(k, m.gauges.get(k, 0.0))
    return out


def start_spark(work: str, cpus: int):
    """A local[cpus] session whose scratch files all stay under *work*."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM the launch starts: temp files here, and no hsperfdata,
    # which HotSpot would write under /tmp whatever java.io.tmpdir says.
    # Compiler threads stay for the JVM's life, so the CPU time of its
    # compilers can be told apart from the program's (tracing.tree_cpu_s)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        "-XX:-UseDynamicNumberOfCompilerThreads", f"-Djava.io.tmpdir={tmp}")))
    from letarette_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_jvm() -> None:
    """End the py4j gateway JVM and wait for it; its Python workers exit
    with it. The JVM exits when its standard input closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None or proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "letarette_spark", "__init__.py")):
        print("perfbench: run from the root of a letarette_spark checkout "
              "(no letarette_spark/ package here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    cpus = len(os.sched_getaffinity(0))
    # half the CPUs run tasks. The inputs are small, so most of an
    # operation's time is driver-side planning and code generation, and the
    # JIT compiler and the driver need the other half: with a task thread
    # per CPU, three curate runs of one seed differed by 47% in throughput;
    # with half, by 13%
    threads = max(1, cpus // 2)
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    load_before, ticks = tracing.loadavg(), tracing.cpu_ticks()
    host = {"nproc": cpus, "spark_threads": threads, "loadavg_before": load_before}
    spark = tracer = None
    try:
        with tracing.MemorySampler(enabled=bool(args.trace)) as mem:
            spark = start_spark(work, threads)
            spark.sparkContext.setLogLevel("ERROR")
            tracer = tracing.Tracer(spark)
            if args.trace:
                install_hooks(tracer, spark)
                tracer.enabled = True
            m = workloads.WORKLOADS[args.workload](
                spark, tracer, work, args.seed, args.seconds, bool(args.trace))
            tracer.enabled = False
            metrics = per_layer(m, tracer, mem.quantile(0.95)) if args.trace else end_to_end(m)
            units = per_layer_units() if args.trace else END_TO_END
        host["loadavg_after"] = tracing.loadavg()
        host["steal_share"] = tracing.steal_share(ticks, tracing.cpu_ticks())
        if args.trace:
            host["mem_peak_mb"] = mem.quantile(1.0) / 2**20
        host["jvm"] = tracing.jvm_counters(spark)
        workloads.log(f"host {json.dumps(host)}")
        if args.trace:
            with open(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"host": host, "spans": tracer.dump()}, f)
    finally:
        if tracer is not None:
            tracer.unwrap_all()
        if spark is not None:
            try:
                spark.stop()
            finally:  # the JVM is stopped even when the session's stop fails
                stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    out = {
        "correct": m.failed == 0,
        "attempted": m.attempted,
        "failed": m.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
