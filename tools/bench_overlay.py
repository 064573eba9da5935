"""Per-query cost of the segment overlay's two tombstone paths.

Index._overlay drops the rows a later delta segment tombstoned in one of
two ways: a literal `NOT rowid IN (...)` filter on each union branch, or
one broadcast anti-join of the tombstone set. This script measures both
at several literal totals, so the switch point (builder's
OVERLAY_MAX_LITERALS) rests on a measurement.

It builds the perfbench churn corpus, applies one upsert batch (one delta
segment), then pads that segment's tombstone file with rowids no document
has: query results stay the same, the base branch's filter carries
*total* literals. For each total it alternates the two paths over the
same queries and reports, per path, the median process-tree CPU ms per
query (the quantity perfbench reports as query_cpu_ms), the median wall
ms, the CPU ms of the first query of a freshly opened handle (which
builds the filters), the length of the postings overlay's plan text
(Spark keeps the plan of each SQL execution it ran) and how much the
driver JVM's heap in use after a full GC grew over the handle's queries.

Usage:
    python tools/bench_overlay.py [--totals 1000,10000,100000] [--reps 4]
                                  [--cpus 4] [--work DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

QUERIES = 8
FAR = 10**12  # padding rowids start here, far above any document's


def _pad_tombstones(seg_dir: str, real: list[int], total: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    for n in os.listdir(seg_dir):
        os.remove(os.path.join(seg_dir, n))
    rowids = real + list(range(FAR, FAR + max(0, total - len(real))))
    pq.write_table(pa.table({"rowid": pa.array(rowids, pa.int64())}),
                   os.path.join(seg_dir, "part-00000.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--totals", default="1000,10000,100000")
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--work", default=None)
    a = ap.parse_args()

    import pyarrow.parquet as pq

    import gen
    import workloads
    from tracing import tree_cpu_s
    from letarette_spark.analysis.tokenizer import AnalyzerConfig
    from letarette_spark.index import builder
    from letarette_spark.index.incremental import upsert_documents
    from letarette_spark.query.executor import Searcher
    from letarette_spark.session import get_spark

    work = a.work or tempfile.mkdtemp(prefix="bench_overlay_")
    root = os.path.join(work, "index")
    shutil.rmtree(root, ignore_errors=True)
    spark = get_spark(app_name="bench_overlay", master=f"local[{a.cpus}]",
                      shuffle_partitions=a.cpus,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm

    corpus = gen.make_corpus(a.seed, workloads.N_DOCS)
    builder.build_index(
        spark, spark.createDataFrame(workloads._rows(corpus.docs), workloads.DOCS_SCHEMA),
        root, config=AnalyzerConfig(mode="porter"),
        n_build_partitions=workloads.BUILD_PARTITIONS)
    batch = gen.make_upserts(a.seed, corpus, 1, workloads.UPSERT_BATCH)[0]
    upsert_documents(spark, root, spark.createDataFrame(
        workloads._rows(batch.docs) + workloads._rows(batch.deleted, alive=False),
        workloads.DOCS_SCHEMA))
    texts = [q.text for q in gen.make_queries(a.seed, corpus, QUERIES)]
    seg = builder.Index.open(spark, root).segments[0]
    seg_dir = os.path.join(root, seg["tombstones"])
    real = sorted(
        r for f in builder._data_entries(seg_dir)
        for r in pq.read_table(f, columns=["rowid"]).column("rowid").to_pylist()
    )

    def heap_mb() -> float:
        rt = jvm.java.lang.Runtime.getRuntime()
        jvm.java.lang.System.gc()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20

    def run(path: str) -> dict:
        builder.OVERLAY_MAX_LITERALS = 10**12 if path == "literal" else -1
        h0 = heap_mb()
        idx = builder.Index.open(spark, root)
        s = Searcher(idx, cap=workloads.CAP)
        c0 = tree_cpu_s(os.getpid())
        first = s.search(texts[0], limit=workloads.LIMIT)
        first_cpu = (tree_cpu_s(os.getpid()) - c0) * 1e3
        assert (idx._tombstone_filters() is None) == (path == "broadcast")
        cpu, wall, hits = [], [], [[h.doc_id for h in first.hits]]
        for t in texts[1:]:
            c0, w0 = tree_cpu_s(os.getpid()), time.perf_counter()
            r = s.search(t, limit=workloads.LIMIT)
            wall.append((time.perf_counter() - w0) * 1e3)
            cpu.append((tree_cpu_s(os.getpid()) - c0) * 1e3)
            hits.append([h.doc_id for h in r.hits])
        plan = len(idx.postings()._jdf.queryExecution().toString())
        return {"cpu": cpu, "wall": wall, "first_cpu": first_cpu,
                "plan_chars": plan, "heap_mb": heap_mb() - h0, "hits": hits}

    out = []
    for total in [int(x) for x in a.totals.split(",")]:
        _pad_tombstones(seg_dir, real, total)
        runs: dict[str, list[dict]] = {"literal": [], "broadcast": []}
        for rep in range(a.reps):
            order = ("literal", "broadcast") if rep % 2 == 0 else ("broadcast", "literal")
            for path in order:
                runs[path].append(run(path))
        assert runs["literal"][0]["hits"] == runs["broadcast"][0]["hits"]
        for path, rs in runs.items():
            row = {
                "literals": total, "path": path,
                "query_cpu_ms": statistics.median(c for r in rs for c in r["cpu"]),
                "query_wall_ms": statistics.median(w for r in rs for w in r["wall"]),
                "first_query_cpu_ms": statistics.median(r["first_cpu"] for r in rs),
                "plan_chars": rs[-1]["plan_chars"],
                "heap_growth_mb": statistics.median(r["heap_mb"] for r in rs),
            }
            out.append(row)
            print(json.dumps({k: round(v, 1) if isinstance(v, float) else v
                              for k, v in row.items()}), flush=True)
    spark.stop()
    if a.work is None:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
