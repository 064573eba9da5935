"""The benchmark's own tests: seeded inputs, the FTS5 twin, the metric
names in BENCHMARK.json, and a toy-size run of each workload.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(BENCH), str(BENCH.parent)]

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _inputs(seed: int, n_docs: int = 150):
    c = gen.make_corpus(seed, n_docs)
    return c, gen.make_queries(seed, c, 60), gen.make_upserts(seed, c, 3, 10)


def test_generator_is_deterministic_per_seed():
    assert gen.digest(*_inputs(5)) == gen.digest(*_inputs(5))
    assert gen.digest(*_inputs(5)) != gen.digest(*_inputs(6))


def test_generator_plants_what_the_checks_rely_on():
    c, qs, ups = _inputs(3)
    ids = {d.doc_id: d for d in c.docs}
    assert [d.rowid for d in c.docs] == list(range(1, len(c.docs) + 1))
    for copy, src in c.exact_dups.items():
        assert (ids[copy].title, ids[copy].body) == (ids[src].title, ids[src].body)
        assert len(ids[src].body.split(" ")) >= 60  # passes the quality gate
    for copy, src in c.near_dups.items():
        i, j = ids[copy].rowid - 1, ids[src].rowid - 1
        assert abs(c.embeddings[i] - c.embeddings[j]).max() < 0.01
    assert {q.cls for q in qs} == set(gen.QUERY_CLASSES)
    touched = [d.doc_id for b in ups for d in b.docs + b.deleted if d.doc_id in ids]
    assert len(touched) == len(set(touched))  # each batch touches fresh ids


def test_parse_matches_engine_query_syntax():
    assert oracle.parse('ab "cd ef" -gh ij* "kl mn"*') == [
        ("ab", False, False), ("cd ef", False, False), ("gh", True, False),
        ("ij", False, True), ("kl mn", False, True),
    ]


def test_twin_applies_cap_stopwords_and_upserts():
    docs = [gen.Doc(i + 1, f"d{i}", "news", "t", "alpha beta" if i % 2 else "alpha")
            for i in range(6)]
    twin = oracle.Fts5Twin(docs)
    rows, total = twin.search("alpha", cap=3)
    assert total == 3 and {r for r, _ in rows} <= {1, 2, 3, 4}
    twin.refresh_stopwords(cutoff=0.3, top_n=1)
    assert twin.stopwords == {"alpha"}
    assert twin.match("alpha") == "" and twin.match("alpha beta") == '"beta"'
    twin.apply(gen.UpsertBatch([gen.Doc(7, "n7", "news", "gamma", "gamma")], [docs[1]]))
    assert twin.search("beta", cap=10)[1] == 2
    assert twin.search("gamma", cap=10)[0][0][0] == 7
    twin.close()


def test_tree_cpu_counts_this_process_and_its_children():
    import os
    import subprocess
    import time

    import tracing

    c0 = tracing.tree_cpu_s(os.getpid())
    t = time.process_time()
    while time.process_time() - t < 0.3:
        pass
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"], check=True)
    assert tracing.tree_cpu_s(os.getpid()) - c0 >= 0.4  # own loop + reaped child


def test_benchmark_json_names_every_emitted_metric():
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == sorted(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
@pytest.mark.parametrize("traced", [0, 1])
def test_toy_run_has_no_failed_operations(workload, traced, monkeypatch, capsys):
    monkeypatch.setattr(workloads, "N_DOCS", 160)
    monkeypatch.setattr(workloads, "QUERIES_PER_PHASE", 3)
    monkeypatch.setattr(workloads, "PROBES_PER_OP", 1)
    monkeypatch.chdir(BENCH.parent)
    assert run.main(["--workload", workload, "--seed", "7", "--seconds", "0",
                     "--trace", str(traced)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["failed"] == 0 and out["correct"] and out["attempted"] > 0
    units = run.per_layer_units() if traced else run.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == units
    if not traced:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    elif workload == "churn":
        assert out["metrics"]["search.blocking_coverage_min"]["value"] >= 0.9


def test_refuses_to_run_without_the_package(tmp_path, monkeypatch, capsys):
    monkeypatch.chdir(tmp_path)
    assert run.main(["--workload", "churn", "--seed", "1", "--seconds", "1"]) != 0
    assert capsys.readouterr().out == ""
