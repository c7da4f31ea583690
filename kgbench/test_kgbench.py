"""The benchmark's own tests, on tiny inputs.

    python3 -m pytest kgbench/test_kgbench.py -q

- the same seed gives identical input tables, another seed different ones;
- every metric named in BENCHMARK.json is printed, with its unit, by
  every workload in both modes (runs the command in a subprocess);
- the traced layer-by-layer replicas write the same output as the
  production-shaped passes, so the replicas cannot drift.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from kgbench import checks, inputs, kg, qc, run  # noqa: E402

WORKLOADS = ["kg_small_batch", "corpus_qc"]
# tiny sizes, set on the workload classes inside the benchmark process
TINY = ("from kgbench import kg, qc; "
        "kg.KgSmallBatch.batch_files = 24; qc.CorpusQc.n_docs = 200")


@pytest.fixture(autouse=True)
def tiny_sizes(monkeypatch):
    monkeypatch.setattr(kg.KgSmallBatch, "batch_files", 24)
    monkeypatch.setattr(qc.CorpusQc, "n_docs", 200)


def _tables(cls, tmp_path, seed: int) -> list:
    work = tmp_path / f"{cls.__name__}-{seed}-{len(list(tmp_path.iterdir()))}"
    work.mkdir()
    cls(str(work), seed, 3)
    return [pq.read_table(p) for p in sorted(str(p) for p in work.glob("*.parquet"))]


@pytest.mark.parametrize("cls", [kg.KgSmallBatch, qc.CorpusQc])
def test_seed_fixes_the_input_tables(cls, tmp_path):
    a = _tables(cls, tmp_path, 5)
    b = _tables(cls, tmp_path, 5)
    c = _tables(cls, tmp_path, 6)
    assert a and len(a) == len(b) and all(x.equals(y) for x, y in zip(a, b))
    assert not any(x.equals(y) for x, y in zip(a, c))
    assert a[0].column_names == inputs.COLUMNS


@pytest.mark.parametrize("seed,n_docs", [(3, 200), (3, qc.CorpusQc.n_docs),
                                         (1566161828, qc.CorpusQc.n_docs)])
def test_planted_pairs_clear_the_verify_threshold(seed, n_docs):
    # at the workload's size, seed 3 and seed 1566161828 each plant an
    # original whose copies push its shingles over the stop bar, so
    # qc_rows has to redraw it
    rows, planted = inputs.qc_rows(seed, n_docs)
    exact = checks.ExactJaccard({inputs.doc_id(r): r["content"] for r in rows})
    assert planted and min(exact(a, b) for a, b in planted) >= inputs.PLANTED_MIN_JACCARD


def _spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


def test_spec_matches_benchmark_json():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == WORKLOADS
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.E2E
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_spec()


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_printed_with_unit(workload, trace):
    code = (f"import sys; sys.path.insert(0, {str(ROOT)!r}); {TINY}; from kgbench import run; "
            f"sys.exit(run.main(['--workload', {workload!r}, '--seed', '3', "
            f"'--seconds', '0', '--trace', '{trace}']))")
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                       text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = _spec()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    if trace:
        assert result["metrics"]["trace.coverage"]["value"] >= 0.9
    else:
        assert result["metrics"]["quality_score"]["value"] == 1.0
        min_passes = {"kg_small_batch": kg.KgSmallBatch, "corpus_qc": qc.CorpusQc}[workload].min_passes
        assert result["attempted"] >= min_passes


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from sling_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SLING_SPARK_DRIVER_MEM", "2g")
    s = get_spark(master="local[2]", app_name="kgbench_tests")
    yield s
    s.stop()


def test_kg_replica_writes_the_same_triples(spark, tmp_path):
    from kgbench.trace import Tracer

    wl = kg.KgSmallBatch(str(tmp_path), 9, 3)
    wl.run(spark, 1)
    tracer = Tracer(spark)
    kg.traced_call(spark, wl.tables[1], wl.pass_dir(2), tracer)
    production = checks.read_triples(f"{wl.pass_dir(1)}/out/triples")
    replica = checks.read_triples(f"{wl.pass_dir(2)}/out/triples")
    assert replica == production
    assert checks.kg_score(production, checks.oracle_triples(wl.rows[1])) == 1.0
    assert [sp.name for sp in tracer.spans] == kg.LAYERS


def test_qc_replica_writes_the_same_pairs_and_clusters(spark, tmp_path):
    from kgbench.trace import Tracer

    wl = qc.CorpusQc(str(tmp_path), 9, 1)
    wl.run(spark, 1)
    tracer = Tracer(spark)
    wl.traced(spark, 2, tracer)
    for name in ("verified", "clusters"):
        a, b = (pq.read_table(f"{wl.pass_dir(i)}/out/{name}").to_pylist() for i in (1, 2))
        assert sorted(map(repr, a)) == sorted(map(repr, b))
    assert wl.check(1) == wl.check(2) == 1.0
    assert [sp.name for sp in tracer.spans] == qc.LAYERS
