"""Tests for the benchmark itself: seeded inputs, the output contract,
failure counting and the compare verdicts.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import shutil
import subprocess
import sys
from argparse import Namespace
from pathlib import Path

import pytest

import compare
import gen
import harness
import metrics
import run

WORKLOADS = run.WORKLOADS


def _digest(d: Path) -> dict[str, str]:
    return {
        str(p.relative_to(d)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(d.rglob("*")) if p.is_file()
    }


def _write_inputs(out: Path, seed: int) -> None:
    gen.write_estate(out / "estate", seed, n_cust=200, n_deltas=2, rate_per_mille=50)
    docs, _ = gen.make_corpus(seed, 200)
    corpus, queries, _, _ = gen.make_vectors(seed, 100, 10)
    for name, t in (("docs", docs), ("corpus", corpus), ("queries", queries)):
        gen.write_arrow(t, out / name / "part-0.parquet")
    gen.write_arrow(gen.make_lineitem(seed, 2_400), out / "lineitem.parquet")
    for op in gen.make_schedule(seed, 2_400, 15, 40, 10, 30):
        if op["kind"] in ("merge", "stream"):
            gen.write_arrow(gen.make_delta(seed, op, 2_400), out / f"delta{op['i']}.parquet")


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        _write_inputs(tmp_path / name, seed)
    a, b, c = (_digest(tmp_path / n) for n in "abc")
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a if "stg_dce_gnl" not in k and "lang" not in k
               and "cust_tp" not in k and "syst_cmmnc" not in k)


def test_planted_pairs_are_near_duplicates():
    from w_llm_curation import jaccard, shingles

    docs, clusters = gen.make_corpus(3, 500)
    text = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    sims = [jaccard(shingles(text[c[0]]), shingles(text[m])) for c in clusters for m in c[1:]]
    assert min(sims) > 0.4 and max(sims) == 1.0
    # the engine's token value is (first letter, length): unique per word
    vocab = gen.vocabulary()
    assert len({(w[0], len(w)) for w in vocab}) == len(vocab)


def test_benchmark_json_matches_metrics():
    bench = json.loads((gen.ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == [
        tuple(m) for m in metrics.END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        m[:3] for m in metrics.PER_LAYER
    ]
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert bench["command"] == ["python3", "perfbench/run.py"]


def test_missing_program_exits_nonzero_without_result(tmp_path):
    shutil.copytree(gen.ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(gen.ROOT / "BENCHMARK.json", tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "llm_curation",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert "correct" not in p.stdout


class _Fake:
    """A workload without Spark: one good, one wrong, one raising op."""

    warmup_passes, pass_seconds, input_rows = 0, 1.0, 10

    def reset(self):
        pass

    def pass_ops(self):
        return [
            harness.Op("good", lambda: 1, lambda r: None),
            harness.Op("wrong", lambda: 2, lambda r: f"got {r}"),
            harness.Op("raises", lambda: 1 / 0, lambda r: None),
        ]


def test_closed_loop_counts_wrong_and_raising_ops():
    loop = harness.closed_loop(_Fake(), 2, harness.Tracer(None, enabled=False))
    assert (loop.attempted, loop.failed) == (6, 4)
    assert len(loop.latencies) == 6 and len(loop.pass_walls) == 2


def test_tail_is_highest_percentile_with_ten_beyond():
    v, p, n = harness.tail([float(i) for i in range(1, 41)])
    assert (v, n) == (30.0, 40) and p == 75.0
    assert harness.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert harness.tail([float(i) for i in range(19)])[:2] == (18.0, 100.0)
    assert harness.tail([float(i) for i in range(20)]) == (9.0, 50.0, 20)


def test_compare_verdicts():
    parent = [1.0, 1.01, 0.99, 1.0, 1.02, 0.98, 1.0, 1.01, 0.99, 1.0]
    faster = [x * 0.8 for x in parent]
    slower = [x * 1.3 for x in parent]
    pairs = lambda c: list(zip(parent, c))  # noqa: E731
    assert compare.verdict(parent, faster, pairs(faster), "lower", 0.1)[0] == "improved"
    assert compare.verdict(parent, slower, pairs(slower), "lower", 0.1)[0] == "regressed"
    assert compare.verdict(parent, parent, pairs(parent), "lower", 0.1)[0] == "unchanged"
    noisy = [0.5, 1.5, 0.7, 1.3, 1.0, 0.6, 1.4, 0.8, 1.2, 1.0]
    assert compare.verdict(noisy, noisy[::-1], pairs(noisy[::-1]), "lower", 0.1)[0] == "unresolved"
    higher = [x * 1.2 for x in parent]
    assert compare.verdict(parent, higher, pairs(higher), "higher", 0.1)[0] == "improved"


# ---------------------------------------------------------------------
# Tiny end-to-end runs in one Spark session
# ---------------------------------------------------------------------
@pytest.fixture(scope="module")
def spark():
    harness.configure_env(gen.WORK, harness.nproc())
    sys.path.insert(0, str(gen.ROOT))
    from pandas_analysis_with_postgres_spark.session import get_spark

    s = get_spark("perfbench-tests")
    yield s
    harness.stop_session(s)


def _args(workload, trace, seed=3):
    return Namespace(workload=workload, seed=seed, seconds=0, trace=trace, size="tiny", out=None)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_metric(spark, workload, capsys):
    plain = run.run(spark, _args(workload, 0), 1.0)
    traced = run.run(spark, _args(workload, 1), 1.0)
    out = capsys.readouterr().out
    for res, spec in ((plain, metrics.END_TO_END), (traced, metrics.PER_LAYER)):
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        assert list(res["metrics"]) == [m[0] for m in spec]
        for name, unit, *_ in spec:
            assert res["metrics"][name]["unit"] == unit
    for name, unit, _ in metrics.END_TO_END:
        assert f"# {name} = " in out
        assert plain["metrics"][name]["value"] > 0
    assert "# tracing overhead:" in out
    spans = json.loads((gen.WORK / f"spans-{workload}-seed3.json").read_text())
    assert spans and all({"name", "parent", "op", "self_s", "spark_jobs"} <= s.keys()
                         for s in spans)


def test_corrupted_output_counts_as_failure(spark, monkeypatch):
    from pandas_analysis_with_postgres_spark.operators import dedup

    real = dedup.exact_dedup
    monkeypatch.setattr(dedup, "exact_dedup", lambda docs: real(docs).limit(3))
    res = run.run(spark, _args("llm_curation", 1), 1.0)
    assert not res["correct"]
    assert res["failed"] >= 1
    assert res["metrics"]["error_rate"]["value"] == res["failed"] / res["attempted"] > 0
