"""Pins for the r15 driver-side bounded-fit path
(similarity._collect_fit_frame / _driver_lloyd, the fit_pq sub-Lloyd
branch, and sample_kcenter's numpy greedy): the driver path must be
BIT-IDENTICAL to the distributed loop it replaces and engage only
inside the stated budget (``DRIVER_FIT_MAX_ROWS`` = 0 forces the loop).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logpump_spark.llmdata import similarity as sim
from logpump_spark.llmdata.pq import fit_pq
from logpump_spark.llmdata.similarity import fit_ivf

from .conftest import SF_SMALL


def _vec(i: int, dim: int = 8) -> list[float]:
    # deterministic, includes negatives and non-representable fractions
    return [((i * 37 + j * 11) % 19 - 9) / 7.0 for j in range(dim)]


@pytest.fixture
def emb(spark):
    rows = [(i, _vec(i)) for i in range(60)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _run(monkeypatch, driver, fn):
    # a row budget of 0 sends every fit frame to the distributed loop
    with monkeypatch.context() as m:
        if not driver:
            m.setattr(sim, "DRIVER_FIT_MAX_ROWS", 0)
        return fn()


def _ivf_result(emb, monkeypatch, driver, **kw):
    def fit():
        cells, cent = fit_ivf(emb, n_cells=4, iters=2, **kw)
        return (
            sorted(map(tuple, cells.collect())),
            sorted((r.cid, tuple(r.c)) for r in cent.collect()),
        )

    return _run(monkeypatch, driver, fit)


def test_fit_ivf_driver_equals_distributed(spark, emb, monkeypatch):
    assert _ivf_result(emb, monkeypatch, True) == _ivf_result(
        emb, monkeypatch, False
    )


def test_fit_ivf_driver_equals_distributed_strided(spark, emb, monkeypatch):
    a = _ivf_result(emb, monkeypatch, True, fit_stride=3, fit_offset=0)
    b = _ivf_result(emb, monkeypatch, False, fit_stride=3, fit_offset=0)
    assert a == b


def test_fit_pq_driver_equals_distributed(spark, emb, monkeypatch):
    def fit():
        codes, cent = fit_pq(emb, n_sub=2, k=3, iters=2, dim=8)
        return (
            sorted(map(tuple, codes.collect())),
            sorted((r.m, r.cid, tuple(r.c)) for r in cent.collect()),
        )

    out = {d: _run(monkeypatch, d, fit) for d in (True, False)}
    assert out[True] == out[False]
    assert len(out[True][1]) == 6  # 2 subspaces x 3 centroids


def test_driver_path_engages_and_conf_gates(spark, emb, monkeypatch):
    calls = []
    real = sim._driver_lloyd
    monkeypatch.setattr(
        sim, "_driver_lloyd", lambda *a, **k: calls.append(1) or real(*a, **k)
    )
    fit_ivf(emb, n_cells=4, iters=1)
    assert calls, "bounded frame must take the driver path by default"
    calls.clear()
    _run(monkeypatch, False, lambda: fit_ivf(emb, n_cells=4, iters=1))
    assert not calls, "a frame over the budget must keep the distributed loop"


def test_budget_gates_fall_back(spark, emb, monkeypatch):
    # rows over budget -> None (distributed path)
    monkeypatch.setattr(sim, "DRIVER_FIT_MAX_ROWS", 10)
    assert sim._collect_fit_frame(emb, "vec_id", "embedding") is None
    monkeypatch.setattr(sim, "DRIVER_FIT_MAX_ROWS", 262_144)
    # cells (rows x dim) over budget -> None
    monkeypatch.setattr(sim, "DRIVER_FIT_MAX_CELLS", 16)
    assert sim._collect_fit_frame(emb, "vec_id", "embedding") is None


def test_non_integral_ids_fall_back(spark):
    rows = [(str(i), _vec(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    assert sim._collect_fit_frame(df, "vec_id", "embedding") is None


def test_null_rows_fall_back(spark):
    rows = [(0, _vec(0)), (1, None), (2, _vec(2))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert sim._collect_fit_frame(df, "vec_id", "embedding") is None


def test_kcenter_query_identical_on_off(spark, monkeypatch):
    import __spark_entry__ as se

    q = se.queries()["sample_kcenter"]

    def run():
        return sorted(map(tuple, q(spark, SF_SMALL).collect()))

    on = _run(monkeypatch, True, run)
    off = _run(monkeypatch, False, run)
    assert on == off and len(on) == 4
