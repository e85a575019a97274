"""Checkpoint seam: prove "swap in a real trained artifact, nothing else
changes". The frozen literal weights serialize to a JSON artifact, the
registered model queries reload them through the ExecutorRegistry path
seam, and the DuckDB oracles (which inline the builtin literals) still
match exactly — so a faithful file round-trip is score-identical, and a
perturbed file demonstrably feeds the kernel (scores move)."""

from __future__ import annotations

import os

import pytest

from fink_science_spark.oracle import compare, duckdb_connection
from fink_science_spark.operators.models import (
    FOREST,
    MLP_W1,
    _load_forest,
    _load_model,
    save_checkpoint,
)

SF = "/root/testdata/sf0.001"


def test_checkpoint_roundtrip_engine_free(tmp_path):
    p = str(tmp_path / "model.json")
    save_checkpoint(p)
    import numpy as np

    m = _load_model(p)
    builtin = _load_model(None)
    for k in ("W1", "b1", "W2"):
        assert np.array_equal(m[k], builtin[k])
    assert m["b2"] == builtin["b2"]
    assert _load_forest(p) == FOREST  # tuples restored from JSON arrays


@pytest.mark.parametrize("name", ["model_score", "model_score_forest"])
def test_model_queries_oracle_green_from_artifact(
    name, spark, tmp_path, monkeypatch
):
    """The driver-facing queries, with weights loaded from a file path via
    SPARK_GRAFT_MODEL_CHECKPOINT, must still match the literal-weight
    DuckDB oracle bit-for-bit. The path is resolved driver-side at
    query-build time and rides the UDF closure to the executors."""
    import __spark_entry__ as entrymod

    p = str(tmp_path / "model.json")
    save_checkpoint(p)
    monkeypatch.setenv("SPARK_GRAFT_MODEL_CHECKPOINT", p)
    df = entrymod.queries()[name](spark, SF)
    con = duckdb_connection(SF)
    res = compare(name, df, con, entrymod.oracle_sql()[name])
    assert res.ok, res.detail
    assert res.spark_rows > 0


def test_perturbed_checkpoint_changes_scores(spark, tmp_path):
    """Negative control: a checkpoint with a shifted weight must change
    the output — proving the artifact actually feeds the kernel rather
    than the kernel silently falling back to the builtin literals."""
    import json

    from pyspark.sql import functions as F

    from fink_science_spark.operators.models import make_mlp_score_udf

    p = str(tmp_path / "model.json")
    save_checkpoint(p)
    with open(p) as f:
        blob = json.load(f)
    assert blob["mlp"]["W1"] == MLP_W1
    blob["mlp"]["b2"] = float(blob["mlp"]["b2"]) + 1.0
    with open(p, "w") as f:
        json.dump(blob, f)

    df = spark.createDataFrame(
        [(1.0, 2.0, 3.0, 4.0), (0.5, -1.0, 2.5, 0.0)],
        "x1 double, x2 double, x3 double, x4 double",
    )
    builtin = make_mlp_score_udf(None)
    from_file = make_mlp_score_udf(p)
    out = df.select(
        builtin("x1", "x2", "x3", "x4").alias("a"),
        from_file("x1", "x2", "x3", "x4").alias("b"),
    ).collect()
    assert all(r["a"] != r["b"] for r in out)


def test_stacked_forest_descent_bit_identical_to_per_tree():
    """The across-trees vectorized descent (round-9 optimization) must
    route every row to the same leaf and fold the same values in the
    same order as the per-tree reference loop — for batches on either
    side of ``_STACKED_MAX_ROWS``, so both dispatch branches are pinned."""
    import numpy as np

    from fink_science_spark.operators.sklearn_forest import (
        _STACKED_MAX_ROWS,
        _tree_leaf_rows,
        gbt_proba,
        load_checkpoint,
        onnx_ensemble_raw,
        rf_proba,
    )

    rng = np.random.RandomState(7)

    ck = load_checkpoint("anomaly_forest_g")
    X = rng.rand(257, 25) * 4 - 2
    ref = np.full(len(X), float(ck["base"]))
    for t in ck["trees"]:
        ref = ref + t["value"][_tree_leaf_rows(X, t), 0]
    assert np.array_equal(onnx_ensemble_raw(X, ck), ref)

    ck = load_checkpoint("mulens_rf")
    for n in (131, _STACKED_MAX_ROWS, _STACKED_MAX_ROWS + 1):
        X = rng.rand(n, 47) * 2
        ref = np.zeros((len(X), ck["trees"][0]["value"].shape[1]))
        for t in ck["trees"]:
            ref = ref + t["value"][_tree_leaf_rows(X, t)]
        ref = ref / float(len(ck["trees"]))
        assert np.array_equal(rf_proba(X, ck), ref), n

    # empty batch stays well-shaped
    assert rf_proba(np.zeros((0, 47)), ck).shape == (0, 4)

    ck = load_checkpoint("orphans_gbt")
    lr = float(ck["learning_rate"])
    for n in (131, _STACKED_MAX_ROWS, _STACKED_MAX_ROWS + 1):
        X = rng.rand(n, 12) * 4 - 2
        raw = np.full(len(X), float(ck["init_raw"]))
        for t in ck["trees"]:
            raw = raw + lr * t["value"][_tree_leaf_rows(X, t), 0]
        ref = 1.0 / (1.0 + np.exp(-raw))
        assert np.array_equal(gbt_proba(X, ck), ref), n


def test_forest_kernels_leave_checkpoint_keys_unchanged():
    """The stacked node tables are cached beside the shared checkpoint
    dict, never written into it (the dict is the ExecutorRegistry's
    loaded artifact, shared by every caller in the process). The keys
    are compared with the artifact file's, so an earlier test's kernel
    calls on the same cached dict cannot hide a write."""
    import gzip
    import json

    import numpy as np

    from fink_science_spark.operators.sklearn_forest import (
        checkpoint_path,
        gbt_proba,
        load_checkpoint,
        rf_proba,
    )

    for name, kernel, nfeat in (
        ("mulens_rf", rf_proba, 47),
        ("orphans_gbt", gbt_proba, 12),
    ):
        with gzip.open(checkpoint_path(name), "rt") as f:
            keys = set(json.load(f))
        ck = load_checkpoint(name)
        kernel(np.zeros((3, nfeat)), ck)
        assert set(ck) == keys, name
