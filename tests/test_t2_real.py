"""Value-level checks for the REAL quantized T2 transformer.

1. Transcription pin: a fresh stdlib-FlatBuffer parse + dequantization
   of the reference's shipped .tflite equals the committed checkpoint
   exactly (every tensor, every structure constant).
2. Kernel sanity: probability simplex, determinism, input sensitivity
   — plus structural asserts against the decoded graph (16 heads x 2
   dims, 1/sqrt(2) attention scale, LN eps 1e-6, fused-ReLU conv and
   LINEAR FFN per the flatbuffer's fused_activation fields).
3. The registered rows-only query scores a real cohort with
   non-degenerate spread.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

TFLITE = (
    "/root/reference/fink_science/data/models/"
    "quantized-model-GR-noZ-28341-1654269564-0.5.1.dev73+g70f85f8"
    "-LL0.836.tflite"
)

needs_ref = pytest.mark.skipif(
    not os.path.exists(TFLITE), reason="reference tflite absent"
)


@needs_ref
def test_t2_checkpoint_verbatim():
    from extract_tflite import parse_tflite, to_checkpoint

    from fink_science_spark.operators.t2_transformer import load_t2

    with open(TFLITE, "rb") as f:
        fresh = to_checkpoint(parse_tflite(f.read()))
    art = load_t2()
    for k, v in fresh.items():
        if isinstance(v, list):
            assert np.array_equal(
                np.asarray(v, dtype=np.float64), art[k]
            ), f"{k}: transcription drift"
        else:
            assert art[k] == v, k


@needs_ref
def test_t2_graph_structure():
    """The decoded graph matches the kernel's hard-wired dataflow."""
    from extract_tflite import parse_tflite

    with open(TFLITE, "rb") as f:
        m = parse_tflite(f.read())
    g = m["subgraphs"][0]
    ops = [o["op"] for o in g["operators"]]
    assert ops.count("BATCH_MATMUL") == 2  # QK^T and attn@V
    assert ops.count("SOFTMAX") == 2  # attention + head
    assert ops.count("FULLY_CONNECTED") == 7  # Q K V O FFN1 FFN2 out
    conv = next(o for o in g["operators"] if o["op"] == "CONV_2D")
    assert conv["fused_activation"] == 1  # RELU
    for o in g["operators"]:
        if o["op"] == "FULLY_CONNECTED":
            assert o["fused_activation"] == 0  # linear (incl. the FFN)
    inp = g["tensors"][g["inputs"][0]]
    out = g["tensors"][g["outputs"][0]]
    assert inp["shape"] == [1, 100, 2]
    assert out["shape"] == [1, 14]


def test_t2_forward_sanity():
    from fink_science_spark.operators.t2_transformer import (
        load_t2,
        t2_forward_batch,
    )

    art = load_t2()
    assert int(art["num_heads"]) * int(art["head_dim"]) == 32
    assert abs(float(art["attn_scale"]) - 1 / np.sqrt(2)) < 1e-7
    rng = np.random.default_rng(7)
    X = rng.normal(0, 50, size=(16, 100, 2))
    P = t2_forward_batch(X, art)
    assert P.shape == (16, 14)
    assert np.allclose(P.sum(axis=1), 1.0, atol=1e-12)
    assert np.all(P >= 0)
    assert np.array_equal(P, t2_forward_batch(X, art))  # deterministic
    # input sensitivity: distinct rows score distinctly
    assert len({tuple(np.round(r, 9)) for r in P}) == 16
    # attention matters: permuting TIME changes the output (positional
    # encoding + attention; a pooling-only model would be invariant)
    Xp = X[:, ::-1, :]
    assert not np.allclose(P, t2_forward_batch(Xp, art))


def test_t2_query_spread(spark, sf_smoke):
    from fink_science_spark.registry import entries

    rows = entries()["t2_real"].builder(spark, sf_smoke).collect()
    assert len(rows) >= 1
    for r in rows:
        preds = r["preds"]
        assert len(preds) == 14
        assert abs(sum(preds) - 1.0) < 1e-5
        assert 0 <= r["t2_class"] < 14
    assert len({tuple(r["preds"]) for r in rows}) == len(rows)
