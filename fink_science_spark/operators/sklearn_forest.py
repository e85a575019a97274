"""REAL sklearn model artifacts — vectorized kernels + exact SQL twins.

The reference scores several modules with pickled sklearn models:

* microlensing (`mulens`): LIA RandomForest (1000 trees, 47 stats) +
  whitened PCA — ztf/microlensing/classifier.py:61 (rf.sav / pca.sav)
* kilonova: RandomForest heads (KN_model_1PC.pkl pipeline with a
  RobustScaler, kilonova_model.pkl) — ztf/kilonova/processor.py
* Rubin orphans: GradientBoostingClassifier —
  rubin/orphans/classifier.py:137 (model_orphans.pkl)

``tools/extract_sklearn_models.py`` transcribes each pickle with a stub
unpickler (no sklearn import) into gzipped-JSON checkpoints of flat
node arrays. This module re-implements the sklearn inference contracts:

* RandomForestClassifier.predict_proba — per tree, route rows down
  ``x[feature] <= threshold ? left : right`` (sklearn's convention),
  normalize the leaf's class-count vector, average over trees.
* GradientBoostingClassifier.predict_proba (binary log_loss) —
  sigmoid(log-odds prior + learning_rate * sum of regressor leaves).
* PCA.transform (whiten) — ((x - mean) @ components.T) / sqrt(var).
* RobustScaler.transform — (x - center) / scale.

Kernels are vectorized numpy: each tree is walked level-synchronously
with integer node-index arrays (O(depth) passes over the batch, no
Python per row). The SQL generators emit the IDENTICAL forest as nested
CASE WHEN expressions with leaf probabilities pre-normalized at
generation time — the DuckDB differential oracle for the kernel.

100 TB design: checkpoints are 50-300 KB artifacts, loaded once per
executor (ExecutorRegistry); scoring is per-row map work behind native
pre-filters — no shuffle, no collect.
"""

from __future__ import annotations

import gzip
import json
import os

import numpy as np

from fink_science_spark.operators.enrich import ExecutorRegistry

_DATA_DIR = os.path.join(os.path.dirname(__file__), "..", "data")


def checkpoint_path(name: str) -> str:
    env = os.environ.get(f"SPARK_GRAFT_{name.upper()}_CKPT")
    return env or os.path.normpath(os.path.join(_DATA_DIR, f"{name}.json.gz"))


def load_checkpoint(name: str) -> dict:
    p = checkpoint_path(name)

    def _load():
        with gzip.open(p, "rt") as f:
            art = json.load(f)
        prepped = dict(art)
        if art["kind"] == "rf_classifier":
            prepped["trees"] = [_prep_tree(t, True) for t in art["trees"]]
        elif art["kind"] in (
            "gbt_binary_classifier",
            "onnx_tree_ensemble_sum",
        ):
            prepped["trees"] = [_prep_tree(t, False) for t in art["trees"]]
        elif art["kind"] == "xgb_binary_logistic":
            prepped["trees"] = [
                {
                    "feature": np.asarray(t["feature"], dtype=np.int64),
                    "threshold": np.asarray(t["threshold"], dtype=np.float64),
                    "left": np.asarray(t["left"], dtype=np.int64),
                    "right": np.asarray(t["right"], dtype=np.int64),
                    "default_left": np.asarray(
                        t["default_left"], dtype=np.int64
                    ),
                }
                for t in art["trees"]
            ]
        elif art["kind"] == "pipeline":
            steps = []
            for s in art["steps"]:
                s = dict(s)
                if s.get("kind") == "rf_classifier":
                    s["trees"] = [_prep_tree(t, True) for t in s["trees"]]
                steps.append(s)
            prepped["steps"] = steps
        return prepped

    return ExecutorRegistry.get(f"sklearn_ckpt_v1:{p}", _load)


def _prep_tree(t: dict, normalize: bool) -> dict:
    value = np.asarray(t["value"], dtype=np.float64)
    if normalize:
        value = value / value.sum(axis=1, keepdims=True)
    return {
        "left": np.asarray(t["left"], dtype=np.int64),
        "right": np.asarray(t["right"], dtype=np.int64),
        "feature": np.asarray(t["feature"], dtype=np.int64),
        "threshold": np.asarray(t["threshold"], dtype=np.float64),
        "value": value,
    }


def _tree_leaf_rows(X: np.ndarray, t: dict) -> np.ndarray:
    """Leaf node index per row: level-synchronous descent."""
    node = np.zeros(len(X), dtype=np.int64)
    feature, thr = t["feature"], t["threshold"]
    left, right = t["left"], t["right"]
    while True:
        f = feature[node]
        internal = f >= 0  # sklearn leaves carry feature = -2
        if not internal.any():
            return node
        fx = X[np.arange(len(X)), np.where(internal, f, 0)]
        nxt = np.where(fx <= thr[node], left[node], right[node])
        node = np.where(internal, nxt, node)


def _stacked_trees(ckpt: dict) -> tuple:
    """Pad the per-tree node tables into (T, max_nodes) matrices so the
    descent below runs ONE numpy op per level for the whole forest
    instead of per tree. Packing is fully vectorized (concatenate +
    scatter — a per-tree python loop measured ~0.75 s for the 1000-tree
    mulens forest) and cached in its own ExecutorRegistry entry keyed by
    the checkpoint object, so each worker pays it once and the shared
    checkpoint dict is left as loaded. Padding slots carry feature = -2
    (leaf) and are never reached — descent stays inside each tree's real
    node range."""

    def _build():
        trees = ckpt["trees"]
        tn = len(trees)
        lens = np.array([len(t["feature"]) for t in trees], dtype=np.int64)
        mx = int(lens.max())
        rows = np.repeat(np.arange(tn), lens)
        offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
        cols = np.arange(int(lens.sum())) - np.repeat(offs, lens)
        feat = np.full((tn, mx), -2, dtype=np.int64)
        thr = np.zeros((tn, mx), dtype=np.float64)
        left = np.zeros((tn, mx), dtype=np.int64)
        right = np.zeros((tn, mx), dtype=np.int64)
        feat[rows, cols] = np.concatenate([t["feature"] for t in trees])
        thr[rows, cols] = np.concatenate([t["threshold"] for t in trees])
        left[rows, cols] = np.concatenate([t["left"] for t in trees])
        right[rows, cols] = np.concatenate([t["right"] for t in trees])
        v0 = trees[0]["value"]
        k = v0.shape[1] if v0.ndim > 1 else 1
        vals = np.zeros((tn, mx, k), dtype=np.float64)
        vcat = np.concatenate(
            [t["value"] if t["value"].ndim > 1 else t["value"][:, None]
             for t in trees]
        )
        vals[rows, cols] = vcat
        # the entry keeps the checkpoint alive, so its id is not reused
        return ckpt, (feat, thr, left, right, vals)

    return ExecutorRegistry.get(f"sklearn_stacked_v1:{id(ckpt)}", _build)[1]


# Row-count crossover for the across-trees descent: small Arrow batches
# are numpy-CALL-overhead bound (stacked wins ~2x at <=256 rows), large
# batches are memory-bandwidth bound on the (T, n) index matrices (the
# per-tree loop wins: 0.165 vs 0.264 s at 1500 rows x 1000 trees,
# measured). Both paths are bit-identical (pinned by test).
_STACKED_MAX_ROWS = 1024


def _forest_leaf_rows(X: np.ndarray, ckpt: dict) -> np.ndarray:
    """(T, n) leaf node index per (tree, row): the level-synchronous
    descent of _tree_leaf_rows vectorized across the whole forest.
    Per-element comparisons and routing are identical to the per-tree
    form — only the numpy call count changes."""
    feat, thr, left, right, _ = _stacked_trees(ckpt)
    tn, n = feat.shape[0], len(X)
    node = np.zeros((tn, n), dtype=np.int64)
    tidx = np.arange(tn)[:, None]
    ridx = np.arange(n)[None, :]
    while True:
        f = feat[tidx, node]
        internal = f >= 0
        if not internal.any():
            return node
        fx = X[ridx, np.where(internal, f, 0)]
        nxt = np.where(fx <= thr[tidx, node], left[tidx, node], right[tidx, node])
        node = np.where(internal, nxt, node)


def rf_proba(X: np.ndarray, ckpt: dict) -> np.ndarray:
    """(n, k) class probabilities, sklearn predict_proba semantics.
    Accumulates tree-by-tree in declaration order (the SQL twin's sum
    order — descent vectorization only changes HOW leaves are found;
    the value sum stays a sequential left fold for bit-exactness)."""
    X = np.asarray(X, dtype=np.float64)
    trees = ckpt["trees"]
    k = trees[0]["value"].shape[1]
    if len(X) > _STACKED_MAX_ROWS:
        acc = np.zeros((len(X), k))
        for t in trees:
            acc = acc + t["value"][_tree_leaf_rows(X, t)]
        return acc / float(len(trees))
    nodes = _forest_leaf_rows(X, ckpt)
    leaf = _stacked_trees(ckpt)[4][np.arange(len(trees))[:, None], nodes]
    acc = np.zeros((len(X), k))
    for i in range(len(trees)):
        acc += leaf[i]
    return acc / float(len(trees))


def gbt_proba(X: np.ndarray, ckpt: dict) -> np.ndarray:
    """P(class 1) for a binary log_loss GradientBoostingClassifier."""
    X = np.asarray(X, dtype=np.float64)
    raw = np.full(len(X), float(ckpt["init_raw"]))
    lr = float(ckpt["learning_rate"])
    if len(X) > _STACKED_MAX_ROWS:
        for t in ckpt["trees"]:
            raw = raw + lr * t["value"][_tree_leaf_rows(X, t), 0]
        return 1.0 / (1.0 + np.exp(-raw))
    nodes = _forest_leaf_rows(X, ckpt)
    leaf = _stacked_trees(ckpt)[4][
        np.arange(len(ckpt["trees"]))[:, None], nodes, 0
    ]
    for i in range(len(ckpt["trees"])):
        raw = raw + lr * leaf[i]
    return 1.0 / (1.0 + np.exp(-raw))


def xgb_proba(X: np.ndarray, ckpt: dict) -> np.ndarray:
    """P(class 1) for a binary:logistic XGBoost booster (the
    superluminous head): per tree, descend with x < threshold -> left,
    NaN -> the recorded default child; leaf value lives in
    split_conditions at leaves; p = sigmoid(logit(base_score) + sum)."""
    X = np.asarray(X, dtype=np.float64)
    base = float(ckpt["base_score"])
    raw = np.full(len(X), float(np.log(base / (1.0 - base))))
    for t in ckpt["trees"]:
        feature, thr = t["feature"], t["threshold"]
        left, right = t["left"], t["right"]
        dleft = t["default_left"]
        node = np.zeros(len(X), dtype=np.int64)
        while True:
            internal = left[node] >= 0  # xgboost leaves: left == -1
            if not internal.any():
                break
            f = np.where(internal, feature[node], 0)
            fx = X[np.arange(len(X)), f]
            isnan = np.isnan(fx)
            go_left = np.where(
                isnan, dleft[node] == 1, fx < thr[node]
            )
            nxt = np.where(go_left, left[node], right[node])
            node = np.where(internal, nxt, node)
        raw = raw + thr[node]  # leaf value rides in split_conditions
    return 1.0 / (1.0 + np.exp(-raw))


def xgb_proba_sql(ckpt: dict, feats: list[str]) -> str:
    """The booster as one SQL expression (list_sum over per-tree nested
    CASEs — strict < comparisons; a NULL feature fails both comparisons
    and falls to the ELSE branch, which encodes the default child)."""

    def node(t: dict, i: int) -> str:
        if t["left"][i] < 0:
            return repr(float(t["threshold"][i]))
        f = feats[t["feature"][i]]
        thr = repr(float(t["threshold"][i]))
        lft = node(t, int(t["left"][i]))
        rgt = node(t, int(t["right"][i]))
        dflt = lft if t["default_left"][i] == 1 else rgt
        return (
            f"CASE WHEN ({f}) < ({thr}) THEN {lft} "
            f"WHEN ({f}) >= ({thr}) THEN {rgt} ELSE {dflt} END"
        )

    terms = ",".join(f"({node(t, 0)})" for t in ckpt["trees"])
    base = float(ckpt["base_score"])
    logit = float(np.log(base / (1.0 - base)))
    return f"(1.0/(1.0+exp(-({logit!r} + list_sum([{terms}])))))"


def onnx_ensemble_raw(X: np.ndarray, ckpt: dict) -> np.ndarray:
    """ai.onnx.ml TreeEnsembleRegressor with SUM aggregation (the AAD
    anomaly forests): raw score = base + Σ_trees leaf weight. Same
    level-synchronous descent as the sklearn forests (BRANCH_LEQ:
    x <= threshold routes to the true/left branch)."""
    X = np.asarray(X, dtype=np.float64)
    raw = np.full(len(X), float(ckpt["base"]))
    if len(X) > _STACKED_MAX_ROWS:
        for t in ckpt["trees"]:
            raw = raw + t["value"][_tree_leaf_rows(X, t), 0]
        return raw
    nodes = _forest_leaf_rows(X, ckpt)
    leaf = _stacked_trees(ckpt)[4][
        np.arange(len(ckpt["trees"]))[:, None], nodes, 0
    ]
    for i in range(len(ckpt["trees"])):
        raw = raw + leaf[i]
    return raw


def pca_transform(X: np.ndarray, ckpt: dict) -> np.ndarray:
    comp = np.asarray(ckpt["components"], dtype=np.float64)
    mean = np.asarray(ckpt["mean"], dtype=np.float64)
    out = (np.asarray(X, dtype=np.float64) - mean) @ comp.T
    if ckpt.get("whiten"):
        out = out / np.sqrt(
            np.asarray(ckpt["explained_variance"], dtype=np.float64)
        )
    return out


def robust_scaler(X: np.ndarray, step: dict) -> np.ndarray:
    X = np.asarray(X, dtype=np.float64)
    if step.get("center") is not None:
        X = X - np.asarray(step["center"], dtype=np.float64)
    if step.get("scale") is not None:
        X = X / np.asarray(step["scale"], dtype=np.float64)
    return X


# --------------------------------------------------------------------------
# SQL twins
# --------------------------------------------------------------------------


def _tree_case_sql(t: dict, feats: list[str], col: int) -> str:
    """One tree as nested CASE returning the leaf's class-`col` value."""
    left, right = t["left"], t["right"]
    feature, thr, value = t["feature"], t["threshold"], t["value"]

    def node(i: int) -> str:
        if feature[i] < 0:
            return repr(float(value[i][col]))
        return (
            f"CASE WHEN ({feats[feature[i]]}) <= ({float(thr[i])!r}) "
            f"THEN {node(int(left[i]))} ELSE {node(int(right[i]))} END"
        )

    return node(0)


def rf_proba_sql(ckpt: dict, feats: list[str], class_idx: int) -> str:
    """The forest's class-probability as one SQL expression (sum of
    per-tree leaf probabilities / n_trees, declaration order)."""
    trees = ckpt["trees"]
    # list_sum over a flat list literal: summation stays sequential (the
    # kernel's accumulation order) while expression DEPTH stays at the
    # per-tree CASE nesting — a chained `+` of 1000 trees exceeds
    # DuckDB's max_expression_depth.
    votes = ",".join(f"({_tree_case_sql(t, feats, class_idx)})" for t in trees)
    return f"(list_sum([{votes}]) / {float(len(trees))!r})"


def gbt_proba_sql(ckpt: dict, feats: list[str]) -> str:
    terms = ",".join(
        f"({_tree_case_sql(t, feats, 0)})" for t in ckpt["trees"]
    )
    raw = (
        f"({float(ckpt['init_raw'])!r} + {float(ckpt['learning_rate'])!r}"
        f" * (list_sum([{terms}])))"
    )
    return f"(1.0/(1.0+exp(-{raw})))"


def pca_transform_sql(ckpt: dict, feats: list[str]) -> list[str]:
    """One expression per component: sum((x_j - mean_j) * c_kj) [/ sqrt(var_k)].
    Left-to-right sum order matches the kernel's row-vector matmul only
    to ulp; callers round outputs (the engine-wide contract)."""
    comp = ckpt["components"]
    mean = ckpt["mean"]
    out = []
    for k, row in enumerate(comp):
        s = " + ".join(
            f"(({feats[j]}) - ({float(mean[j])!r})) * ({float(c)!r})"
            for j, c in enumerate(row)
        )
        e = f"({s})"
        if ckpt.get("whiten"):
            e = f"({e} / sqrt({float(ckpt['explained_variance'][k])!r}))"
        out.append(e)
    return out


def onnx_nodes_cte(ckpt: dict, cte_name: str) -> str:
    """The ensemble's node table as ONE CTE of zipped unnest() list
    literals — flat text, flat expression depth (155k-node forests
    exceed both the nested-CASE depth limit and any sane parse time).
    Columns: tree, node, feat (-2 at leaves), thr, lid, rid, w."""
    tree_l, node_l, feat_l, thr_l, lid_l, rid_l, w_l = [], [], [], [], [], [], []
    for ti, t in enumerate(ckpt["trees"]):
        n = len(t["left"])
        tree_l.extend([ti] * n)
        node_l.extend(range(n))
        feat_l.extend(int(f) for f in t["feature"])
        thr_l.extend(float(x) for x in t["threshold"])
        lid_l.extend(int(x) for x in t["left"])
        rid_l.extend(int(x) for x in t["right"])
        w_l.extend(float(v[0]) for v in t["value"])

    # Arrays ride as ONE comma-joined string literal each, decoded with
    # string_split: a 150k-element LIST literal costs ~13s of parse +
    # constant-fold per table, the equivalent string costs ~0.1s (it is
    # a single token). repr() round-trips every double exactly.
    def ints(vals):
        s = ",".join(str(v) for v in vals)
        return f"unnest(string_split('{s}', ','))::INTEGER"

    def dbls(vals):
        s = ",".join(repr(v) for v in vals)
        return f"unnest(string_split('{s}', ','))::DOUBLE"

    # MATERIALIZED: the recursive walk joins this table once per depth
    # level — re-evaluating the unnest each iteration is ~10x the cost.
    return (
        f"{cte_name} AS MATERIALIZED (SELECT {ints(tree_l)} AS tree, "
        f"{ints(node_l)} AS node, {ints(feat_l)} AS feat, "
        f"{dbls(thr_l)} AS thr, {ints(lid_l)} AS lid, "
        f"{ints(rid_l)} AS rid, {dbls(w_l)} AS w)"
    )


def onnx_walk_sql(
    cte_name: str,
    feats_cte: str,
    key: str,
    xs_col: str,
    base: float,
    out_cte: str,
) -> str:
    """Recursive-CTE traversal of an :func:`onnx_nodes_cte` table over a
    features CTE exposing ``key`` and ``xs_col`` (DOUBLE[]). Emits two
    CTEs: ``{out_cte}_walk`` (the descent — rows = keys × trees ×
    depth) and ``{out_cte}`` (key, score = base + Σ leaf weights)."""
    return f"""{out_cte}_walk AS (
  SELECT f.{key} AS k, n.tree AS tree, 0 AS node
  FROM {feats_cte} f CROSS JOIN (SELECT DISTINCT tree FROM {cte_name}) n
  UNION ALL
  SELECT w.k, w.tree,
         CASE WHEN f.{xs_col}[n.feat + 1] <= n.thr THEN n.lid ELSE n.rid END
  FROM {out_cte}_walk w
  JOIN {cte_name} n ON n.tree = w.tree AND n.node = w.node AND n.feat >= 0
  JOIN {feats_cte} f ON f.{key} = w.k
),
{out_cte} AS (
  SELECT w.k AS {key}, {base!r} + sum(n.w) AS score
  FROM {out_cte}_walk w
  JOIN {cte_name} n ON n.tree = w.tree AND n.node = w.node AND n.feat < 0
  GROUP BY w.k
)"""


def rf_nodes_cte(ckpt: dict, cte_name: str) -> str:
    """A multi-class RandomForest as ONE node-table CTE (the
    :func:`onnx_nodes_cte` string-split layout) with per-class
    NORMALIZED leaf probabilities w0..w{k-1} — so a single table serves
    every class and every scored relation, instead of k × n_trees
    nested-CASE expressions per consumer."""
    n_classes = len(ckpt["classes"])
    tree_l, node_l, feat_l, thr_l, lid_l, rid_l = [], [], [], [], [], []
    w_l: list[list[float]] = [[] for _ in range(n_classes)]
    for ti, t in enumerate(ckpt["trees"]):
        n = len(t["left"])
        tree_l.extend([ti] * n)
        node_l.extend(range(n))
        feat_l.extend(int(f) for f in t["feature"])
        thr_l.extend(float(x) for x in t["threshold"])
        lid_l.extend(int(x) for x in t["left"])
        rid_l.extend(int(x) for x in t["right"])
        for k in range(n_classes):
            w_l[k].extend(float(v[k]) for v in t["value"])

    def ints(vals):
        s = ",".join(str(v) for v in vals)
        return f"unnest(string_split('{s}', ','))::INTEGER"

    def dbls(vals):
        s = ",".join(repr(v) for v in vals)
        return f"unnest(string_split('{s}', ','))::DOUBLE"

    wcols = ", ".join(
        f"{dbls(w_l[k])} AS w{k}" for k in range(n_classes)
    )
    return (
        f"{cte_name} AS MATERIALIZED (SELECT {ints(tree_l)} AS tree, "
        f"{ints(node_l)} AS node, {ints(feat_l)} AS feat, "
        f"{dbls(thr_l)} AS thr, {ints(lid_l)} AS lid, "
        f"{ints(rid_l)} AS rid, {wcols})"
    )


def rf_walk_sql(
    cte_name: str,
    feats_cte: str,
    key: str,
    xs_col: str,
    out_cte: str,
    n_classes: int,
    n_trees: int,
) -> str:
    """Recursive traversal of a :func:`rf_nodes_cte` table; emits
    ``{out_cte}_walk`` and ``{out_cte}`` (key, p0..p{k-1} — sklearn
    predict_proba: mean over trees of normalized leaf values). NULL
    array elements route to the right child, matching the kernel's
    NaN-comparison semantics."""
    probs = ", ".join(
        f"sum(n.w{k}) / {float(n_trees)!r} AS p{k}"
        for k in range(n_classes)
    )
    return f"""{out_cte}_walk AS (
  SELECT f.{key} AS k, n.tree AS tree, 0 AS node
  FROM {feats_cte} f CROSS JOIN (SELECT DISTINCT tree FROM {cte_name}) n
  UNION ALL
  SELECT w.k, w.tree,
         CASE WHEN f.{xs_col}[n.feat + 1] <= n.thr THEN n.lid ELSE n.rid END
  FROM {out_cte}_walk w
  JOIN {cte_name} n ON n.tree = w.tree AND n.node = w.node AND n.feat >= 0
  JOIN {feats_cte} f ON f.{key} = w.k
),
{out_cte} AS (
  SELECT w.k AS {key}, {probs}
  FROM {out_cte}_walk w
  JOIN {cte_name} n ON n.tree = w.tree AND n.node = w.node AND n.feat < 0
  GROUP BY w.k
)"""


def robust_scaler_sql(step: dict, feats: list[str]) -> list[str]:
    out = []
    for j, f in enumerate(feats):
        e = f
        if step.get("center") is not None:
            e = f"(({e}) - ({float(step['center'][j])!r}))"
        if step.get("scale") is not None:
            e = f"(({e}) / ({float(step['scale'][j])!r}))"
        out.append(e)
    return out
