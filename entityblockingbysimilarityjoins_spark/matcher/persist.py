"""Random-forest model persistence + SQL export (M2 scoring and evidence path).

The fitted forest is plain numpy arrays in the sklearn tree layout
(children_left / children_right / feature / threshold / value — see
``random_forest.py``), so it serializes losslessly to JSON and exports to
SQL: each tree becomes a nested CASE expression over the feature columns
(NULL features imputed to 0.0 like ``RandomForestMatcher.predict_proba``,
reference ``simjoin_entitymatching/matcher/random_forest.py:660``), leaf
class probabilities are constant literals computed at export time, and the
forest probability is the left-to-right tree sum divided by the tree count.

The same tree walk serves two engines:

- Spark: ``apply_matcher`` scores with the Spark-dialect text as one native
  Catalyst expression (no Python worker, no Arrow transfer). Literals are
  typed double (``…D``; an untyped ``0.1`` parses as DECIMAL) and the
  imputation is ``coalesce(nanvl(f, 0D), 0D)`` so NaN goes left like
  ``nan_to_num`` sends it (Spark orders NaN above every double). The result
  equals ``predict_proba`` bit for bit.
- DuckDB: the correctness oracles reproduce ``apply_matcher`` output from
  the default-dialect text — the cross-engine evidence that batch predict
  (M2, reference ``random_forest.py:618-780``) is faithful.

Float determinism: thresholds and leaf probabilities are emitted with
``repr()`` (shortest round-trip decimal), which Python, Spark and DuckDB all
parse back to the identical IEEE-754 double.
"""

from __future__ import annotations

import json
import os

import numpy as np

from .random_forest import _LEAF, RandomForestMatcher, Tree


def packaged_model_path(name: str = "frozen_rf.json") -> str:
    """Path of a model artifact shipped inside the package's data/ dir."""
    return os.path.join(os.path.dirname(os.path.dirname(__file__)), "data", name)


def model_to_dict(model: RandomForestMatcher) -> dict:
    return {
        "n_trees": model.n_trees,
        "max_depth": model.max_depth,
        "min_samples_leaf": model.min_samples_leaf,
        "random_state": model.random_state,
        "feature_names": list(model.feature_names),
        "trees": [
            {
                "feature": t.feature.tolist(),
                "threshold": t.threshold.tolist(),
                "children_left": t.children_left.tolist(),
                "children_right": t.children_right.tolist(),
                "value": t.value.tolist(),
            }
            for t in model.trees
        ],
    }


def model_from_dict(d: dict) -> RandomForestMatcher:
    m = RandomForestMatcher(
        n_trees=d["n_trees"],
        max_depth=d["max_depth"],
        min_samples_leaf=d["min_samples_leaf"],
        random_state=d["random_state"],
        feature_names=list(d["feature_names"]),
    )
    m.trees = [
        Tree(
            np.array(t["feature"], dtype=np.int64),
            np.array(t["threshold"], dtype=np.float64),
            np.array(t["children_left"], dtype=np.int64),
            np.array(t["children_right"], dtype=np.int64),
            np.array(t["value"], dtype=np.float64),
        )
        for t in d["trees"]
    ]
    return m


def save_model(model: RandomForestMatcher, path: str) -> None:
    with open(path, "w") as f:
        json.dump(model_to_dict(model), f)


def load_model(path: str) -> RandomForestMatcher:
    with open(path) as f:
        return model_from_dict(json.load(f))


def _leaf_proba(value: np.ndarray) -> float:
    tot = float(value[0]) + float(value[1])
    return float(value[1]) / tot if tot > 0 else 0.5


#: per engine: (double literal, NaN/NULL -> 0.0 imputation of a feature)
_DIALECTS = {
    "duckdb": (repr, "coalesce({}, 0.0)"),
    "spark": (lambda x: f"{x!r}D", "coalesce(nanvl({}, 0D), 0D)"),
}


def tree_to_sql(tree: Tree, feature_exprs: list[str],
                dialect: str = "duckdb") -> str:
    """One tree as a nested CASE expression returning the P(match) leaf value.

    Descent rule matches ``Tree.predict_proba``: go left iff the imputed
    feature ``<= threshold``."""
    lit, impute = _DIALECTS[dialect]

    def rec(node: int) -> str:
        if tree.feature[node] == _LEAF:
            return lit(_leaf_proba(tree.value[node]))
        f = impute.format(feature_exprs[int(tree.feature[node])])
        thr = lit(float(tree.threshold[node]))
        return (
            f"(CASE WHEN {f} <= {thr} "
            f"THEN {rec(int(tree.children_left[node]))} "
            f"ELSE {rec(int(tree.children_right[node]))} END)"
        )

    return rec(0)


def forest_proba_sql(model: RandomForestMatcher,
                     feature_exprs: list[str] | None = None,
                     dialect: str = "duckdb") -> str:
    """The forest's P(match) as one SQL scalar expression.

    Left-to-right sum over trees, divided by n_trees — the association order
    of ``np.mean(axis=0)`` over the per-tree ``predict_proba`` rows."""
    exprs = feature_exprs or model.feature_names
    parts = " + ".join(tree_to_sql(t, exprs, dialect) for t in model.trees)
    return f"(({parts}) / {len(model.trees)})"
