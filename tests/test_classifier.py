"""Distributed hashed-feature logistic regression (operators/classifier.py).

Pins the IRLS training contract: monotone loss under backtracking,
separable-label convergence, bounded collect sizes, and the map-side-only
scoring plan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_integration_and_processing_spark.operators.classifier import (
    classifier_audit,
    hashed_token_features,
    score_logistic,
    train_logistic_regression,
)

N_FEATURES = 256


@pytest.fixture(scope="module")
def labeled_docs(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return d.withColumn(
        "y", F.array_contains(F.split(F.col("text"), " "), "spark").cast("int")
    )


@pytest.fixture(scope="module")
def feats(labeled_docs):
    return hashed_token_features(labeled_docs, label_col="y", n_features=N_FEATURES)


@pytest.fixture(scope="module")
def model(feats):
    return train_logistic_regression(feats, n_features=N_FEATURES, n_iters=4, l2=1e-4)


def test_featurization_shape(feats):
    row = feats.first()
    assert set(feats.columns) == {"id", "label", "feats"}
    idxs = [f["idx"] for f in row["feats"]]
    # bias feature always present at index N_FEATURES
    assert idxs.count(N_FEATURES) == 1
    assert all(0 <= i <= N_FEATURES for i in idxs)
    # presence features are unique per doc
    assert len(set(idxs)) == len(idxs)
    assert all(f["val"] == 1.0 for f in row["feats"])


def test_loss_monotone_and_converges(model):
    assert len(model.losses) >= 2
    assert all(b <= a + 1e-12 for a, b in zip(model.losses, model.losses[1:])), (
        "backtracking must keep the full-batch loss monotone"
    )
    # separable marker-token label: IRLS collapses the loss fast
    assert model.losses[-1] < 0.1 * model.losses[0]


def test_separable_label_learned(feats, model):
    scored = score_logistic(feats, model)
    acc = scored.agg(
        F.avg(((F.col("prob") >= 0.5).cast("double") == F.col("label")).cast("double"))
    ).collect()[0][0]
    assert acc >= 0.98


def test_audit_row(feats, model):
    row = classifier_audit(feats, model, acc_floor=0.95, auc_floor=0.98).collect()
    assert len(row) == 1
    r = row[0]
    assert r["n_docs"] == 500
    assert 0 < r["n_pos"] < r["n_docs"]
    assert r["loss_decreasing"] and r["train_acc_ok"] and r["auc_ok"]


def test_scoring_plan_is_map_side(feats, model):
    """Scoring the corpus must be shuffle-free: weights ride as a literal,
    the margin is a JVM fold — no Exchange beyond reading the (already
    aggregated) feature frame's lineage."""
    plan = score_logistic(feats, model)._jdf.queryExecution().executedPlan().toString()
    # lineage includes featurization's exchanges; scoring itself must add no
    # python UDF eval
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_determinism_same_data(feats):
    m1 = train_logistic_regression(feats, n_features=N_FEATURES, n_iters=2, l2=1e-4)
    m2 = train_logistic_regression(feats, n_features=N_FEATURES, n_iters=2, l2=1e-4)
    # full-batch + fixed init: same iterate up to float-summation jitter
    assert m1.losses[-1] == pytest.approx(m2.losses[-1], rel=1e-6)


def test_cg_solver_wide_feature_space(labeled_docs):
    """The large-D scale path: above GRAM_DIM_CAP the
    auto solver must switch to Hessian-free truncated Newton (PCG — O(D)
    shuffle keys per Hessian-vector job, no D^2 Gram pull) and still learn
    the separable marker label at Newton-like convergence under the same
    monotone-loss contract."""
    from data_integration_and_processing_spark.operators.classifier import GRAM_DIM_CAP

    wide = GRAM_DIM_CAP + 1024  # forces solver="auto" onto the cg path
    feats = hashed_token_features(labeled_docs, label_col="y", n_features=wide)
    model = train_logistic_regression(feats, n_features=wide, n_iters=4, l2=1e-4)
    assert all(b <= a + 1e-12 for a, b in zip(model.losses, model.losses[1:]))
    assert model.losses[-1] < 0.2 * model.losses[0]
    scored = score_logistic(feats, model)
    acc = scored.agg(
        F.avg(((F.col("prob") >= 0.5).cast("double") == F.col("label")).cast("double"))
    ).collect()[0][0]
    assert acc >= 0.95


def test_solver_explicit_choices_agree(feats):
    """irls and cg solve the same Newton system (exactly vs truncated):
    both must decrease the loss from zero-init on the same data, to
    within the truncation gap on the same iteration budget."""
    m_irls = train_logistic_regression(
        feats, n_features=N_FEATURES, n_iters=2, solver="irls"
    )
    m_cg = train_logistic_regression(
        feats, n_features=N_FEATURES, n_iters=2, solver="cg"
    )
    assert m_irls.loss_decreasing and m_cg.loss_decreasing
    # a 10-step PCG direction tracks the exact Newton step closely
    assert m_cg.losses[-1] <= m_irls.losses[-1] * 3 + 1e-9

    with pytest.raises(ValueError):
        train_logistic_regression(feats, n_features=N_FEATURES, solver="newton")
