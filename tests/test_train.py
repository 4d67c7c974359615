"""Training-loop tests (SURVEY §2 D8/D9 training story).

The load-bearing check is the finite-difference gradient test: every
parameter of a tiny-dims model in float64, analytic vs numeric — the
same gate autograd frameworks run in CI.  On top: Adam/Huber training
reduces the loss on synthetic data, and the Spark-side per-slice
applyInPandas fit beats the VAR-only baseline on the test split.
"""

from __future__ import annotations

import numpy as np
import pytest

from fiveg_spark.ml.model import Dims, backward, forward, init_weights
from fiveg_spark.ml.train import fit, huber_loss_grad

TINY = Dims(k=3, d1=4, u1=5, u2=4, heads=2, kd=3, d2=4)


def _loss(X, Y, w, dims):
    pred = forward(X, w, dims)
    loss, _ = huber_loss_grad(pred, Y, delta=0.35)
    return loss


def test_gradients_match_finite_differences():
    rng = np.random.default_rng(7)
    B, T = 3, 6
    X = rng.normal(size=(B, T, TINY.k)).astype(np.float64)
    # scale spreads |error| across both Huber regimes (quad + linear)
    Y = rng.normal(scale=1.5, size=(B, TINY.k)).astype(np.float64)
    w = init_weights(TINY, seed=3, dtype=np.float64)

    pred, caches = forward(X, w, TINY, _cache=True)
    _, dpred = huber_loss_grad(pred, Y, delta=0.35)
    grads, _ = backward(dpred, caches, w, TINY)

    assert set(grads) == set(w), "a parameter is missing its gradient"
    eps = 1e-6
    for name, g in grads.items():
        flat = w[name].reshape(-1)
        gflat = np.asarray(g, dtype=np.float64).reshape(-1)
        assert gflat.shape == flat.shape, name
        idxs = rng.choice(flat.size, size=min(5, flat.size), replace=False)
        for i in idxs:
            orig = flat[i]
            flat[i] = orig + eps
            up = _loss(X, Y, w, TINY)
            flat[i] = orig - eps
            dn = _loss(X, Y, w, TINY)
            flat[i] = orig
            num = (up - dn) / (2 * eps)
            err = abs(num - gflat[i]) / max(1e-8, abs(num) + abs(gflat[i]))
            assert err < 1e-5, f"{name}[{i}]: analytic {gflat[i]:.3e} vs numeric {num:.3e}"


@pytest.mark.parametrize(
    "dims, dtype", [(TINY, np.float64), (Dims(), np.float32)], ids=["tiny-f64", "default-f32"]
)
def test_inference_forward_matches_caching_forward(dims, dtype):
    """The cache-free inference forward and the training forward that
    keeps every activation for backward compute the same prediction."""
    X = np.random.default_rng(5).normal(size=(16, 12, dims.k)).astype(dtype)
    w = init_weights(dims, seed=9, dtype=dtype)
    pred, caches = forward(X, w, dims, _cache=True)
    assert caches is not None
    np.testing.assert_array_equal(forward(X, w, dims), pred)


def test_forward_runs_in_the_weights_dtype():
    """A float64 input to float32 weights is cast once, up front: the
    whole pass (and its output) stays float32."""
    X = np.random.default_rng(6).normal(size=(8, 12, 7))
    assert X.dtype == np.float64
    w = init_weights()
    pred = forward(X, w)
    assert pred.dtype == np.float32
    np.testing.assert_array_equal(pred, forward(X.astype(np.float32), w))


def test_fit_reduces_loss_on_learnable_signal():
    rng = np.random.default_rng(11)
    B, T = 48, 12
    X = rng.normal(size=(B, T, TINY.k)).astype(np.float32)
    # learnable target: mean of the last 3 steps + noise
    Y = X[:, -3:, :].mean(axis=1) + 0.05 * rng.normal(size=(B, TINY.k)).astype(
        np.float32
    )
    _, losses = fit(X, Y, TINY, epochs=60, lr=5e-3, seed=5)
    assert losses[-1] < 0.5 * losses[0], f"no convergence: {losses[0]} -> {losses[-1]}"
    # loss should be broadly monotone (tolerate small Adam bounces)
    assert losses[-1] == min(losses) or losses[-1] < 1.05 * min(losses)


@pytest.mark.slow  # full hybrid train+eval (~1 min) — default run excludes it (r14, driver budget)
def test_hybrid_train_eval_beats_var_only(spark):
    from fiveg_spark.ml.train import hybrid_train_eval
    from tests.conftest import SF_DIR

    rows = {r["slice"]: r for r in hybrid_train_eval(spark, SF_DIR).collect()}
    assert set(rows) == {"eMBB", "URLLC", "mMTC", "ALL"}
    for s in ("eMBB", "URLLC", "mMTC"):
        r = rows[s]
        assert r["loss_last"] < r["loss_first"], f"{s}: training did not reduce loss"
    # the deliverable: VAR + trained residual net beats VAR alone on the
    # held-out test split (pooled; per-slice wins on the majority — at
    # sf0.001 one slice's ~180-sequence train split is noise-dominated)
    assert rows["ALL"]["improved"], (
        f"pooled test rmse {rows['ALL']['rmse_hybrid']} not below "
        f"VAR-only {rows['ALL']['rmse_var']}"
    )
    n_improved = sum(bool(rows[s]["improved"]) for s in ("eMBB", "URLLC", "mMTC"))
    assert n_improved >= 2, f"only {n_improved}/3 slices improved"


def test_hybrid_train_eval_scores_once_and_pins_no_cache(spark):
    """One scoring pass feeds the per-slice rows and the pooled ALL row,
    and the call leaves no relation in the session's cache."""
    import re

    from fiveg_spark.ml.train import hybrid_train_eval
    from fiveg_spark.plans.explain import simple_plan
    from tests.conftest import SF_DIR

    spark.catalog.clearCache()
    df = hybrid_train_eval(spark, SF_DIR, epochs=1)
    rows = {r["slice"]: r for r in df.collect()}
    # the executed plan's own final section (a cached relation nests
    # its own Final/Initial sections, indented)
    final = re.split(r"^\+- == Initial Plan ==", simple_plan(df), flags=re.M)[0]
    assert final.count("MapInPandas") == 1, final
    assert set(rows) == {"eMBB", "URLLC", "mMTC", "ALL"}
    assert rows["ALL"]["n_test"] == sum(
        rows[s]["n_test"] for s in ("eMBB", "URLLC", "mMTC")
    )
    assert rows["ALL"]["loss_first"] is None
    assert all(rows[s]["loss_first"] is not None for s in ("eMBB", "URLLC", "mMTC"))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_weight_save_load_round_trip(spark, tmp_path):
    """The weight-row frame round-trips through parquet bit-exactly and
    the reloaded pytree drives the same predictions."""
    import numpy as np

    from fiveg_spark.ml.hybrid import residual_pipeline
    from fiveg_spark.ml.model import predict_trained
    from fiveg_spark.ml.train import (
        collect_weights,
        load_weights,
        save_weights,
        train_residual_models,
    )
    from tests.conftest import SF_DIR

    dims = Dims(k=7)
    _, sequences, _ = residual_pipeline(spark, SF_DIR)
    sequences = sequences.persist()
    rows = train_residual_models(sequences, dims, epochs=2).persist()
    direct, losses = collect_weights(rows)
    path = str(tmp_path / "weights")
    save_weights(rows, path)
    loaded, losses2 = load_weights(spark, path)
    assert losses == losses2
    assert set(direct) == set(loaded)
    for s in direct:
        assert set(direct[s]) == set(loaded[s])
        for k in direct[s]:
            assert np.array_equal(direct[s][k], loaded[s][k]), (s, k)
    test_seqs = sequences.filter("split = 'test'")
    a = predict_trained(test_seqs, spark.sparkContext.broadcast(direct), dims)
    b = predict_trained(test_seqs, spark.sparkContext.broadcast(loaded), dims)
    ra = sorted((r["slice"], r["window_start"], tuple(r["resid_pred"])) for r in a.collect())
    rb = sorted((r["slice"], r["window_start"], tuple(r["resid_pred"])) for r in b.collect())
    assert ra == rb


def test_gradients_match_finite_differences_with_dropout():
    """The analytic gradient must stay exact THROUGH the dropout masks:
    fix one mask set and run the same FD check — if fwd applies a mask
    the bwd doesn't chain (or vice versa), this fails loudly."""
    from fiveg_spark.ml.train import make_dropout_masks

    rng = np.random.default_rng(13)
    B, T = 3, 6
    X = rng.normal(size=(B, T, TINY.k)).astype(np.float64)
    Y = rng.normal(scale=1.5, size=(B, TINY.k)).astype(np.float64)
    w = init_weights(TINY, seed=3, dtype=np.float64)
    masks = make_dropout_masks(
        np.random.default_rng(99), TINY, B, T, dtype=np.float64
    )

    def loss_at(w):
        pred = forward(X, w, TINY, masks=masks)
        return huber_loss_grad(pred, Y, delta=0.35)[0]

    pred, caches = forward(X, w, TINY, masks=masks, _cache=True)
    _, dpred = huber_loss_grad(pred, Y, delta=0.35)
    grads, _ = backward(dpred, caches, w, TINY)

    assert set(grads) == set(w)
    eps = 1e-6
    for name, g in grads.items():
        flat = w[name].reshape(-1)
        gflat = np.asarray(g, dtype=np.float64).reshape(-1)
        idxs = rng.choice(flat.size, size=min(4, flat.size), replace=False)
        for i in idxs:
            orig = flat[i]
            flat[i] = orig + eps
            up = loss_at(w)
            flat[i] = orig - eps
            dn = loss_at(w)
            flat[i] = orig
            num = (up - dn) / (2 * eps)
            err = abs(num - gflat[i]) / max(1e-8, abs(num) + abs(gflat[i]))
            assert err < 1e-5, f"{name}[{i}]: analytic {gflat[i]:.3e} vs numeric {num:.3e}"


def test_dropout_masks_are_inverted_and_sites_match_reference():
    from fiveg_spark.ml.train import make_dropout_masks

    masks = make_dropout_masks(
        np.random.default_rng(0), TINY, 64, 12, dtype=np.float32
    )
    assert set(masks) == {"grn1", "gru1_in", "gru2_in", "grn2"}
    # GRU input masks are shared across timesteps (Keras semantics)
    assert masks["gru1_in"].shape == (64, 1, TINY.d1)
    assert masks["gru2_in"].shape == (64, 1, TINY.u1)
    # inverted scaling: surviving entries are 1/(1-p), so the mean ≈ 1
    for name, p in (("grn1", 0.1), ("gru1_in", 0.2), ("gru2_in", 0.2), ("grn2", 0.1)):
        m = masks[name]
        vals = set(np.unique(np.round(m, 6)))
        assert vals <= {0.0, np.float32(round(1 / (1 - p), 6))}, name
        assert abs(m.mean() - 1.0) < 0.05, name


def test_reduce_lr_on_plateau_halves_and_floors():
    from fiveg_spark.ml.train import ReduceLROnPlateau

    sched = ReduceLROnPlateau(lr=1e-3, patience=5, factor=0.5, min_lr=1e-6)
    # improving losses: LR untouched
    for loss in (1.0, 0.9, 0.8):
        assert sched.step(loss) == 1e-3
    # plateau: 4 stalled epochs keep the LR, the 5th halves it
    for _ in range(4):
        assert sched.step(0.8) == 1e-3
    assert sched.step(0.8) == 5e-4
    # wait resets after a reduction — another 5 stalls, another halving
    for _ in range(4):
        assert sched.step(0.8) == 5e-4
    assert sched.step(0.8) == 2.5e-4
    # floors at min_lr
    for _ in range(200):
        lr = sched.step(0.8)
    assert lr == pytest.approx(1e-6)


def test_fit_with_dropout_still_converges():
    rng = np.random.default_rng(21)
    B, T = 48, 12
    X = rng.normal(size=(B, T, TINY.k)).astype(np.float32)
    Y = X[:, -3:, :].mean(axis=1) + 0.05 * rng.normal(size=(B, TINY.k)).astype(
        np.float32
    )
    _, losses = fit(X, Y, TINY, epochs=60, lr=5e-3, seed=5, dropout=True)
    assert losses[-1] < 0.7 * losses[0], f"no convergence: {losses[0]} -> {losses[-1]}"
