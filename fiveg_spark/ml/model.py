"""The hybrid residual network GRN→GRU×2→MHA→pool→GRN→Dense (SURVEY §2 D8).

Numpy implementation of the reference architecture
(train.py:115-173): GatedResidualNetwork (ELU dense → linear dense,
GLU-style sigmoid gate, residual + LayerNorm), two stacked GRUs
(128, 64), 4-head MultiHeadAttention (key_dim 32) with residual
LayerNorm, GlobalAveragePooling over time, GRN(32), Dense(k).

This module owns the network: its sizes (``Dims``), its weights
(``init_weights``), each layer's forward and exact reverse-mode
backward, and the Spark scorer.  ``ml/train.py`` owns optimisation
only (Huber loss, Adam, the LR schedule, the per-slice fit) and calls
``forward``/``backward`` from here.

Execution model: weights are a small pytree of numpy arrays, broadcast
once; inference runs inside ``mapInPandas`` so each Arrow batch of
(window × k) sequences does chunked vectorized forward passes per
executor — the Spark-idiomatic shape for model scoring (no driver
tensor, no per-row Python).  Two entry points share that one scorer
and differ only in how a slice's weights are looked up:
``predict_residuals`` scores every slice with one pytree (the seeded
fixed model ``hybrid_forecast`` serves), ``predict_trained`` scores
each slice with its own trained pytree.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from fiveg_spark.ml.features import FEATURES

DTYPE = np.float32  # TF inference dtype; also sidesteps this BLAS build's
# pathological float64 batched-matmul path (~200× slower than float32)

LN_EPS = 1e-3  # keras LayerNormalization default


@dataclass(frozen=True)
class Dims:
    """Architecture sizes (reference defaults, train.py:115-173)."""

    k: int = len(FEATURES)
    d1: int = 64  # GRN-1 units
    u1: int = 128  # GRU-1 units
    u2: int = 64  # GRU-2 units
    heads: int = 4
    kd: int = 32  # per-head key dim
    d2: int = 32  # GRN-2 units


def init_weights(dims: Dims = Dims(), seed: int = 42, dtype=DTYPE) -> dict[str, np.ndarray]:
    """Deterministic Glorot-uniform weight pytree for the full network."""
    rng = np.random.default_rng(seed)

    def glorot(fan_in: int, fan_out: int) -> np.ndarray:
        limit = np.sqrt(6.0 / (fan_in + fan_out))
        return rng.uniform(-limit, limit, size=(fan_in, fan_out)).astype(dtype)

    w: dict[str, np.ndarray] = {}

    def grn(name: str, d_in: int, units: int) -> None:
        w[f"{name}.elu_W"] = glorot(d_in, units)
        w[f"{name}.elu_b"] = np.zeros(units, dtype)
        w[f"{name}.lin_W"] = glorot(units, units)
        w[f"{name}.lin_b"] = np.zeros(units, dtype)
        w[f"{name}.gate_W"] = glorot(d_in, units)
        w[f"{name}.gate_b"] = np.zeros(units, dtype)
        if d_in != units:
            w[f"{name}.skip_W"] = glorot(d_in, units)
            w[f"{name}.skip_b"] = np.zeros(units, dtype)
        w[f"{name}.ln_g"] = np.ones(units, dtype)
        w[f"{name}.ln_b"] = np.zeros(units, dtype)

    def gru(name: str, d_in: int, units: int) -> None:
        # fused kernels, gate order (z, r, h) — keras layout
        w[f"{name}.Wx"] = glorot(d_in, 3 * units)
        w[f"{name}.Wh"] = glorot(units, 3 * units)
        w[f"{name}.b"] = np.zeros(3 * units, dtype)

    grn("grn1", dims.k, dims.d1)
    gru("gru1", dims.d1, dims.u1)
    gru("gru2", dims.u1, dims.u2)
    for proj in ("q", "k", "v"):
        w[f"mha.{proj}_W"] = glorot(dims.u2, dims.heads * dims.kd)
        w[f"mha.{proj}_b"] = np.zeros(dims.heads * dims.kd, dtype)
    w["mha.out_W"] = glorot(dims.heads * dims.kd, dims.u2)
    w["mha.out_b"] = np.zeros(dims.u2, dtype)
    w["mha.ln_g"] = np.ones(dims.u2, dtype)
    w["mha.ln_b"] = np.zeros(dims.u2, dtype)
    grn("grn2", dims.u2, dims.d2)
    w["head_W"] = glorot(dims.d2, dims.k)
    w["head_b"] = np.zeros(dims.k, dtype)
    return w


# ---------------- layers: forward + backward ----------------
# The GRN, GRU and MHA forwards return (output, cache); the cache is
# None unless ``keep`` is set, which only the training forward does.


def _elu(x):
    return np.where(x > 0, x, np.expm1(np.minimum(x, 0.0)))


def _sigmoid(x):
    return 1.0 / (1.0 + np.exp(-np.clip(x, -60, 60)))


def _ln_fwd(x, g, b):
    mu = x.mean(axis=-1, keepdims=True)
    var = x.var(axis=-1, keepdims=True)
    inv = 1.0 / np.sqrt(var + LN_EPS)
    xhat = (x - mu) * inv
    return g * xhat + b, (xhat, inv, g)


def _ln_bwd(dy, cache):
    xhat, inv, g = cache
    D = xhat.shape[-1]
    dg = (dy * xhat).reshape(-1, D).sum(axis=0)
    db = dy.reshape(-1, D).sum(axis=0)
    dxhat = dy * g
    dx = inv / D * (
        D * dxhat
        - dxhat.sum(axis=-1, keepdims=True)
        - xhat * (dxhat * xhat).sum(axis=-1, keepdims=True)
    )
    return dx, dg, db


def _grn_fwd(x, w, name, mask=None, keep=False):
    """x: (..., d_in) → (..., units).

    ``mask`` is an inverted-dropout mask applied to the ELU activation
    (reference GRN: Dropout between elu_dense and linear_dense,
    train.py:140-142); None = inference-mode identity."""
    has_skip = f"{name}.skip_W" in w
    skip = x @ w[f"{name}.skip_W"] + w[f"{name}.skip_b"] if has_skip else x
    a = x @ w[f"{name}.elu_W"] + w[f"{name}.elu_b"]
    v1 = _elu(a)
    if mask is not None:
        v1 = v1 * mask  # post-mask activation feeds lin_W fwd AND grad
    v2 = v1 @ w[f"{name}.lin_W"] + w[f"{name}.lin_b"]
    elu = (a, v1) if keep else None
    del a, v1  # inference frees them before the gate and LayerNorm allocate
    s = _sigmoid(x @ w[f"{name}.gate_W"] + w[f"{name}.gate_b"])
    out, ln_cache = _ln_fwd(skip + v2 * s, w[f"{name}.ln_g"], w[f"{name}.ln_b"])
    return out, (x, elu, v2, s, has_skip, ln_cache, mask) if keep else None


def _grn_bwd(dout, cache, w, name, grads):
    x, (a, v1), v2, s, has_skip, ln_cache, mask = cache
    d_in = x.shape[-1]
    units = v2.shape[-1]
    dpre, dg, db = _ln_bwd(dout, ln_cache)
    grads[f"{name}.ln_g"] = dg
    grads[f"{name}.ln_b"] = db
    x2 = x.reshape(-1, d_in)
    dskip = dpre
    dv2 = dpre * s
    ds = dpre * v2
    dgi = ds * s * (1.0 - s)
    grads[f"{name}.lin_W"] = v1.reshape(-1, units).T @ dv2.reshape(-1, units)
    grads[f"{name}.lin_b"] = dv2.reshape(-1, units).sum(axis=0)
    dv1 = dv2 @ w[f"{name}.lin_W"].T
    if mask is not None:
        dv1 = dv1 * mask  # chain through the dropout scaling
    da = dv1 * np.where(a > 0, 1.0, np.exp(np.minimum(a, 0.0)))
    grads[f"{name}.elu_W"] = x2.T @ da.reshape(-1, units)
    grads[f"{name}.elu_b"] = da.reshape(-1, units).sum(axis=0)
    grads[f"{name}.gate_W"] = x2.T @ dgi.reshape(-1, units)
    grads[f"{name}.gate_b"] = dgi.reshape(-1, units).sum(axis=0)
    dx = da @ w[f"{name}.elu_W"].T + dgi @ w[f"{name}.gate_W"].T
    if has_skip:
        grads[f"{name}.skip_W"] = x2.T @ dskip.reshape(-1, units)
        grads[f"{name}.skip_b"] = dskip.reshape(-1, units).sum(axis=0)
        dx = dx + dskip @ w[f"{name}.skip_W"].T
    else:
        dx = dx + dskip
    return dx


def _gru_fwd(x, w, name, keep=False):
    """x: (B, T, d_in) → (B, T, units), batched across B at each step;
    with ``keep``, also records every gate for BPTT."""
    B, T_, _ = x.shape
    units = w[f"{name}.Wh"].shape[0]
    Wx, Wh, b = w[f"{name}.Wx"], w[f"{name}.Wh"], w[f"{name}.b"]
    h = np.zeros((B, units), dtype=x.dtype)
    H = np.empty((B, T_, units), dtype=x.dtype)
    if keep:
        Hprev, Z, R, HH, GHh = (np.empty_like(H) for _ in range(5))
    for t in range(T_):
        gx = x[:, t] @ Wx + b
        gh = h @ Wh
        z = _sigmoid(gx[:, :units] + gh[:, :units])
        r = _sigmoid(gx[:, units : 2 * units] + gh[:, units : 2 * units])
        ghh = gh[:, 2 * units :]  # the h-gate slice of h_prev @ Wh
        hh = np.tanh(gx[:, 2 * units :] + r * ghh)
        if keep:
            Hprev[:, t], Z[:, t], R[:, t], HH[:, t], GHh[:, t] = h, z, r, hh, ghh
        h = z * h + (1.0 - z) * hh
        H[:, t] = h
    return H, (x, Hprev, Z, R, HH, GHh) if keep else None


def _gru_bwd(dH, cache, w, name, grads):
    x, Hprev, Z, R, HH, GHh = cache
    B, T_, d_in = x.shape
    units = Z.shape[-1]
    Wx, Wh = w[f"{name}.Wx"], w[f"{name}.Wh"]
    dWx = np.zeros_like(Wx)
    dWh = np.zeros_like(Wh)
    db = np.zeros(3 * units, dtype=Wx.dtype)
    dx = np.empty_like(x)
    dh = np.zeros((B, units), dtype=x.dtype)
    for t in range(T_ - 1, -1, -1):
        dht = dH[:, t] + dh
        z, r, hh, ghh, hp = Z[:, t], R[:, t], HH[:, t], GHh[:, t], Hprev[:, t]
        dz = dht * (hp - hh)
        dhh = dht * (1.0 - z)
        dh = dht * z
        dhh_pre = dhh * (1.0 - hh * hh)
        dr = dhh_pre * ghh
        dz_pre = dz * z * (1.0 - z)
        dr_pre = dr * r * (1.0 - r)
        dgx = np.concatenate([dz_pre, dr_pre, dhh_pre], axis=1)
        dgh = np.concatenate([dz_pre, dr_pre, dhh_pre * r], axis=1)
        dWx += x[:, t].T @ dgx
        dWh += hp.T @ dgh
        db += dgx.sum(axis=0)
        dx[:, t] = dgx @ Wx.T
        dh = dh + dgh @ Wh.T
    grads[f"{name}.Wx"] = dWx
    grads[f"{name}.Wh"] = dWh
    grads[f"{name}.b"] = db
    return dx


def _mha_fwd(x, w, dims: Dims, keep=False):
    """Multi-head self-attention with residual + LayerNorm."""
    B, T_, d = x.shape
    H, kd = dims.heads, dims.kd
    scale = np.asarray(1.0 / np.sqrt(kd), dtype=x.dtype)

    # 3-D batched GEMM (B*H as the batch axis): this BLAS build's 4-D
    # matmul path is orders of magnitude slower than the 3-D one
    def proj(name):
        p = x @ w[f"mha.{name}_W"] + w[f"mha.{name}_b"]
        return p.reshape(B, T_, H, kd).transpose(0, 2, 1, 3).reshape(B * H, T_, kd)

    q3, k3, v3 = proj("q"), proj("k"), proj("v")
    scores = (q3 @ k3.transpose(0, 2, 1)) * scale
    scores -= scores.max(axis=-1, keepdims=True)
    att = np.exp(scores)
    att /= att.sum(axis=-1, keepdims=True)
    ctx3 = att @ v3  # (B*H, T, kd)
    ctx = ctx3.reshape(B, H, T_, kd).transpose(0, 2, 1, 3).reshape(B, T_, H * kd)
    out = ctx @ w["mha.out_W"] + w["mha.out_b"]
    y, ln_cache = _ln_fwd(x + out, w["mha.ln_g"], w["mha.ln_b"])
    return y, (x, q3, k3, v3, att, ctx, ln_cache) if keep else None


def _mha_bwd(dy, cache, w, dims: Dims, grads):
    x, q3, k3, v3, att, ctx, ln_cache = cache
    B, T_, d = x.shape
    H, kd = dims.heads, dims.kd
    scale = np.asarray(1.0 / np.sqrt(kd), dtype=x.dtype)
    dpre, dg, db = _ln_bwd(dy, ln_cache)
    grads["mha.ln_g"] = dg
    grads["mha.ln_b"] = db
    dx = dpre.copy()  # residual branch
    dout = dpre
    grads["mha.out_W"] = ctx.reshape(-1, H * kd).T @ dout.reshape(-1, d)
    grads["mha.out_b"] = dout.reshape(-1, d).sum(axis=0)
    dctx = (dout @ w["mha.out_W"].T).reshape(B, T_, H, kd).transpose(0, 2, 1, 3)
    dctx3 = dctx.reshape(B * H, T_, kd)
    datt = dctx3 @ v3.transpose(0, 2, 1)
    dv3 = att.transpose(0, 2, 1) @ dctx3
    dscores = att * (datt - (datt * att).sum(axis=-1, keepdims=True))
    dq3 = (dscores @ k3) * scale
    dk3 = (dscores.transpose(0, 2, 1) @ q3) * scale

    def unproj(d3, name):
        flat = (
            d3.reshape(B, H, T_, kd).transpose(0, 2, 1, 3).reshape(-1, H * kd)
        )
        grads[f"mha.{name}_W"] = x.reshape(-1, d).T @ flat
        grads[f"mha.{name}_b"] = flat.sum(axis=0)
        return (flat @ w[f"mha.{name}_W"].T).reshape(B, T_, d)

    dx += unproj(dq3, "q") + unproj(dk3, "k") + unproj(dv3, "v")
    return dx


def forward(X, w, dims: Dims = Dims(), masks=None, _cache=False):
    """(B, T, k) → (B, k) residual prediction, computed in the weights'
    dtype whatever the dtype of ``X``.

    ``masks`` (from train.make_dropout_masks) enables training-mode
    dropout; None = inference mode.  ``_cache`` is set by train.fit
    alone: it keeps every layer's activations for ``backward`` and
    returns (pred, caches) — inference builds none of them."""
    x = np.asarray(X, dtype=w["head_b"].dtype)
    masks = masks or {}
    # each layer's output rebinds ``x`` so inference frees it as soon as
    # the next layer has consumed it
    x, c_g1 = _grn_fwd(x, w, "grn1", masks.get("grn1"), _cache)
    if masks:
        x = x * masks["gru1_in"]
    x, c_r1 = _gru_fwd(x, w, "gru1", _cache)
    if masks:
        x = x * masks["gru2_in"]
    x, c_r2 = _gru_fwd(x, w, "gru2", _cache)
    x, c_m = _mha_fwd(x, w, dims, _cache)
    T_ = x.shape[1]
    x = x.mean(axis=1)  # GlobalAveragePooling1D
    x, c_g2 = _grn_fwd(x, w, "grn2", masks.get("grn2"), _cache)
    pred = x @ w["head_W"] + w["head_b"]
    if not _cache:
        return pred
    return pred, (c_g1, c_r1, c_r2, c_m, c_g2, T_, x, masks)


def backward(dpred, caches, w, dims: Dims):
    """Exact gradients of every parameter (and of X) from the caches
    that ``forward(..., _cache=True)`` returned."""
    c_g1, c_r1, c_r2, c_m, c_g2, T_, g2, masks = caches
    grads: dict[str, np.ndarray] = {}
    grads["head_W"] = g2.T @ dpred
    grads["head_b"] = dpred.sum(axis=0)
    dg2 = dpred @ w["head_W"].T
    dpool = _grn_bwd(dg2, c_g2, w, "grn2", grads)
    dm = np.repeat(dpool[:, None, :], T_, axis=1) / T_
    dh2 = _mha_bwd(dm, c_m, w, dims, grads)
    dh1_in = _gru_bwd(dh2, c_r2, w, "gru2", grads)
    dh1 = dh1_in * masks["gru2_in"] if masks else dh1_in
    dg1_in = _gru_bwd(dh1, c_r1, w, "gru1", grads)
    dg1 = dg1_in * masks["gru1_in"] if masks else dg1_in
    dX = _grn_bwd(dg1, c_g1, w, "grn1", grads)
    return grads, dX


# ---------------- Spark scoring ----------------

_PRED_SCHEMA = T.StructType(
    [
        T.StructField("slice", T.StringType()),
        T.StructField("window_start", T.TimestampType()),
        T.StructField("split", T.StringType()),
        T.StructField("target", T.ArrayType(T.DoubleType())),
        T.StructField("resid_pred", T.ArrayType(T.DoubleType())),
    ]
)


CHUNK = 128  # sequences per forward pass: bounds peak working memory
# (MHA scores dominate: CHUNK·4·60·60 f32 ≈ 7 MB) so executor memory
# stays flat regardless of Arrow batch size, and freshly-faulted pages
# get reused by every subsequent chunk.


def stack_sequences(seqs) -> np.ndarray:
    """A column of array<array<double>> cells → one (B, window, k) array."""
    return np.stack([np.stack([np.asarray(r, dtype=DTYPE) for r in s]) for s in seqs])


def _score(sequences: DataFrame, weights_bc, dims: Dims, lookup) -> DataFrame:
    """The chunked mapInPandas scorer.  ``lookup(weights, slice)``
    returns that slice's (net, mu, sd) — mu/sd None when the net works
    on unnormalised residuals — or None to emit no rows for it."""

    def score(batches):
        weights = weights_bc.value
        for pdf in batches:
            for slice_name, g in pdf.groupby("slice"):
                found = lookup(weights, slice_name)
                if found is None:
                    continue
                net, mu, sd = found
                for lo in range(0, len(g), CHUNK):
                    part = g.iloc[lo : lo + CHUNK]
                    X = stack_sequences(part["seq"])
                    if mu is not None:
                        X = (X - mu) / sd
                    pred = forward(X, net, dims)
                    if mu is not None:
                        pred = pred * sd + mu
                    yield pd.DataFrame(
                        {
                            "slice": part["slice"].values,
                            "window_start": part["window_start"].values,
                            "split": part["split"].values,
                            "target": [list(map(float, t)) for t in part["target"]],
                            "resid_pred": [p.astype(np.float64).tolist() for p in pred],
                        }
                    )

    return sequences.mapInPandas(score, schema=_PRED_SCHEMA)


def predict_residuals(sequences: DataFrame, weights_bc) -> DataFrame:
    """Score every slice with the one broadcast pytree."""
    return _score(sequences, weights_bc, Dims(), lambda w, _slice: (w, None, None))


def predict_trained(sequences: DataFrame, weights_bc, dims: Dims) -> DataFrame:
    """Score each slice with its own trained pytree from the broadcast
    {slice: pytree}; the pseudo-params ``__mu__``/``__sd__`` carry the
    train-target normalisation the net learned in.  A slice without a
    model (it had no train rows) emits no rows."""

    def lookup(by_slice, slice_name):
        w = by_slice.get(slice_name)
        if w is None:
            return None
        net = {k: v for k, v in w.items() if not k.startswith("__")}
        return net, w.get("__mu__"), w.get("__sd__")

    return _score(sequences, weights_bc, dims, lookup)
