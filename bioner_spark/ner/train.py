"""Distributed training for the DATEXIS/BioNER sequence models (M9),
document-level shuffle (B2), and architecture grid search (A15).

Torch is absent from this environment, so the backward pass is implemented
in numpy against the engine's own golden-verified inference forward
(`ner/kernel.py`), and verified two independent ways:

  * finite-difference gradient checks on every layer (tests/test_train.py);
  * a distributed-vs-single-node differential: the Spark trainer and a
    single-process authority replay IDENTICAL batches (same doc-shuffle
    order, same per-sentence dropout masks, same Adam schedule) and must
    produce the same final weights to ~1e-9.

Reference semantics mirrored (cited per function):
  * loss: CrossEntropyLoss(ignore_index=-100), mean over non-pad tokens
    (reference bioner/model/annotator.py:23-24, 83, 94-106);
  * batching: documents shuffled once, flattened to sentences, consecutive
    batches of `batch_size` (conll_dataloader.py:7-13, collate_batch
    annotator.py:26-47);
  * optimizer: Adam, torch defaults betas=(0.9, 0.999), eps=1e-8, no weight
    decay (main.py:108, train_bioner.py:95);
  * per-epoch validation with entity-level micro P/R/F1, early stopping
    patience 10 on F1, best-by-val-F1 checkpoint kept
    (annotator.py:83-150, score_function :186-188);
  * grid search over lr x lstm_size x ff_size with the F1-drop early break
    (parameter_optimization.py:12-14, 94-131).

Spark-first rendering: synchronous data-parallel SGD. The encoded training
set is doc-shuffled into a deterministic global order (B2), partitioned by
(step block, shard) so every reference batch of 64 spans ALL shards, and
each Adam step is one Spark job over ONLY the n_shards partitions holding
that step's rows (sc.runJob partition pruning): executors compute
sum-gradients over their slice of the batch with the numpy kernels, the
driver adds the n_shards partials and applies the Adam update, then
rebroadcasts. Because CE-sum gradients are additive over sentences, the
aggregated update is mathematically identical to the single-node step over
the same batch — large-batch data parallelism, the standard cluster
rendering of a sequential SGD loop.

Scale notes: cached RDD partitions unpickle WHOLE on access, so partition
granularity — not indexing within a partition — is what bounds per-step
cost. Keying partitions by step block caps each step's deserialization at
steps_per_block × batch rows regardless of corpus size (per-epoch row
visits O(steps_per_block × n), never the O(n²/P) full-shard-scan-per-step
this design replaces); the sorted index inside each block then slices the
step's rows by binary search. Model weights ship per-step via broadcast
(torrent); grads return as n_shards driver-folded partials — for
BioNER-sized (~300 MB) models that is the same traffic pattern as a
parameter-server round, acceptable at n_shards ≤ ~32 (scale corpus size
via steps_per_block/partition count, not shard count).

BatchNorm TRAINING mode (reference main.py:84 --enableBatchNormalization →
ModelLoader → StackedBiLSTMModel, whose training forward normalizes with
live batch statistics): implemented with exact reference semantics —

  * torch BatchNorm1d over the PADDED [B, C, T] tensor
    (apply_batch_norm_pack_padded_sequence pad-unpacks first,
    datexis_model.py:182-188), so pad positions PARTICIPATE in the batch
    statistics: at the ff site pads equal the ff1 bias (BN runs before the
    first pack, x pads are zero), at the LSTM sites pads are the zeros
    pad_packed_sequence fills in;
  * pack's backward discards pad-position gradients, so BN-backward dx is
    pad-zeroed at LSTM sites before entering the BiLSTM BPTT — but NOT at
    the ff site, where ff1 is position-wise over the padded tensor and the
    pad gradients flow into the ff bias grad exactly like torch;
  * distributed: statistics are computed over the GLOBAL batch (sync-BN),
    never per shard. Each BN site needs the global stats of its input —
    which depend on the normalized outputs of the sites below it — so a
    BN step runs (k sites) sequential stat-reduction jobs forward, k more
    for the backward's global Σdy / Σ(dy·x̂) corrections, then the grad
    job: 2k+1 small step-pruned runJob reductions per Adam step, each recomputing the
    forward prefix (executors are stateless between BSP rounds — the
    standard sync-BN allreduce-per-layer rendered in Spark). The engine
    therefore matches train_single_node to ~1e-9 with BN on, the same
    differential gate as the plain path;
  * running stats update per step with torch semantics (momentum 0.1,
    unbiased var N/(N-1)) and ride along as non-Adam buffers; the best
    checkpoint keeps the buffers of its epoch;
  * deliberate trade-off: shards pad to their LOCAL max length (cheaper
    LSTM compute — no pad timesteps beyond each shard's longest sentence),
    which is why the ff site needs three coupled pad corrections (the
    n_pad·ff_b fold into the stat sums, backward_model's
    zero_pad_dx=('ff' in bn_back) flag, and the driver-side
    n_pad·γ·inv·(−S_dy−x̂_pad·S_dyx)/N bias-grad term). Padding every
    shard to the global T would delete all three at the cost of running
    BPTT over (T_global − T_shard) pure-pad timesteps on every shard;
    the corrections are each differential-tested against the single-node
    authority, which pads to the true global T by construction.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

import numpy as np

from .kernel import (
    SequenceModel,
    _reverse_by_length,
    _sigmoid,
    bilstm_forward,
    init_model,
    lstm_forward,
)

IGNORE_INDEX = -100  # reference annotator.py:23-24
TAGS = np.array(["B", "I", "O"])


# --------------------------------------------------------------------------
# parameter <-> flat vector
# --------------------------------------------------------------------------
def bn_sites(model: SequenceModel) -> list[str]:
    """BN site names in forward order: 'ff', 'l0'..'lK', 'enc' — one per
    BatchNorm1d the reference model carries (datexis_model.py:105-109)."""
    sites = []
    if model.ff_bn is not None:
        sites.append("ff")
    for i in range(len(model.bilstms)):
        if model.bilstm_bns and model.bilstm_bns[i] is not None:
            sites.append(f"l{i}")
    if model.enc_bn is not None:
        sites.append("enc")
    return sites


def param_names(model: SequenceModel) -> list[str]:
    names = ["ff_w", "ff_b"]
    for i in range(len(model.bilstms)):
        for d in ("f", "b"):
            names += [f"l{i}{d}_w_ih", f"l{i}{d}_w_hh", f"l{i}{d}_b"]
    names += ["enc_w_ih", "enc_w_hh", "enc_b", "out_w", "out_b"]
    # BN gamma/beta are trainable parameters (torch BatchNorm1d affine=True);
    # running mean/var are buffers and ride OUTSIDE the Adam vector
    for s in bn_sites(model):
        names += [f"{s}_bn_g", f"{s}_bn_b"]
    return names


_LAYER_PARAM_RE = re.compile(r"^l(\d+)(f|b)_(w_ih|w_hh|b)$")


def _bn_tuple(model: SequenceModel, site: str) -> tuple:
    if site == "ff":
        return model.ff_bn
    if site == "enc":
        return model.enc_bn
    return model.bilstm_bns[int(site[1:])]


def get_param(model: SequenceModel, name: str) -> np.ndarray:
    # full regex parse, not name[1]/name[4:] slicing: a >=10-layer grid
    # emits 'l10f_w_ih', where single-char indexing misparses every field
    m = _LAYER_PARAM_RE.match(name)
    if m:
        fwd, bwd = model.bilstms[int(m.group(1))]
        trip = fwd if m.group(2) == "f" else bwd
        return {"w_ih": trip[0], "w_hh": trip[1], "b": trip[2]}[m.group(3)]
    if name.endswith("_bn_g") or name.endswith("_bn_b"):
        bn = _bn_tuple(model, name[:-5])
        return bn[0] if name.endswith("_g") else bn[1]
    return getattr(model, name)


def param_spec(model: SequenceModel) -> list[tuple[str, tuple]]:
    return [(n, get_param(model, n).shape) for n in param_names(model)]


def flatten_params(model: SequenceModel, dtype=None) -> np.ndarray:
    parts = [np.ravel(get_param(model, n)) for n in param_names(model)]
    flat = np.concatenate(parts)
    return flat.astype(dtype) if dtype is not None else flat


def flatten_grads(grads: dict, spec: list[tuple[str, tuple]]) -> np.ndarray:
    return np.concatenate([np.ravel(grads[n]) for n, _ in spec])


def model_from_flat(
    flat: np.ndarray,
    spec: list[tuple[str, tuple]],
    name: str = "DATEXIS-NER",
    bn_buffers: dict | None = None,
) -> SequenceModel:
    """Inverse of flatten_params. When the spec carries BN gamma/beta
    entries, `bn_buffers` must supply {site: (running_mean, running_var,
    eps)} — buffers are state, not Adam parameters, so they travel beside
    the flat vector, exactly like torch's named_buffers vs parameters."""
    arrays, off = {}, 0
    for n, shape in spec:
        size = int(np.prod(shape))
        arrays[n] = flat[off : off + size].reshape(shape)
        off += size
    n_bilstms = sum(
        1 for n, _ in spec if n.endswith("f_w_ih") and _LAYER_PARAM_RE.match(n)
    )
    bilstms = [
        (
            (arrays[f"l{i}f_w_ih"], arrays[f"l{i}f_w_hh"], arrays[f"l{i}f_b"]),
            (arrays[f"l{i}b_w_ih"], arrays[f"l{i}b_w_hh"], arrays[f"l{i}b_b"]),
        )
        for i in range(n_bilstms)
    ]
    sites = [n[:-5] for n, _ in spec if n.endswith("_bn_g")]
    ff_bn = enc_bn = None
    bilstm_bns = None
    if sites:
        if bn_buffers is None:
            raise ValueError(
                "spec has BatchNorm parameters: pass bn_buffers "
                "{site: (mean, var, eps)}"
            )

        def mk(site):
            mean, var, eps = bn_buffers[site]
            return (arrays[f"{site}_bn_g"], arrays[f"{site}_bn_b"], mean, var, eps)

        if "ff" in sites:
            ff_bn = mk("ff")
        layer_sites = {s for s in sites if s not in ("ff", "enc")}
        if layer_sites:
            bilstm_bns = [
                mk(f"l{i}") if f"l{i}" in layer_sites else None
                for i in range(n_bilstms)
            ]
        if "enc" in sites:
            enc_bn = mk("enc")
    return SequenceModel(
        ff_w=arrays["ff_w"], ff_b=arrays["ff_b"], bilstms=bilstms,
        enc_w_ih=arrays["enc_w_ih"], enc_w_hh=arrays["enc_w_hh"],
        enc_b=arrays["enc_b"], out_w=arrays["out_w"], out_b=arrays["out_b"],
        name=name, ff_bn=ff_bn, bilstm_bns=bilstm_bns, enc_bn=enc_bn,
    )


def bn_buffers_of(model: SequenceModel) -> dict:
    """{site: (running_mean, running_var, eps)} from a model's BN tuples."""
    return {
        s: (_bn_tuple(model, s)[2], _bn_tuple(model, s)[3], _bn_tuple(model, s)[4])
        for s in bn_sites(model)
    }


# --------------------------------------------------------------------------
# LSTM forward with cache + BPTT backward
# --------------------------------------------------------------------------
def lstm_forward_cache(x, w_ih, w_hh, b):
    """Same recurrence as kernel.lstm_forward, caching gates/cells for BPTT."""
    B, T, _ = x.shape
    H = w_hh.shape[1]
    h = np.zeros((B, H), dtype=x.dtype)
    c = np.zeros((B, H), dtype=x.dtype)
    I = np.empty((B, T, H), dtype=x.dtype)
    Fg = np.empty_like(I)
    G = np.empty_like(I)
    O = np.empty_like(I)
    C = np.empty_like(I)
    out = np.empty_like(I)
    xg = x @ w_ih.T + b
    for t in range(T):
        gates = xg[:, t, :] + h @ w_hh.T
        i = _sigmoid(gates[:, :H])
        f = _sigmoid(gates[:, H : 2 * H])
        g = np.tanh(gates[:, 2 * H : 3 * H])
        o = _sigmoid(gates[:, 3 * H :])
        c = f * c + i * g
        h = o * np.tanh(c)
        I[:, t], Fg[:, t], G[:, t], O[:, t], C[:, t], out[:, t] = i, f, g, o, c, h
    return out, (x, I, Fg, G, O, C, out, w_ih, w_hh)


def lstm_backward(cache, dout):
    """BPTT for one direction. dout [B,T,H] is the grad of the SUM loss
    w.r.t. the hidden outputs; returns (dx, dw_ih, dw_hh, db). Standard
    LSTM gradient equations; pad steps contribute exactly zero because the
    loss grad at pads is zero and the recurrence carries zeros backward."""
    x, I, Fg, G, O, C, out, w_ih, w_hh = cache
    B, T, D = x.shape
    H = w_hh.shape[1]
    dw_ih = np.zeros_like(w_ih)
    dw_hh = np.zeros_like(w_hh)
    db = np.zeros(4 * H, dtype=x.dtype)
    dx = np.empty_like(x)
    dh_next = np.zeros((B, H), dtype=x.dtype)
    dc_next = np.zeros((B, H), dtype=x.dtype)
    for t in range(T - 1, -1, -1):
        dh = dout[:, t] + dh_next
        i, f, g, o, c = I[:, t], Fg[:, t], G[:, t], O[:, t], C[:, t]
        tc = np.tanh(c)
        do = dh * tc
        dc = dc_next + dh * o * (1.0 - tc * tc)
        c_prev = C[:, t - 1] if t > 0 else np.zeros_like(c)
        di = dc * g
        df = dc * c_prev
        dg = dc * i
        dc_next = dc * f
        da = np.concatenate(
            [di * i * (1 - i), df * f * (1 - f), dg * (1 - g * g), do * o * (1 - o)],
            axis=1,
        )  # [B, 4H], gate order i,f,g,o (kernel.py:22-23)
        h_prev = out[:, t - 1] if t > 0 else np.zeros((B, H), dtype=x.dtype)
        dw_ih += da.T @ x[:, t]
        dw_hh += da.T @ h_prev
        db += da.sum(axis=0)
        dx[:, t] = da @ w_ih
        dh_next = da @ w_hh
    return dx, dw_ih, dw_hh, db


def bilstm_forward_cache(x, lengths, fwd, bwd):
    out_f, cache_f = lstm_forward_cache(x, *fwd)
    rev = _reverse_by_length(x, lengths)
    out_b_rev, cache_b = lstm_forward_cache(rev, *bwd)
    out_b = _reverse_by_length(out_b_rev, lengths)
    return np.concatenate([out_f, out_b], axis=-1), (cache_f, cache_b)


def bilstm_backward(caches, lengths, dout, grads, prefix):
    """Grad of the length-aware reversal is the reversal itself (it is a
    per-sequence involution), so the backward direction back-propagates on
    the reversed stream."""
    cache_f, cache_b = caches
    H = dout.shape[-1] // 2
    dx_f, dwi_f, dwh_f, db_f = lstm_backward(cache_f, dout[..., :H])
    dout_b_rev = _reverse_by_length(np.ascontiguousarray(dout[..., H:]), lengths)
    dx_rev, dwi_b, dwh_b, db_b = lstm_backward(cache_b, dout_b_rev)
    dx_b = _reverse_by_length(dx_rev, lengths)
    grads[f"{prefix}f_w_ih"], grads[f"{prefix}f_w_hh"], grads[f"{prefix}f_b"] = (
        dwi_f, dwh_f, db_f,
    )
    grads[f"{prefix}b_w_ih"], grads[f"{prefix}b_w_hh"], grads[f"{prefix}b_b"] = (
        dwi_b, dwh_b, db_b,
    )
    return dx_f + dx_b


# --------------------------------------------------------------------------
# full model: training forward (cached) + backward, optional BatchNorm
# --------------------------------------------------------------------------
BN_MOMENTUM = 0.1  # torch BatchNorm1d default


def _zero_pads(h, lengths):
    """Zero positions past each sequence's true length — the values
    pad_packed_sequence fills in before the reference applies BN
    (datexis_model.py:182-188)."""
    out = h.copy()
    for i, L in enumerate(lengths):
        out[i, L:] = 0.0
    return out


def _bn_stats(h, N):
    """Per-channel (mu, biased var) of h over its first two axes with stats
    count N (= B * T_global: torch normalizes over batch AND time, pads
    included). h must already hold the reference's pad values.

    Accumulates in float64 and clamps at 0: E[x²]−E[x]² cancels
    catastrophically in float32 for near-constant channels with large mean
    (relative error ~1e-7 on s2/N ≈ mu² swamps a true var below ~1e-5 and
    can go NEGATIVE, NaN-ing 1/sqrt(var+eps))."""
    h64 = h.astype(np.float64, copy=False)
    s = h64.sum(axis=(0, 1))
    s2 = (h64 * h64).sum(axis=(0, 1))
    mu = s / N
    var = np.maximum(s2 / N - mu * mu, 0.0)
    return mu.astype(h.dtype, copy=False), var.astype(h.dtype, copy=False)


def _bn_apply(h, bn, mu, var):
    gamma, beta, _m, _v, eps = bn
    inv = 1.0 / np.sqrt(var + eps)
    xhat = (h - mu) * inv
    return gamma * xhat + beta, (xhat, inv, gamma)


def forward_train(model: SequenceModel, x, lengths, masks=None, bn_stats=None):
    """Training-mode forward (dropout via explicit masks, inverted scaling
    already baked into the masks). masks = None (eval) or
    [mask_ff [B,T,F], mask_bilstm_0 [B,T,2H], ...] — dropout after FF-ReLU
    and after every BiLSTM, never after the encoder LSTM, mirroring
    StackedBiLSTMModel.forward (datexis_model.py:132-156).

    BatchNorm sites (if the model has them) normalize with BATCH statistics
    in reference order: ff BN pre-ReLU over the raw padded ff output (pads
    = ff bias), each LSTM BN over the pad-zeroed layer output
    (datexis_model.py:132-161 + apply_batch_norm_pack_padded_sequence).
    bn_stats = None computes the stats from this batch (single-node /
    full-batch path) and records them in cache['bn_stats']; a dict
    {site: (mu, var)} injects GLOBAL stats (the distributed sync-BN path,
    where this tensor is only a shard of the batch)."""
    sites = set(bn_sites(model))
    stats: dict = {} if bn_stats is None else dict(bn_stats)
    bn_caches: dict = {}
    N = x.shape[0] * x.shape[1]

    def _site_stats(site, h):
        if site not in stats:
            if N <= 1:
                # torch BatchNorm1d refuses a 1-value-per-channel training
                # batch ("Expected more than 1 value per channel"); training
                # through it with var=0 would be a state the reference
                # cannot reach — mirror the refusal
                raise ValueError(
                    "BatchNorm training requires more than 1 value per "
                    f"channel (batch has N={N})"
                )
            stats[site] = _bn_stats(h, N)
        return stats[site]

    h0 = x @ model.ff_w.T + model.ff_b  # pad rows = ff_b exactly (x pads 0)
    if "ff" in sites:
        mu, var = _site_stats("ff", h0)
        h1, bn_caches["ff"] = _bn_apply(h0, model.ff_bn, mu, var)
    else:
        h1 = h0
    relu_mask = (h1 > 0).astype(x.dtype)
    h = h1 * relu_mask
    if masks is not None:
        h = h * masks[0]
    layer_caches = []
    for li, (fwd, bwd) in enumerate(model.bilstms):
        out, caches = bilstm_forward_cache(h, lengths, fwd, bwd)
        site = f"l{li}"
        if site in sites:
            out_z = _zero_pads(out, lengths)
            mu, var = _site_stats(site, out_z)
            out, bn_caches[site] = _bn_apply(
                out_z, model.bilstm_bns[li], mu, var
            )
        m = masks[1 + li] if masks is not None else None
        layer_caches.append((caches, m))
        h = out * m if m is not None else out
    enc_out, enc_cache = lstm_forward_cache(h, model.enc_w_ih, model.enc_w_hh, model.enc_b)
    if "enc" in sites:
        enc_z = _zero_pads(enc_out, lengths)
        mu, var = _site_stats("enc", enc_z)
        enc_out, bn_caches["enc"] = _bn_apply(enc_z, model.enc_bn, mu, var)
    logits = enc_out @ model.out_w.T + model.out_b
    cache = {
        "x": x, "relu_mask": relu_mask,
        "mask0": masks[0] if masks is not None else None,
        "layers": layer_caches, "enc": enc_cache, "enc_out": enc_out,
        "lengths": lengths, "bn": bn_caches, "bn_stats": stats, "N": N,
    }
    return logits, cache


def backward_model(model: SequenceModel, cache, dlogits, bn_back=None, stop_at=None):
    """Backward through the cached training forward.

    bn_back: None (single/full-batch: the BN backward's mean-corrections use
    this batch's own sums) or {site: (S_dy, S_dyx, N)} GLOBAL sums — the
    sync-BN backward, where Σdy and Σ(dy·x̂) must span the whole batch.

    stop_at: a BN site name → return ('dy', dy, x̂) the moment the backward
    reaches that site's BN OUTPUT, before applying its BN backward. The
    distributed trainer uses this to reduce the site's global Σdy/Σ(dy·x̂)
    across shards, one site per BSP round, top-down."""
    grads: dict[str, np.ndarray] = {}
    bn_caches = cache["bn"]
    lengths = cache["lengths"]
    N_local = cache["N"]

    def _bn_backward(site, dy, zero_pad_dx):
        xhat, inv, gamma = bn_caches[site]
        s_dy_local = dy.sum(axis=(0, 1))
        s_dyx_local = (dy * xhat).sum(axis=(0, 1))
        # parameter grads are LOCAL sums — cross-shard aggregation adds them
        # into the exact global dgamma/dbeta
        grads[f"{site}_bn_g"] = s_dyx_local
        grads[f"{site}_bn_b"] = s_dy_local
        if bn_back is not None and site in bn_back:
            s_dy, s_dyx, n = bn_back[site]
        else:
            s_dy, s_dyx, n = s_dy_local, s_dyx_local, N_local
        dx = gamma * inv * (dy - s_dy / n - xhat * (s_dyx / n))
        # pack_padded_sequence's backward drops pad-position grads at the
        # LSTM sites; the ff site is position-wise over the padded tensor,
        # so its pad grads flow on into the ff bias grad (torch parity)
        return _zero_pads(dx, lengths) if zero_pad_dx else dx

    grads["out_w"] = np.einsum("btc,bth->ch", dlogits, cache["enc_out"])
    grads["out_b"] = dlogits.sum(axis=(0, 1))
    dh = dlogits @ model.out_w
    if "enc" in bn_caches:
        if stop_at == "enc":
            return ("dy", dh, bn_caches["enc"][0])
        dh = _bn_backward("enc", dh, zero_pad_dx=True)
    dh, grads["enc_w_ih"], grads["enc_w_hh"], grads["enc_b"] = lstm_backward(
        cache["enc"], dh
    )
    for li in range(len(model.bilstms) - 1, -1, -1):
        caches, m = cache["layers"][li]
        if m is not None:
            dh = dh * m
        site = f"l{li}"
        if site in bn_caches:
            if stop_at == site:
                return ("dy", dh, bn_caches[site][0])
            dh = _bn_backward(site, dh, zero_pad_dx=True)
        dh = bilstm_backward(caches, cache["lengths"], dh, grads, prefix=f"l{li}")
    if cache["mask0"] is not None:
        dh = dh * cache["mask0"]
    dh = dh * cache["relu_mask"]
    if "ff" in bn_caches:
        if stop_at == "ff":
            return ("dy", dh, bn_caches["ff"][0])
        # single/full-batch: ff pad grads (the BN mean-corrections at the
        # bias-valued pad rows) flow into ff_b below, like torch. In the
        # distributed path this shard's tensor has FEWER pad positions than
        # the global batch (local padding), so pads are excluded here and
        # the driver adds the exact global pad term: n_pad_global ×
        # gamma·inv·(−Σdy − x̂_pad·Σ(dy·x̂))/N (train_distributed).
        dh = _bn_backward(
            "ff", dh, zero_pad_dx=(bn_back is not None and "ff" in bn_back)
        )
    grads["ff_w"] = np.einsum("btf,btd->fd", dh, cache["x"])
    grads["ff_b"] = dh.sum(axis=(0, 1))
    return grads


def cross_entropy_sum(logits, y, ignore_index: int = IGNORE_INDEX):
    """Softmax cross entropy. Returns (loss_SUM over valid tokens, n_valid,
    dlogits of the SUM) — mean-reduction (reference CrossEntropyLoss
    default) is applied by the caller as sum/n_valid AFTER cross-partition
    aggregation, which makes the distributed gradient exactly the
    single-node mean gradient."""
    valid = y != ignore_index
    z = logits - logits.max(axis=-1, keepdims=True)
    logsum = np.log(np.exp(z).sum(axis=-1, keepdims=True))
    logp = z - logsum
    yy = np.where(valid, y, 0)
    picked = np.take_along_axis(logp, yy[..., None], axis=-1)[..., 0]
    loss = -(picked * valid).sum()
    dlogits = np.exp(logp)
    onehot = np.zeros_like(dlogits)
    np.put_along_axis(onehot, yy[..., None], 1.0, axis=-1)
    dlogits = (dlogits - onehot) * valid[..., None]
    return float(loss), int(valid.sum()), dlogits


# --------------------------------------------------------------------------
# Adam (torch semantics: betas (0.9, 0.999), eps 1e-8, no weight decay —
# the reference always constructs optim.Adam(model.parameters(), lr=...)
# with defaults otherwise, main.py:108)
# --------------------------------------------------------------------------
@dataclass
class AdamState:
    m: np.ndarray
    v: np.ndarray
    t: int = 0
    beta1: float = 0.9
    beta2: float = 0.999
    eps: float = 1e-8

    @classmethod
    def like(cls, flat: np.ndarray) -> "AdamState":
        return cls(m=np.zeros_like(flat), v=np.zeros_like(flat))

    def step(self, flat: np.ndarray, grad: np.ndarray, lr: float) -> np.ndarray:
        self.t += 1
        self.m = self.beta1 * self.m + (1.0 - self.beta1) * grad
        self.v = self.beta2 * self.v + (1.0 - self.beta2) * grad * grad
        mhat = self.m / (1.0 - self.beta1**self.t)
        vhat = self.v / (1.0 - self.beta2**self.t)
        return flat - lr * mhat / (np.sqrt(vhat) + self.eps)


# --------------------------------------------------------------------------
# deterministic per-sentence dropout masks
# --------------------------------------------------------------------------
def dropout_masks_for_sentence(
    p: float, length: int, dims: list[int], seed: int, step: int, order_idx: int, dtype
):
    """Inverted-dropout masks for ONE sentence, one per dropout site, drawn
    over the TRUE length only — so the draw is identical no matter how the
    sentence is padded or which partition computes it (the key to
    distributed/single-node parity under dropout)."""
    out = []
    for layer, d in enumerate(dims):
        rng = np.random.default_rng([seed, step, order_idx, layer])
        keep = (rng.random((length, d)) >= p).astype(dtype) / (1.0 - p)
        out.append(keep)
    return out


def _pad_batch(rows, input_dim, dtype, dropout_p, mask_dims, seed, step):
    """rows: list of (order_idx, x [L,D] list-like, y [L] list-like) →
    padded arrays + per-sentence masks assembled into batch masks."""
    B = len(rows)
    lengths = np.array([len(r[2]) for r in rows], dtype=np.int64)
    T = int(lengths.max())
    x = np.zeros((B, T, input_dim), dtype=dtype)
    y = np.full((B, T), IGNORE_INDEX, dtype=np.int64)
    masks = None
    if dropout_p > 0:
        masks = [np.ones((B, T, d), dtype=dtype) for d in mask_dims]
    for bi, (oi, xs, ys) in enumerate(rows):
        L = len(ys)
        x[bi, :L] = np.asarray(xs, dtype=dtype)
        y[bi, :L] = np.asarray(ys, dtype=np.int64)
        if dropout_p > 0:
            ms = dropout_masks_for_sentence(
                dropout_p, L, mask_dims, seed, step, int(oi), dtype
            )
            for site, m in enumerate(ms):
                masks[site][bi, :L] = m
    return x, y, lengths, masks


def _mask_dims(model: SequenceModel) -> list[int]:
    ff = model.ff_w.shape[0]
    return [ff] + [2 * f[1].shape[1] for f, _ in model.bilstms]


def batch_gradient(
    model, spec, rows, *, dropout_p, seed, step, dtype,
    bn_stats=None, bn_back=None, stats_out=None,
):
    """Sum-CE gradient over `rows` (any subset of a global batch).
    Additive across subsets: sum over shards == the full-batch gradient.
    For BN models: bn_stats/bn_back inject the global batch statistics and
    backward sums (sync-BN); stats_out (a dict) receives the batch stats
    plus '_N' when the stats were computed here (single/full-batch path)."""
    if not rows:
        size = sum(int(np.prod(s)) for _, s in spec)
        return np.zeros(size, dtype=dtype), 0.0, 0
    x, y, lengths, masks = _pad_batch(
        rows, model.input_dim, dtype, dropout_p, _mask_dims(model), seed, step
    )
    logits, cache = forward_train(model, x, lengths, masks, bn_stats=bn_stats)
    if stats_out is not None:
        stats_out.update(cache["bn_stats"])
        stats_out["_N"] = cache["N"]
    loss, n_valid, dlogits = cross_entropy_sum(logits, y)
    grads = backward_model(model, cache, dlogits, bn_back=bn_back)
    return flatten_grads(grads, spec), loss, n_valid


def _update_running_stats(buffers: dict, stats: dict, N: int) -> None:
    """torch BatchNorm1d running-stat update at each training forward:
    running = (1-m)*running + m*batch, momentum 0.1, var unbiased N/(N-1)."""
    for site, st in stats.items():
        if site == "_N":
            continue
        mu, var = st
        mean, rvar, eps = buffers[site]
        unbiased = var * (N / (N - 1.0)) if N > 1 else var
        buffers[site] = (
            (1.0 - BN_MOMENTUM) * mean + BN_MOMENTUM * mu,
            (1.0 - BN_MOMENTUM) * rvar + BN_MOMENTUM * unbiased,
            eps,
        )


# --------------------------------------------------------------------------
# entity-level micro P/R/F1 (evaluation metric, annotator.py:92-106)
# --------------------------------------------------------------------------
def prf_counts(pred_tag_lists, gold_tag_lists) -> tuple[int, int, int]:
    from ..spans import decode_spans_reference

    pred = set(decode_spans_reference(pred_tag_lists))
    gold = set(decode_spans_reference(gold_tag_lists))
    tp = len(pred & gold)
    return tp, len(pred) - tp, len(gold) - tp


def _eval_rows(model: SequenceModel, rows, dtype) -> tuple[int, int, int]:
    """Entity-level tp/fp/fn over (x, y) rows using the golden-verified
    INFERENCE forward (kernel.SequenceModel.forward — dropout off)."""
    if not rows:
        return 0, 0, 0
    lengths = np.array([len(r[1]) for r in rows], dtype=np.int64)
    T = int(lengths.max())
    x = np.zeros((len(rows), T, model.input_dim), dtype=dtype)
    gold_tags = []
    for bi, (xs, ys) in enumerate(rows):
        L = len(ys)
        x[bi, :L] = np.asarray(xs, dtype=dtype)
        gold_tags.append([str(TAGS[t]) for t in ys])
    pred_tags = model.predict_tags(x, lengths)
    return prf_counts(pred_tags, gold_tags)


def _prf1(tp: int, fp: int, fn: int) -> tuple[float, float, float]:
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return p, r, f1


# --------------------------------------------------------------------------
# results container
# --------------------------------------------------------------------------
@dataclass
class TrainResult:
    flat: np.ndarray  # best weights (by val F1)
    spec: list
    history: list = field(default_factory=list)  # per-epoch dicts
    best_val_f1: float = 0.0
    best_epoch: int = 0
    stopped_epoch: int = 0
    bn_buffers: dict | None = None  # BN running stats at the best epoch
    name: str = "DATEXIS-NER"  # source model's architecture label

    def model(self, name: str | None = None) -> SequenceModel:
        return model_from_flat(
            self.flat, self.spec,
            name=name if name is not None else self.name,
            bn_buffers=self.bn_buffers,
        )


def _early_stop_loop(
    epoch_fn, eval_fn, flat0, spec, max_epochs, patience, save_path,
    buffers=None, name="DATEXIS-NER",
):
    """Shared driver loop: per-epoch train + val F1, ignite-style early
    stopping (counter resets only on strict improvement, annotator via
    ignite EarlyStopping patience=10) and best-checkpoint (n_saved=1,
    annotator.py:140-150). `buffers` (BN running stats, mutated by
    epoch_fn) are snapshotted with the best weights — torch checkpoints
    carry named_buffers alongside parameters."""
    import time

    def _snap(b):
        return (
            {s: (m.copy(), v.copy(), eps) for s, (m, v, eps) in b.items()}
            if b is not None
            else None
        )

    flat = flat0
    best_f1, best_flat, best_epoch, stall = -1.0, flat0, 0, 0
    best_buf = _snap(buffers)
    history = []
    stopped = 0
    for epoch in range(1, max_epochs + 1):
        t0 = time.perf_counter()
        flat, mean_loss = epoch_fn(flat, epoch)
        epoch_sec = time.perf_counter() - t0
        p, r, f1 = eval_fn(flat)
        history.append(
            {"epoch": epoch, "train_loss": mean_loss, "val_precision": p,
             "val_recall": r, "val_f1": f1, "epoch_sec": epoch_sec}
        )
        if f1 > best_f1:
            best_f1, best_flat, best_epoch, stall = f1, flat.copy(), epoch, 0
            best_buf = _snap(buffers)
        else:
            stall += 1
        stopped = epoch
        if stall >= patience:
            break
    res = TrainResult(
        flat=best_flat, spec=spec, history=history,
        best_val_f1=max(best_f1, 0.0), best_epoch=best_epoch, stopped_epoch=stopped,
        bn_buffers=best_buf, name=name,
    )
    if save_path:
        res.model().save(save_path)
    return res


# --------------------------------------------------------------------------
# single-node authority (differential twin of the Spark trainer)
# --------------------------------------------------------------------------
def train_single_node(
    train_rows,  # list of (order_idx, x, y) — already doc-shuffle-ordered
    val_rows,  # list of (x, y)
    model: SequenceModel,
    *,
    batch_size: int = 64,
    max_epochs: int = 10,
    lr: float = 0.0005,
    dropout_p: float = 0.0,
    seed: int = 1632737901,
    patience: int = 10,
    model_save_path: str | None = None,
    dtype=np.float32,
) -> TrainResult:
    spec = param_spec(model)
    flat0 = flatten_params(model, dtype)
    adam = AdamState.like(flat0)
    ordered = sorted(train_rows, key=lambda r: r[0])
    n_steps = math.ceil(len(ordered) / batch_size)
    if n_steps == 0:
        # fail loudly: np.mean([]) would otherwise return nan and the run
        # would "succeed" for max_epochs, yielding an untrained checkpoint
        raise ValueError("empty training set (0 rows) — nothing to train on")
    buffers = {
        s: (m0.astype(dtype), v0.astype(dtype), eps)
        for s, (m0, v0, eps) in bn_buffers_of(model).items()
    } or None

    def epoch_fn(flat, epoch):
        losses = []
        for k in range(n_steps):
            m = model_from_flat(flat, spec, bn_buffers=buffers)
            step = (epoch - 1) * n_steps + k
            rows = ordered[k * batch_size : (k + 1) * batch_size]
            stats_out: dict | None = {} if buffers else None
            grad, loss, n_valid = batch_gradient(
                m, spec, rows, dropout_p=dropout_p, seed=seed, step=step,
                dtype=dtype, stats_out=stats_out,
            )
            if buffers and stats_out:
                _update_running_stats(buffers, stats_out, stats_out["_N"])
            flat = adam.step(flat, grad / max(n_valid, 1), lr)
            losses.append(loss / max(n_valid, 1))
        return flat, float(np.mean(losses))

    def eval_fn(flat):
        m = model_from_flat(flat, spec, bn_buffers=buffers)
        return _prf1(*_eval_rows(m, val_rows, dtype))

    return _early_stop_loop(
        epoch_fn, eval_fn, flat0, spec, max_epochs, patience, model_save_path,
        buffers=buffers, name=model.name,
    )


# --------------------------------------------------------------------------
# B2: deterministic document-level shuffle → global sentence order
# --------------------------------------------------------------------------
def assign_doc_shuffled_order(df, seed: int):
    """Doc-level shuffle (reference CoNLLDataLoader: random.shuffle of
    dataset.documents then flatten, conll_dataloader.py:10-12) as a
    deterministic distributed op: documents ordered by xxhash64(seed,
    doc_id) — a seeded permutation — sentences stay contiguous per doc.

    Returns (DataFrame with order_idx, n_sentences). The global index is
    the two-phase distributed rank (range-partition by the shuffle key →
    partitioned window → driver offset add; same pattern as
    functions/ngrams.build_vocabulary — no single-partition window), then
    order_idx = doc's sentence-count prefix sum + rank within doc.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = df.sparkSession
    n_ranges = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    doc_counts = (
        df.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_n_sent"))
        .withColumn("_shuf", F.xxhash64(F.lit(seed), F.col("doc_id")))
    )
    sort_key = [F.asc("_shuf"), F.asc("doc_id")]
    ranged = (
        doc_counts.repartitionByRange(n_ranges, *sort_key)
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # per-partition totals of SENTENCES (not docs): the doc prefix offsets
    totals = ranged.groupBy("_pid").agg(
        F.sum("_n_sent").alias("sz"), F.count(F.lit(1)).alias("docs")
    ).collect()
    sizes = {r["_pid"]: r["sz"] for r in totals}
    n_docs = sum(r["docs"] for r in totals)
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    n_sentences = acc
    offset_expr = (
        F.element_at(
            F.create_map(*[F.lit(v) for kv in sorted(offsets.items()) for v in kv]),
            F.col("_pid"),
        )
        if offsets
        else F.lit(0)
    )
    w = Window.partitionBy("_pid").orderBy(*sort_key)
    doc_offsets = ranged.withColumn(
        "_doc_off",
        offset_expr + F.sum("_n_sent").over(w) - F.col("_n_sent"),
    ).select("doc_id", "_pid", "_n_sent", "_doc_off")
    # cut the lineage to `ranged` (one small one-row-per-doc
    # materialization) and release its cache NOW — otherwise the persisted
    # counts table stays pinned in executor memory for the whole training
    # run (one leaked cache entry per grid_search trial).
    # localCheckpoint DELIBERATELY, not persist: repartitionByRange picks
    # boundaries by sampling, so a lineage recompute (cache eviction /
    # executor loss) could re-sample different _pid assignments while the
    # collected `offsets` map still encodes the old ones — silently wrong
    # order_idx. A checkpoint block lost to executor death AFTER this line
    # fails LOUDLY; fault-tolerant clusters should use a reliable
    # checkpoint dir (sc.setCheckpointDir + .checkpoint()) for multi-hour
    # runs.
    doc_offsets = doc_offsets.localCheckpoint(eager=True)
    ranged.unpersist()
    # Close the remaining silent window: a cached `ranged` partition lost
    # BETWEEN the totals collect and this checkpoint recomputes through
    # repartitionByRange with re-sampled boundaries, so rows can land in
    # _pids inconsistent with the collected `offsets` and the checkpoint
    # then materializes duplicated/skipped order_idx ranges without any
    # error. Audit the MATERIALIZED result against the collected totals:
    # any row→_pid reassignment that can corrupt the tiling changes some
    # partition's (doc count, sentence sum). Docs swapping pids with EQUAL
    # _n_sent pass the audit but only permute which valid interval each
    # doc gets — the order_idx tiling stays exact. One tiny job (one row
    # per doc in, one row per partition out).
    audit = {
        r["_pid"]: (r["docs"], r["sz"])
        for r in doc_offsets.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("docs"), F.sum("_n_sent").alias("sz"))
        .collect()
    }
    expected = {r["_pid"]: (r["docs"], r["sz"]) for r in totals}
    if audit != expected:
        raise RuntimeError(
            "assign_doc_shuffled_order: partition totals of the "
            "materialized doc-offset table disagree with the collected "
            "prefix offsets (a cached partition was recomputed with "
            "re-sampled range boundaries mid-build); order_idx would be "
            "silently corrupted. Re-run the shuffle assignment."
        )
    doc_offsets = doc_offsets.select("doc_id", "_doc_off")
    sent_w = Window.partitionBy("doc_id").orderBy("sentence_id")
    out = (
        # the offsets table is one row per doc — broadcast while it is
        # dimension-table-sized, shuffle-join beyond that
        df.join(F.broadcast(doc_offsets) if n_docs <= 2_000_000 else doc_offsets, "doc_id")
        .withColumn("order_idx", F.col("_doc_off") + F.row_number().over(sent_w) - 1)
        .drop("_doc_off")
    )
    return out, int(n_sentences)


# --------------------------------------------------------------------------
# M9: the distributed trainer
# --------------------------------------------------------------------------
def _index_block(it):
    """One cached object per partition: rows sorted by order_idx plus an
    int64 key index, so each step's task binary-searches its batch slice.
    Partitions are keyed by (step block, shard) — see train_distributed —
    so a step's job touches (and deserializes) ONLY the n_shards
    partitions holding its rows: O(steps_per_block × batch) rows per
    step, independent of corpus size. RDD.cache() stores partitions
    PICKLED, so partition granularity — not the binary search — is what
    bounds per-step deserialization; the search only avoids re-scanning
    within the block."""
    rows = sorted(it, key=lambda r: r[0])
    yield (np.array([r[0] for r in rows], dtype=np.int64), rows)


def _slice_block(block, lo, hi, acc=None, block_acc=None):
    idx, rows = block
    a = int(np.searchsorted(idx, lo))
    b = int(np.searchsorted(idx, hi))
    if acc is not None:
        # test/metrics hooks only: accumulator updates inside a job are
        # at-LEAST-once (task retries and speculative execution re-add),
        # so on a real cluster this can over-count — never gate logic on
        # it. `acc` counts batch rows materialized; `block_acc` counts
        # rows DESERIALIZED (the whole cached block), pinning the
        # partition-pruning guarantee
        acc.add(b - a)
    if block_acc is not None:
        block_acc.add(len(rows))
    return rows[a:b]


def _bn_site_dim(m: SequenceModel, site: str) -> int:
    if site == "ff":
        return m.ff_w.shape[0]
    if site == "enc":
        return m.enc_w_hh.shape[1]
    return 2 * m.bilstms[int(site[1:])][0][1].shape[1]


def bn_site_input(model: SequenceModel, x, lengths, masks, stats, site):
    """Raw input tensor of BN `site` for THIS shard of the batch, computed
    with GLOBAL stats for every earlier site: raw h0 for 'ff' (pads = ff
    bias), pad-zeroed LSTM output otherwise. Uses the cache-free kernel
    forwards — this runs once per site per step in the sync-BN stat
    reduction, where forward_train's full activation caches would be
    wasted memory. MUST mirror forward_train's layer traversal (BN
    placement, pad zeroing, dropout-mask application) exactly; the parity
    is pinned by tests/test_train.py::
    test_bn_site_input_matches_forward_train — extend that test when
    changing either traversal."""
    h0 = x @ model.ff_w.T + model.ff_b
    if site == "ff":
        return h0
    h1 = h0
    if model.ff_bn is not None:
        h1, _ = _bn_apply(h0, model.ff_bn, *stats["ff"])
    h = h1 * (h1 > 0).astype(h1.dtype)
    if masks is not None:
        h = h * masks[0]
    for li, (fwd, bwd) in enumerate(model.bilstms):
        out = bilstm_forward(h, lengths, fwd, bwd)
        s = f"l{li}"
        if model.bilstm_bns and model.bilstm_bns[li] is not None:
            out_z = _zero_pads(out, lengths)
            if s == site:
                return out_z
            out, _ = _bn_apply(out_z, model.bilstm_bns[li], *stats[s])
        m = masks[1 + li] if masks is not None else None
        h = out * m if m is not None else out
    enc_out = lstm_forward(h, model.enc_w_ih, model.enc_w_hh, model.enc_b)
    return _zero_pads(enc_out, lengths)  # site == 'enc'


def train_distributed(
    spark,
    train_df,  # columns: doc_id long, sentence_id, x array<array<float/double>>, y array<int>
    val_df,  # columns: x, y
    model: SequenceModel,
    *,
    batch_size: int = 64,
    max_epochs: int = 10,
    lr: float = 0.0005,
    dropout_p: float = 0.0,
    seed: int = 1632737901,
    patience: int = 10,
    n_shards: int | None = None,
    steps_per_block: int = 8,
    model_save_path: str | None = None,
    dtype=np.float32,
    _rows_accumulator=None,  # test hook: counts rows materialized per step
    _block_rows_accumulator=None,  # test hook: counts rows DESERIALIZED
) -> TrainResult:
    """Synchronous data-parallel training. Every global batch is the SAME
    batch the reference's sequential loop would form (doc-shuffled order,
    consecutive slices of `batch_size`), split across `n_shards` shards by
    order_idx % n_shards; each Adam step aggregates the shards'
    sum-gradients and updates on the driver.

    Scale law: the cached RDD is partitioned by (step block, shard) —
    partition = (order_idx // (batch_size·steps_per_block))·n_shards +
    order_idx % n_shards — and every per-step job runs via sc.runJob on
    ONLY the n_shards partitions holding that step's rows. Cached
    partitions unpickle whole, so per-step deserialization is
    O(steps_per_block × batch) rows, independent of corpus size, and
    per-epoch row visits are O(steps_per_block × n) — a full shard scan
    per step (O(n²/P) per epoch) never happens at any corpus size.
    steps_per_block trades partition count against per-step unpickle
    volume: 10M sentences at batch 64 → ~156k steps → ~20k·n_shards
    cached partitions at the default 8, each task unpickling ≤512 rows.
    The driver reduces n_shards partial (grad, loss, n) tuples per step
    (runJob has no executor-side tree combine; fine for n_shards ≤ ~32 —
    raise steps_per_block, not n_shards, for bigger corpora). BN models
    run the sync-BN schedule (module docstring): per step, one
    stat-reduction job per BN site forward, one Σdy/Σ(dy·x̂) job per site
    backward, then the grad job. Differentially tested against
    train_single_node to ~1e-9, with and without BN (tests/test_train.py)."""
    sc = spark.sparkContext
    if n_shards is None:
        # clamp to the driver-side-fold bound documented above: runJob has
        # no executor-side combine, so each step materializes n_shards full
        # gradient partials in the driver — on a 256-core cluster an
        # unclamped defaultParallelism//4 would be 64 partials/step (driver
        # OOM risk for BioNER-sized models). Scale via steps_per_block (and
        # batch_size), not shard count.
        n_shards = min(32, max(2, sc.defaultParallelism // 4))
    ordered, n_train = assign_doc_shuffled_order(train_df, seed)
    n_steps = math.ceil(n_train / batch_size)
    if n_steps == 0:
        # fail loudly (mirrors train_single_node): an upstream mis-join that
        # filters the frame to zero rows must not "train" for max_epochs
        # and return the init weights with train_loss=nan
        raise ValueError("empty training set (0 rows) — nothing to train on")
    steps_per_block = max(1, int(steps_per_block))
    n_blocks = math.ceil(n_steps / steps_per_block)
    block_rows = batch_size * steps_per_block

    def _part_of(k: int) -> int:
        return (k // block_rows) * n_shards + (k % n_shards)

    train_rdd = (
        ordered.select("order_idx", "x", "y")
        .rdd.map(lambda r: (int(r[0]), (int(r[0]), r[1], r[2])))
        .partitionBy(n_blocks * n_shards, _part_of)
        .values()
        .mapPartitions(_index_block, preservesPartitioning=True)
        .cache()
    )
    val_rdd = val_df.select("x", "y").rdd.map(lambda r: (r[0], r[1])).cache()
    train_rdd.count()  # materialize once before the timed loop

    def _step_parts(step: int) -> list[int]:
        # the n_shards partitions holding step's batch rows (step is the
        # global step; the within-epoch index sets the block)
        blk = (step % n_steps) // steps_per_block
        return [blk * n_shards + s for s in range(n_shards)]

    spec = param_spec(model)
    flat0 = flatten_params(model, dtype)
    adam = AdamState.like(flat0)
    zero = (np.zeros_like(flat0), 0.0, 0)
    sites = bn_sites(model)
    buffers = {
        s: (m0.astype(dtype), v0.astype(dtype), eps)
        for s, (m0, v0, eps) in bn_buffers_of(model).items()
    } or None
    acc = _rows_accumulator
    block_acc = _block_rows_accumulator
    param_slices, _off = {}, 0
    for _n, _shape in spec:
        _size = int(np.prod(_shape))
        param_slices[_n] = slice(_off, _off + _size)
        _off += _size

    def _add3(a, b):
        return (a[0] + b[0], a[1] + b[1], a[2] + b[2])

    def _grad_job(bw_w, lo, hi, step, bn_stats=None, bn_back=None):
        # bw_w carries (flat, buffers) — broadcast ONCE per step by
        # epoch_fn and shared by every job of the step; only the small
        # per-site stat/correction dicts ship per job (at BioNER size the
        # weights are ~300 MB, the dicts a few KB — rebroadcasting the
        # weights per job would multiply the step's driver serialization
        # and torrent traffic by 2k+1 for k BN sites). Non-BN steps skip
        # the second broadcast entirely — (None, None) has nothing to ship
        bs = (
            sc.broadcast((bn_stats, bn_back))
            if bn_stats is not None or bn_back is not None
            else None
        )

        def shard_grad(it, lo=lo, hi=hi, step=step):
            w, bufs = bw_w.value
            stats, back = bs.value if bs is not None else (None, None)
            m = model_from_flat(w, spec, bn_buffers=bufs)
            rows = []
            for block in it:
                rows = _slice_block(block, lo, hi, acc, block_acc)
            yield batch_gradient(
                m, spec, rows, dropout_p=dropout_p, seed=seed, step=step,
                dtype=dtype, bn_stats=stats, bn_back=back,
            )

        # runJob on ONLY the step's partitions (the partition-pruning scale
        # law in the function docstring); the driver folds n_shards partial
        # tuples — no executor-side tree, fine at n_shards ≤ ~32
        out = zero
        try:
            for part in sc.runJob(train_rdd, shard_grad, _step_parts(step)):
                out = _add3(out, part)
        finally:
            if bs is not None:
                # destroy, not unpersist: the step never reuses this
                # broadcast (the next step re-broadcasts), and unpersist
                # leaves the driver-side blob + on-disk broadcast file to
                # nondeterministic GC — at one broadcast per job over ~156k
                # steps that lingering driver garbage is GBs (same rule at
                # every per-step broadcast below)
                bs.destroy()
        return out

    def _bn_step_stats(bw_w, flat, lo, hi, step):
        """Sync-BN forward schedule: one reduction per site, in forward
        order — each site's input depends on the global stats of the sites
        before it. Returns ({site: (mu, var)}, N_global). bw_w = the
        step's shared (flat, buffers) broadcast (executor side); the
        driver-side template is built from the in-scope flat — reading
        bw_w.value on the driver would re-unpickle the whole ~weights-size
        blob from the broadcast temp file once per step."""
        template = model_from_flat(flat, spec, bn_buffers=buffers)
        stats: dict = {}
        meta = None  # (B_tot, len_tot, T_global) — from the first pass
        for site in sites:
            dim = _bn_site_dim(template, site)
            bw = sc.broadcast(dict(stats))

            def stat_pass(it, site=site, dim=dim, lo=lo, hi=hi, step=step):
                w, bufs = bw_w.value
                known = bw.value
                m = model_from_flat(w, spec, bn_buffers=bufs)
                rows = []
                for block in it:
                    rows = _slice_block(block, lo, hi, None, block_acc)
                if not rows:
                    yield (np.zeros(dim, dtype=dtype), np.zeros(dim, dtype=dtype),
                           0, 0, 0)
                    return
                x, _, lengths, masks = _pad_batch(
                    rows, m.input_dim, dtype, dropout_p, _mask_dims(m), seed, step
                )
                h = bn_site_input(m, x, lengths, masks, known, site)
                hz = _zero_pads(h, lengths)  # valid-only sums (T-independent)
                # float64 shard sums: see _bn_stats — float32 E[x²]−E[x]²
                # cancellation would NaN var for near-constant channels
                hz64 = hz.astype(np.float64, copy=False)
                yield (
                    hz64.sum(axis=(0, 1)), (hz64 * hz64).sum(axis=(0, 1)),
                    len(rows), int(lengths.sum()), int(lengths.max()),
                )

            z = (np.zeros(dim, dtype=np.float64),
                 np.zeros(dim, dtype=np.float64), 0, 0, 0)

            def comb(a, b):
                return (a[0] + b[0], a[1] + b[1], a[2] + b[2], a[3] + b[3],
                        max(a[4], b[4]))

            agg = z
            try:
                for part in sc.runJob(train_rdd, stat_pass, _step_parts(step)):
                    agg = comb(agg, part)
            finally:
                bw.destroy()
            s, s2, b_tot, len_tot, t_max = agg
            if meta is None:
                meta = (b_tot, len_tot, t_max)
            b_tot, len_tot, t_max = meta
            n = b_tot * t_max
            if n <= 1:
                # same refusal as forward_train._site_stats: torch cannot
                # train BN on a 1-value-per-channel batch
                raise ValueError(
                    "BatchNorm training requires more than 1 value per "
                    f"channel (global batch has N={n})"
                )
            if site == "ff":
                # pad positions of the padded ff output equal the ff bias
                # exactly (x pads are zero); fold them into the sums
                ff_b = template.ff_b.astype(np.float64)
                n_pad = n - len_tot
                s = s + n_pad * ff_b
                s2 = s2 + n_pad * ff_b * ff_b
            mu = s / n
            var = np.maximum(s2 / n - mu * mu, 0.0)
            stats[site] = (mu.astype(dtype), var.astype(dtype))
        return stats, meta

    def _bn_step_back(bw_w, flat, stats, lo, hi, step, n_global):
        """Sync-BN backward schedule: global Σdy / Σ(dy·x̂) per site,
        top-down — each site's dy depends on the corrections above it.
        bw_w = the step's shared (flat, buffers) broadcast (executor
        side); the driver-side template comes from the in-scope flat (see
        _bn_step_stats); only the (stats, corrections-so-far) dicts ship
        per site."""
        back: dict = {}
        template = model_from_flat(flat, spec, bn_buffers=buffers)
        for site in reversed(sites):
            dim = _bn_site_dim(template, site)
            bw = sc.broadcast((stats, dict(back)))

            def back_pass(it, site=site, dim=dim, lo=lo, hi=hi, step=step):
                w, bufs = bw_w.value
                gstats, known_back = bw.value
                m = model_from_flat(w, spec, bn_buffers=bufs)
                rows = []
                for block in it:
                    rows = _slice_block(block, lo, hi, None, block_acc)
                if not rows:
                    yield (np.zeros(dim, dtype=dtype), np.zeros(dim, dtype=dtype))
                    return
                x, y, lengths, masks = _pad_batch(
                    rows, m.input_dim, dtype, dropout_p, _mask_dims(m), seed, step
                )
                logits, cache = forward_train(m, x, lengths, masks, bn_stats=gstats)
                _, _, dlogits = cross_entropy_sum(logits, y)
                tag, dy, xhat = backward_model(
                    m, cache, dlogits, bn_back=known_back, stop_at=site
                )
                assert tag == "dy"
                yield (dy.sum(axis=(0, 1)), (dy * xhat).sum(axis=(0, 1)))

            s_dy = np.zeros(dim, dtype=dtype)
            s_dyx = np.zeros(dim, dtype=dtype)
            try:
                for p_dy, p_dyx in sc.runJob(
                    train_rdd, back_pass, _step_parts(step)
                ):
                    s_dy = s_dy + p_dy
                    s_dyx = s_dyx + p_dyx
            finally:
                bw.destroy()
            back[site] = (s_dy, s_dyx, n_global)
        return back

    def epoch_fn(flat, epoch):
        losses = []
        for k in range(n_steps):
            step = (epoch - 1) * n_steps + k
            lo, hi = k * batch_size, (k + 1) * batch_size
            # ONE weight broadcast per step, shared by every job of the
            # step (2k+1 jobs at k BN sites); buffers mutate between steps
            # so the pair is re-broadcast each step, never each job
            bw_w = sc.broadcast((flat, buffers))
            try:
                if sites:
                    stats, meta = _bn_step_stats(bw_w, flat, lo, hi, step)
                    n_global = meta[0] * meta[2]
                    back = _bn_step_back(
                        bw_w, flat, stats, lo, hi, step, n_global
                    )
                    grad, loss, n_valid = _grad_job(
                        bw_w, lo, hi, step, bn_stats=stats, bn_back=back
                    )
                    if "ff" in stats:
                        # global ff pad term excluded shard-side
                        # (backward_model): every pad row of the padded ff
                        # output is the bias, so its BN-backward grad is one
                        # constant vector × n_pad
                        t = model_from_flat(flat, spec, bn_buffers=buffers)
                        gamma, eps = t.ff_bn[0], t.ff_bn[4]
                        mu, var = stats["ff"]
                        inv = 1.0 / np.sqrt(var + eps)
                        s_dy, s_dyx, n = back["ff"]
                        xhat_pad = (t.ff_b - mu) * inv
                        dx_pad = gamma * inv * (
                            -s_dy / n - xhat_pad * (s_dyx / n)
                        )
                        n_pad = n_global - meta[1]
                        grad[param_slices["ff_b"]] += n_pad * dx_pad
                    _update_running_stats(buffers, stats, n_global)
                else:
                    grad, loss, n_valid = _grad_job(bw_w, lo, hi, step)
            finally:
                # a failed step job (e.g. the BN 1-value-batch refusal) must
                # not strand a weights-sized broadcast — callers that catch
                # and continue (grid_search trials) would accumulate them
                bw_w.destroy()
            flat = adam.step(flat, grad / max(n_valid, 1), lr)
            losses.append(loss / max(n_valid, 1))
        return flat, float(np.mean(losses))

    def eval_fn(flat):
        bw = sc.broadcast((flat, buffers))

        def shard_eval(it):
            # chunk the partition: one dense pad batch per batch_size rows
            # (a whole-partition batch is O(n_rows x max_len x input_dim)
            # memory — one 256-token outlier in a 100k-sentence shard would
            # allocate tens of GB; chunking bounds it like the train path)
            w, bufs = bw.value
            m = model_from_flat(w, spec, bn_buffers=bufs)
            tp = fp = fn = 0
            chunk: list = []
            for r in it:
                chunk.append(r)
                if len(chunk) >= batch_size:
                    a, b, c = _eval_rows(m, chunk, dtype)
                    tp, fp, fn = tp + a, fp + b, fn + c
                    chunk = []
            a, b, c = _eval_rows(m, chunk, dtype)
            yield tp + a, fp + b, fn + c

        try:
            tp, fp, fn = val_rdd.mapPartitions(shard_eval).treeAggregate(
                (0, 0, 0),
                lambda a, b: (a[0] + b[0], a[1] + b[1], a[2] + b[2]),
                lambda a, b: (a[0] + b[0], a[1] + b[1], a[2] + b[2]),
                depth=2,
            )
        finally:
            bw.destroy()
        return _prf1(tp, fp, fn)

    try:
        return _early_stop_loop(
            epoch_fn, eval_fn, flat0, spec, max_epochs, patience, model_save_path,
            buffers=buffers, name=model.name,
        )
    finally:
        train_rdd.unpersist()
        val_rdd.unpersist()


# --------------------------------------------------------------------------
# encoded training frame from tagged tokens (the reference's
# Annotator.load_dataset = CoNLLDataset + FasttextEncoder.encode,
# annotator.py:190-196 — BioNER trains on fastText vectors ONLY,
# fasttext_encoder.py:17-28)
# --------------------------------------------------------------------------
def training_frame_fasttext(tokens, ft_model, tag_col: str = "tag"):
    """tokens (doc_id, sentence_id, token_id, text, tag) → one row per
    sentence: (doc_id, sentence_id, x: array<array<float>>, y: array<int>)
    ready for train_distributed. Labels: B=0, I=1, O=2 (bio2tag.py:12-18,
    matching kernel.predict_tags). One shuffle (the sentence groupBy);
    the fastText lookup is the vectorized distinct-word path of
    fasttext_token_vectors."""
    from pyspark.sql import functions as F

    from .fasttext import fasttext_token_vectors

    enc = fasttext_token_vectors(tokens, ft_model, out_col="_ft_vec")
    tag_idx = (
        F.when(F.col(tag_col) == "B", 0)
        .when(F.col(tag_col) == "I", 1)
        .otherwise(2)
        .cast("int")
    )
    return (
        enc.select(
            "doc_id", "sentence_id", "token_id",
            F.col("_ft_vec").alias("_x"), tag_idx.alias("_y"),
        )
        .groupBy("doc_id", "sentence_id")
        .agg(F.array_sort(F.collect_list(F.struct("token_id", "_x", "_y"))).alias("_t"))
        .select(
            "doc_id", "sentence_id",
            F.transform("_t", lambda s: s["_x"]).alias("x"),
            F.transform("_t", lambda s: s["_y"]).alias("y"),
        )
    )


# --------------------------------------------------------------------------
# A15: architecture grid search (parameter_optimization.py:12-14, 94-131)
# --------------------------------------------------------------------------
def grid_search(
    train_fn,  # (lr, lstm_size, ff_size) -> TrainResult-like with .best_val_f1
    learning_rates=(0.005, 0.0005),
    lstm_sizes=(20, 256, 512, 1024, 2048, 4096),
    ff_sizes=(150, 256, 512, 1024, 2048, 4096),
):
    """The reference's sweep rule, exactly: for each (lr, lstm) the ff loop
    carries last_f1 starting at 0.0 and BREAKS as soon as a result scores
    below it (parameter_optimization.py:96, 128-131). Each train_fn call is
    itself a distributed Spark job (train_distributed), so the sweep
    parallelism axis is within-run; runs are sequential like the reference."""
    results = []
    for lr in learning_rates:
        for lstm in lstm_sizes:
            last_f1 = 0.0
            for ff in ff_sizes:
                res = train_fn(lr, lstm, ff)
                results.append(
                    {"lr": lr, "lstm_size": lstm, "ff_size": ff,
                     "val_f1": res.best_val_f1, "result": res}
                )
                if res.best_val_f1 < last_f1:
                    break
                last_f1 = res.best_val_f1
    best = max(results, key=lambda r: r["val_f1"]) if results else None
    return results, best
