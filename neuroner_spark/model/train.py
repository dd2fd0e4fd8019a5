"""Distributed training (SURVEY.md O3/A8/F6/K4 — the reference
training loop re-expressed Spark-first).

Reference parity: ``src/neuroner.py :: fit`` runs an epoch loop of
per-sentence SGD steps (batch size 1) with per-epoch evaluation,
checkpointing, and patience-based early stopping.  Three trainers
share one distributed shape:

  per executor : Arrow batch -> forward (+ BPTT backward) -> gradient
                 sums  [mapInPandas, ONE row out per partition]
  cluster      : gradient rows -> driver sum (O(model) dense +
                 O(touched tokens) sparse embedding part — the classic
                 parameter-server-free all-reduce-to-driver shape)
  driver       : clip -> momentum-SGD/Adam update -> re-broadcast
  epoch end    : O3 deterministic reshuffle (one hash-shuffle), A8
                 patience on train loss or valid conlleval F1, K4
                 per-epoch checkpoint.

- ``train_output_layer``: softmax head only, encoder frozen
  (transfer-learning style; reference ``reload_*`` flags).
- ``train_crf_transitions``: structured perceptron on the transition
  matrix (Viterbi-point gradients), unaries fixed.
- ``train_full_network``: the reference ``fit()`` — hand-derived BPTT
  through FF + token Bi-LSTM (+ embedding rows), objective 'softmax'
  or exact CRF log-likelihood ('crf'), optional deterministic dropout.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from neuroner_spark.io import pin, release
from neuroner_spark.model.bilstm_crf import (
    backward_features,
    char_encode_backward,
    crf_loss_grad,
    forward_features,
    forward_features_cache,
)
from neuroner_spark.model.tagger import SUB_BATCH, _encode_flat
from neuroner_spark.model.weights import (
    CHAR_HIDDEN,
    LABELS,
    N_CLASSES,
    TOKEN_DIM,
    save_bundle,
)

GRAD_SCHEMA = T.StructType(
    [
        T.StructField("grad", T.ArrayType(T.DoubleType()), False),
        T.StructField("loss_sum", T.DoubleType(), False),
        T.StructField("n_tokens", T.LongType(), False),
        # sparse embedding gradient: only the rows this partition's
        # tokens touched (ids + row-major values). At a 10^8-token web
        # vocabulary a dense row would be O(vocab x dim) per partition;
        # this is O(distinct tokens in partition) — the wire format is
        # sparse, the driver update stays mathematically identical.
        T.StructField("emb_ids", T.ArrayType(T.LongType()), True),
        T.StructField("emb_grad", T.ArrayType(T.DoubleType()), True),
    ]
)


def _make_grad_fn(bundle_bc, label_to_idx: dict[str, int]):
    def grad_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bundle = bundle_bc.value
        arrays, vocab = bundle["arrays"], bundle["vocab"]
        W, b = arrays["out_W"], arrays["out_b"]
        C = N_CLASSES
        vocab_s = pd.Series(vocab) if vocab is not None else None

        def vmap(uniq):
            if vocab_s is None:
                import zlib

                n = bundle["vocab_size"]
                return np.fromiter(
                    (zlib.crc32(t.encode("utf-8")) % (n - 1) + 1 for t in uniq),
                    dtype=np.int64,
                    count=len(uniq),
                )
            return pd.Series(uniq, dtype=object).map(vocab_s).fillna(0).to_numpy(np.int64)

        dW = np.zeros((W.shape[0], C), dtype=np.float64)
        db = np.zeros(C, dtype=np.float64)
        loss_sum, n_tok = 0.0, 0
        for pdf in batches:
            tok_lists = pdf["token_arr"].to_numpy()
            lab_lists = pdf["label_arr"].to_numpy()
            lens = np.fromiter((len(x) for x in tok_lists), dtype=np.int64, count=len(tok_lists))
            order = np.argsort(lens, kind="stable")
            for s0 in range(0, len(order), SUB_BATCH):
                idx = order[s0 : s0 + SUB_BATCH]
                lengths = lens[idx]
                keep = lengths > 0
                idx, lengths = idx[keep], lengths[keep]
                if len(idx) == 0:
                    continue
                flat_tokens = np.concatenate([np.asarray(t, dtype=object) for t in tok_lists[idx]])
                labels_flat = np.fromiter(
                    (label_to_idx.get(l, C - 1) for labs in lab_lists[idx] for l in labs),
                    dtype=np.int64,
                )
                token_ids, char_feat, row_idx, col_idx = _encode_flat(flat_tokens, lengths, vmap, arrays)
                ff = forward_features(token_ids, char_feat, lengths, arrays)
                feats = ff[row_idx, col_idx]  # [N,100] valid tokens only
                logits = feats @ W[:, :C] + b[:C]
                logits -= logits.max(axis=1, keepdims=True)
                p = np.exp(logits)
                p /= p.sum(axis=1, keepdims=True)
                n = len(labels_flat)
                loss_sum += float(-np.log(p[np.arange(n), labels_flat] + 1e-12).sum())
                n_tok += n
                p[np.arange(n), labels_flat] -= 1.0
                dW += feats.T.astype(np.float64) @ p.astype(np.float64)
                db += p.sum(axis=0)
        yield pd.DataFrame(
            {
                "grad": [np.concatenate([dW.ravel(), db]).tolist()],
                "loss_sum": [loss_sum],
                "n_tokens": [n_tok],
                "emb_ids": [[]],
                "emb_grad": [[]],
            }
        )

    return grad_batches


# second-level (executor-side) gradient aggregation row: the partition
# row plus its group id, so the driver can fold groups in pinned order
GRAD2_SCHEMA = T.StructType(
    list(GRAD_SCHEMA.fields) + [T.StructField("g", T.LongType(), False)]
)


def _presum_grad_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Executor-side pre-sum of per-partition gradient rows (the
    treeAggregate level between workers and driver).  Each task
    receives the rows of one or more groups ``g``; per group it folds
    the dense gradients, merges the sparse embedding parts, and emits
    ONE row — so the driver collects ``agg_groups`` rows instead of
    one per partition.  r3 measurement (BENCH/BASELINE.md): 1.918 MB
    per partition row -> ~1.9 GB/epoch of driver fan-in at 1000
    executors; this caps it at agg_groups x row size regardless of
    cluster width.

    Determinism: rows fold in ``pid`` order within a group and groups
    are ``pid % k``, so a rerun is bit-identical; with one row per
    group (k >= n_partitions) the output equals the input rows and the
    whole path is bit-for-bit the same as the plain collect."""
    acc: dict[int, list] = {}
    for pdf in batches:
        for r in pdf.itertuples(index=False):
            acc.setdefault(int(r.g), []).append(r)
    out: dict[str, list] = {
        "grad": [], "loss_sum": [], "n_tokens": [], "emb_ids": [], "emb_grad": [], "g": []
    }
    for g in sorted(acc):
        rows = sorted(acc[g], key=lambda r: int(r.pid))
        dense = np.asarray(rows[0].grad, dtype=np.float64).copy()
        for r in rows[1:]:
            dense += np.asarray(r.grad, dtype=np.float64)
        loss_sum = 0.0
        n_tok = 0
        for r in rows:
            loss_sum += float(r.loss_sum)
            n_tok += int(r.n_tokens)
        with_emb = [r for r in rows if r.emb_ids is not None and len(r.emb_ids)]
        if with_emb:
            all_ids = np.concatenate([np.asarray(r.emb_ids, dtype=np.int64) for r in with_emb])
            all_vals = np.concatenate(
                [np.asarray(r.emb_grad, dtype=np.float64).reshape(len(r.emb_ids), -1) for r in with_emb]
            )
            uniq_ids, inv = np.unique(all_ids, return_inverse=True)
            merged = np.zeros((len(uniq_ids), all_vals.shape[1]), dtype=np.float64)
            np.add.at(merged, inv, all_vals)
            emb_ids, emb_grad = uniq_ids.tolist(), merged.ravel().tolist()
        else:
            emb_ids, emb_grad = [], []
        out["grad"].append(dense.tolist())
        out["loss_sum"].append(loss_sum)
        out["n_tokens"].append(n_tok)
        out["emb_ids"].append(emb_ids)
        out["emb_grad"].append(emb_grad)
        out["g"].append(g)
    # tasks whose hash range got no groups yield nothing (an EMPTY
    # pandas frame defaults its list columns to float64, which Arrow
    # cannot cast to list<double>)
    if out["g"]:
        yield pd.DataFrame(out)


# Trainable set for full-network training, in pinned flatten order.
# Char Bi-LSTM + char embeddings stay frozen (reference ``reload_*``
# freeze semantics); "token_emb" is appended when train_embeddings=True.
FULL_PARAM_ORDER = [
    "token_lstm_fw_W",
    "token_lstm_fw_U",
    "token_lstm_fw_b",
    "token_lstm_bw_W",
    "token_lstm_bw_U",
    "token_lstm_bw_b",
    "ff_W",
    "ff_b",
    "out_W",
    "out_b",
]


# char-encoder trainable set (the reference trains these too; frozen by
# default here like its reload_character_embeddings flag)
CHAR_PARAM_ORDER = [
    "char_emb",
    "char_lstm_fw_W",
    "char_lstm_fw_U",
    "char_lstm_fw_b",
    "char_lstm_bw_W",
    "char_lstm_bw_U",
    "char_lstm_bw_b",
]


def _full_param_names(train_embeddings: bool, loss: str, train_chars: bool = False) -> list[str]:
    names = list(FULL_PARAM_ORDER)
    if loss == "crf":
        names.append("crf_transitions")
    if train_chars:
        names.extend(CHAR_PARAM_ORDER)
    if train_embeddings:
        names.append("token_emb")  # must stay LAST (sparse tail block)
    return names


def _make_full_grad_fn(
    bundle_bc,
    label_to_idx: dict[str, int],
    train_embeddings: bool,
    loss: str = "softmax",
    dropout: float = 0.0,
    dropout_seed: int = 0,
    train_chars: bool = False,
):
    """mapInPandas gradient worker for the FULL network, backprop
    through FF + token Bi-LSTM via ``backward_features`` (embedding
    rows too when train_embeddings).  One gradient row out per
    partition, like the head-only worker — the row is just bigger
    (O(model), still a few MB).

    loss: 'softmax' (per-token NLL) or 'crf' (sentence-level CRF
    log-likelihood via batched forward-backward — the reference's
    actual ``crf_log_likelihood`` objective; adds the transition
    matrix to the trainable set)."""

    def grad_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bundle = bundle_bc.value
        arrays, vocab = bundle["arrays"], bundle["vocab"]
        W, b = arrays["out_W"], arrays["out_b"]
        C = N_CLASSES
        vocab_s = pd.Series(vocab) if vocab is not None else None

        def vmap(uniq):
            if vocab_s is None:
                import zlib

                n = bundle["vocab_size"]
                return np.fromiter(
                    (zlib.crc32(t.encode("utf-8")) % (n - 1) + 1 for t in uniq),
                    dtype=np.int64,
                    count=len(uniq),
                )
            return pd.Series(uniq, dtype=object).map(vocab_s).fillna(0).to_numpy(np.int64)

        names = _full_param_names(train_embeddings, loss, train_chars)
        dense_names = [n for n in names if n != "token_emb"]
        acc = {n: np.zeros(arrays[n].shape, dtype=np.float64) for n in dense_names}
        emb_id_parts: list[np.ndarray] = []
        emb_val_parts: list[np.ndarray] = []
        loss_sum, n_tok = 0.0, 0
        for chunk_no, pdf in enumerate(batches):
            tok_lists = pdf["token_arr"].to_numpy()
            lab_lists = pdf["label_arr"].to_numpy()
            lens = np.fromiter((len(x) for x in tok_lists), dtype=np.int64, count=len(tok_lists))
            order = np.argsort(lens, kind="stable")
            for s0 in range(0, len(order), SUB_BATCH):
                idx = order[s0 : s0 + SUB_BATCH]
                lengths = lens[idx]
                keep = lengths > 0
                idx, lengths = idx[keep], lengths[keep]
                if len(idx) == 0:
                    continue
                flat_tokens = np.concatenate([np.asarray(t, dtype=object) for t in tok_lists[idx]])
                labels_flat = np.fromiter(
                    (label_to_idx.get(l, C - 1) for labs in lab_lists[idx] for l in labs),
                    dtype=np.int64,
                )
                char_ctx = None
                if train_chars:
                    token_ids, char_feat, row_idx, col_idx, char_ctx = _encode_flat(
                        flat_tokens, lengths, vmap, arrays, return_char_ctx=True
                    )
                else:
                    token_ids, char_feat, row_idx, col_idx = _encode_flat(
                        flat_tokens, lengths, vmap, arrays
                    )
                mask = None
                if dropout > 0.0:
                    # deterministic inverted-dropout mask per sub-batch,
                    # keyed by (epoch seed, PARTITION, running chunk,
                    # batch offset): a re-run of the same epoch
                    # reproduces the gradient, but masks are independent
                    # across partitions and pandas chunks — seeding on
                    # shape alone correlated dropout noise cluster-wide
                    from pyspark import TaskContext

                    tc = TaskContext.get()
                    pid = tc.partitionId() if tc is not None else 0
                    B_, T_ = token_ids.shape
                    rng = np.random.default_rng([dropout_seed, pid, chunk_no, s0])
                    # mask the token-LSTM INPUT (reference site):
                    # token embedding ++ char-LSTM feature
                    mask = (
                        rng.random((B_, T_, TOKEN_DIM + 2 * CHAR_HIDDEN)) >= dropout
                    ) / (1.0 - dropout)
                ff, cache = forward_features_cache(
                    token_ids, char_feat, lengths, arrays, dropout_mask=mask
                )
                n = len(labels_flat)
                n_tok += n
                if loss == "crf":
                    scores = ff @ W + b  # [B,T,S]
                    gold = np.zeros(token_ids.shape, dtype=np.int64)
                    gold[row_idx, col_idx] = labels_flat
                    l_b, d_scores, d_tr = crf_loss_grad(
                        scores, lengths, gold, arrays["crf_transitions"]
                    )
                    loss_sum += l_b
                    acc["crf_transitions"] += d_tr
                    S = d_scores.shape[2]
                    ff_flat = ff.reshape(-1, ff.shape[2]).astype(np.float64)
                    ds_flat = d_scores.reshape(-1, S)
                    acc["out_W"] += ff_flat.T @ ds_flat
                    acc["out_b"] += ds_flat.sum(axis=0)
                    d_ff = (d_scores @ W.T.astype(np.float64)).astype(ff.dtype)
                else:
                    feats = ff[row_idx, col_idx]  # [N,FF_DIM] valid tokens
                    logits = feats @ W[:, :C] + b[:C]
                    logits -= logits.max(axis=1, keepdims=True)
                    p = np.exp(logits)
                    p /= p.sum(axis=1, keepdims=True)
                    loss_sum += float(-np.log(p[np.arange(n), labels_flat] + 1e-12).sum())
                    p[np.arange(n), labels_flat] -= 1.0  # d_logits (unnormalized)
                    acc["out_W"][:, :C] += feats.T.astype(np.float64) @ p.astype(np.float64)
                    acc["out_b"][:C] += p.sum(axis=0)
                    d_feats = (p @ W[:, :C].T).astype(np.float32)
                    d_ff = np.zeros_like(ff)
                    d_ff[row_idx, col_idx] = d_feats
                grads, dx = backward_features(d_ff, cache, arrays)
                for k, v in grads.items():
                    acc[k] += v
                if train_chars:
                    # per-occurrence char-feature grads summed back to
                    # the unique words, then BPTT through the char LSTM
                    d_occ = dx[:, :, TOKEN_DIM:][row_idx, col_idx]
                    inv = char_ctx["inv"]
                    d_feat_u = np.zeros((inv.max() + 1, d_occ.shape[1]), dtype=d_occ.dtype)
                    np.add.at(d_feat_u, inv, d_occ)
                    for k, v in char_encode_backward(d_feat_u, char_ctx["cache"], arrays).items():
                        acc[k] += v
                if train_embeddings:
                    # SPARSE accumulation: sum per touched row within
                    # the sub-batch (padding id 0 receives the zeros the
                    # mask already produced, harmless)
                    ids_flat = token_ids.ravel()
                    vals = dx[:, :, :TOKEN_DIM].reshape(-1, TOKEN_DIM).astype(np.float64)
                    uniq_ids, inv = np.unique(ids_flat, return_inverse=True)
                    sums = np.zeros((len(uniq_ids), TOKEN_DIM), dtype=np.float64)
                    np.add.at(sums, inv, vals)
                    emb_id_parts.append(uniq_ids)
                    emb_val_parts.append(sums)
        flat = (
            np.concatenate([acc[n].ravel() for n in dense_names])
            if dense_names
            else np.zeros(0)
        )
        emb_ids: list = []
        emb_grad: list = []
        if emb_id_parts:
            # compact across sub-batches: one (ids, values) pair per
            # partition, O(distinct touched tokens), never O(vocab)
            all_ids = np.concatenate(emb_id_parts)
            uniq_ids, inv = np.unique(all_ids, return_inverse=True)
            merged = np.zeros((len(uniq_ids), TOKEN_DIM), dtype=np.float64)
            np.add.at(merged, inv, np.concatenate(emb_val_parts))
            emb_ids = uniq_ids.tolist()
            emb_grad = merged.ravel().tolist()
        yield pd.DataFrame(
            {
                "grad": [flat.tolist()],
                "loss_sum": [loss_sum],
                "n_tokens": [n_tok],
                "emb_ids": [emb_ids],
                "emb_grad": [emb_grad],
            }
        )

    return grad_batches


def train_full_network(
    spark: SparkSession,
    tokens: DataFrame,
    bundle: dict,
    epochs: int = 10,
    lr: float = 0.1,
    patience: int = 3,
    seed: int = 42,
    checkpoint_dir: str | None = None,
    clip: float = 5.0,
    momentum: float = 0.9,
    train_embeddings: bool = False,
    loss: str = "softmax",
    eval_tokens: DataFrame | None = None,
    optimizer: str = "sgd",
    dropout: float = 0.0,
    train_chars: bool = False,
    two_level_agg: bool = False,
    agg_groups: int = 32,
) -> dict:
    """Reference ``src/neuroner.py :: fit`` parity: train the WHOLE
    network (token Bi-LSTM + FF + output head, optionally token
    embeddings) with distributed gradient sums, per-epoch checkpoints
    and patience early-stopping.  ``clip`` is the reference's
    ``gradient_clipping_value=5.0`` (global-norm clip on the mean
    gradient).  ``momentum`` compensates for the one-update-per-epoch
    cadence of the all-reduce loop (the reference does per-sentence
    SGD, 10^4 updates/epoch; full-batch descent without momentum needs
    far more epochs for the same progress).

    Gradient rows stay O(model) per partition; with train_embeddings
    the embedding part ships sparse (touched-row ids + values, bounded
    by the partition's distinct tokens — never O(vocab)), scattered
    into the flat vector driver-side so the update math is identical
    to the dense formulation.

    ``optimizer``: 'sgd' (momentum SGD, the reference default) or
    'adam' (reference INI ``optimizer=adam``; driver-side moment
    vectors, bias-corrected).  ``dropout``: the reference
    ``dropout_rate`` — deterministic inverted-dropout on the token-LSTM
    INPUT (token embedding ++ char feature, the reference
    ``entity_lstm.py`` site) during gradient computation only
    (inference never drops); masks are seeded per
    (epoch, partition, chunk, sub-batch) so noise is independent
    across the cluster yet bit-reproducible on re-run.
    ``train_chars``: unfreeze the char Bi-LSTM + char embeddings too
    (the reference trains them by default; its
    ``reload_character_embeddings`` flag freezes, like our default) —
    gradients flow per UNIQUE word then back through the occurrence
    scatter, so the char-LSTM BPTT cost keeps the Zipf dedup win.

    ``two_level_agg``: insert an executor-side pre-sum level between
    the per-partition gradient rows and the driver (treeAggregate
    shape): rows fold into ``agg_groups`` groups (``pid % k``) on the
    cluster, so the driver collects k rows regardless of partition
    count.  The r3 fan-in measurement (1.918 MB/partition-row — see
    BENCH/BASELINE.md) makes this mandatory past ~1000 executors
    (~1.9 GB/epoch of driver fan-in otherwise).  With
    ``agg_groups >= n_partitions`` the path is bit-for-bit identical
    to the plain collect (tested); with real pre-summing the result
    differs only by float64 re-association (~1e-15 relative).  The
    gradient stage always has exactly ``defaultParallelism``
    partitions (the per-epoch ``repartition`` above the mapInPandas),
    so k is clamped to that number — i.e. to the stage's true
    partition count, keeping the bit-for-bit guarantee reachable by
    setting ``agg_groups >= spark.sparkContext.defaultParallelism``.

    ``eval_tokens`` (optional, (doc_id, sent_id, pos, token, label)):
    the VALIDATION split.  When given, each epoch ends with a tagger
    pass + conlleval phrase F1 on it (reference ``prediction_step`` +
    ``evaluate_model`` per epoch), history records ``valid_f1``, and
    patience tracks BEST VALID F1 (the reference's A8 criterion)
    instead of train loss; the returned ``best_epoch``/``bundle`` are
    the best-F1 ones.
    """
    label_to_idx = {l: i for i, l in enumerate(LABELS)}
    sentences = pin(_labeled_sentences(tokens), "persist")
    sentences.count()
    names = _full_param_names(train_embeddings, loss, train_chars)
    history = []
    best_loss, best_epoch, stall = float("inf"), -1, 0
    best_f1, best_bundle = -1.0, None
    cur = dict(bundle, arrays={k: v.copy() for k, v in bundle["arrays"].items()})
    sizes = [int(np.prod(cur["arrays"][n].shape)) for n in names]
    total = sum(sizes)
    vel = np.zeros(total, dtype=np.float64)
    adam_m = np.zeros(total, dtype=np.float64)
    adam_v = np.zeros(total, dtype=np.float64)
    for epoch in range(epochs):
        shuffled = sentences.repartition(
            spark.sparkContext.defaultParallelism,
            F.xxhash64(F.lit(seed + epoch), "doc_id", "sent_id"),
        )
        bc = spark.sparkContext.broadcast(cur)
        raw = shuffled.mapInPandas(
            _make_full_grad_fn(
                bc,
                label_to_idx,
                train_embeddings,
                loss,
                dropout=dropout,
                dropout_seed=seed * 100003 + epoch,
                train_chars=train_chars,
            ),
            GRAD_SCHEMA,
        )
        if two_level_agg:
            # treeAggregate shape: executors pre-sum pid % k groups so
            # driver fan-in is k rows, not one per partition (the
            # BENCH/BASELINE.md decision rule's fix for wide clusters).
            # spark_partition_id() right after mapInPandas is the SAME
            # partition (narrow op), so grouping is stable and the
            # per-group pid-ordered fold is deterministic.
            # `raw` has exactly defaultParallelism partitions (the
            # repartition above is the only exchange), so this clamp
            # IS the stage's true partition count — agg_groups >=
            # defaultParallelism reaches the bit-for-bit path.
            k = max(1, min(agg_groups, spark.sparkContext.defaultParallelism))
            rows = (
                raw.withColumn("pid", F.spark_partition_id())
                .withColumn("g", F.pmod(F.col("pid").cast("long"), F.lit(k)))
                .repartition(k, "g")
                .mapInPandas(_presum_grad_rows, GRAD2_SCHEMA)
                .collect()
            )
            rows = sorted(rows, key=lambda r: r["g"])
        else:
            rows = raw.collect()
        bc.destroy()
        grad = np.zeros(total, dtype=np.float64)
        # token_emb (when trained) is the LAST name: its block is the
        # tail of the flat vector, filled by sparse scatter-add below
        dense_total = total - (
            int(np.prod(cur["arrays"]["token_emb"].shape)) if train_embeddings else 0
        )
        loss_sum, n_tok = 0.0, 0
        for r in rows:
            grad[:dense_total] += np.asarray(r["grad"], dtype=np.float64)
            if train_embeddings and r["emb_ids"]:
                ids = np.asarray(r["emb_ids"], dtype=np.int64)
                vals = np.asarray(r["emb_grad"], dtype=np.float64).reshape(len(ids), -1)
                emb_view = grad[dense_total:].reshape(-1, vals.shape[1])
                np.add.at(emb_view, ids, vals)
            loss_sum += r["loss_sum"]
            n_tok += r["n_tokens"]
        grad /= max(n_tok, 1)
        gnorm = float(np.linalg.norm(grad))
        if clip and gnorm > clip:
            grad *= clip / gnorm
        if optimizer == "adam":
            b1, b2, eps_ = 0.9, 0.999, 1e-8
            adam_m = b1 * adam_m + (1 - b1) * grad
            adam_v = b2 * adam_v + (1 - b2) * grad * grad
            t = epoch + 1
            step = (adam_m / (1 - b1**t)) / (np.sqrt(adam_v / (1 - b2**t)) + eps_)
        else:
            vel = momentum * vel + grad
            step = vel
        new_arrays = dict(cur["arrays"])
        off = 0
        for n, sz in zip(names, sizes):
            g = step[off : off + sz].reshape(cur["arrays"][n].shape).astype(np.float32)
            new_arrays[n] = cur["arrays"][n] - lr * g
            off += sz
        cur = dict(cur, arrays=new_arrays)
        # NB: do not name this `loss` — that would shadow the loss-mode
        # parameter and silently switch objective after epoch 0
        epoch_loss = loss_sum / max(n_tok, 1)
        entry = {"epoch": epoch, "loss": round(epoch_loss, 6), "n_tokens": n_tok, "grad_norm": round(gnorm, 6)}
        if eval_tokens is not None:
            entry["valid_f1"] = round(
                evaluate_f1(spark, eval_tokens, cur, use_crf=(loss == "crf")), 6
            )
        history.append(entry)
        if checkpoint_dir:
            save_bundle(cur, os.path.join(checkpoint_dir, f"epoch_{epoch}"))
        if eval_tokens is not None:
            # A8 reference criterion: best VALID F1, patience on stalls
            if entry["valid_f1"] > best_f1 + 1e-9:
                best_f1, best_epoch, best_bundle, stall = entry["valid_f1"], epoch, cur, 0
            else:
                stall += 1
                if stall >= patience:
                    break
        elif epoch_loss < best_loss - 1e-6:
            best_loss, best_epoch, stall = epoch_loss, epoch, 0
        else:
            stall += 1
            if stall >= patience:
                break
    release(sentences)
    out_bundle = best_bundle if (eval_tokens is not None and best_bundle is not None) else cur
    return {
        "bundle": out_bundle,
        "history": history,
        "best_epoch": best_epoch,
        "loss_mode": loss,
    }


TRANS_GRAD_SCHEMA = T.StructType(
    [
        T.StructField("grad", T.ArrayType(T.DoubleType()), False),
        T.StructField("n_errors", T.LongType(), False),
        T.StructField("n_tokens", T.LongType(), False),
    ]
)


def _make_transition_grad_fn(bundle_bc, label_to_idx: dict[str, int]):
    """Structured-perceptron gradient for the CRF transition matrix
    (reference ``crf_log_likelihood`` analog with Viterbi-point
    gradients): counts(gold path transitions) - counts(viterbi path),
    unary scores fixed."""
    from neuroner_spark.model.bilstm_crf import viterbi_decode
    from neuroner_spark.model.weights import END, START

    def grad_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bundle = bundle_bc.value
        arrays, vocab = bundle["arrays"], bundle["vocab"]
        S = N_CLASSES + 2
        vocab_s = pd.Series(vocab) if vocab is not None else None

        def vmap(uniq):
            if vocab_s is None:
                import zlib

                n = bundle["vocab_size"]
                return np.fromiter(
                    (zlib.crc32(t.encode("utf-8")) % (n - 1) + 1 for t in uniq),
                    dtype=np.int64,
                    count=len(uniq),
                )
            return pd.Series(uniq, dtype=object).map(vocab_s).fillna(0).to_numpy(np.int64)

        counts = np.zeros((S, S), dtype=np.float64)
        n_err, n_tok = 0, 0
        for pdf in batches:
            tok_lists = pdf["token_arr"].to_numpy()
            lab_lists = pdf["label_arr"].to_numpy()
            lens = np.fromiter((len(x) for x in tok_lists), dtype=np.int64, count=len(tok_lists))
            order = np.argsort(lens, kind="stable")
            for s0 in range(0, len(order), SUB_BATCH):
                idx = order[s0 : s0 + SUB_BATCH]
                lengths = lens[idx]
                keep = lengths > 0
                idx, lengths = idx[keep], lengths[keep]
                if len(idx) == 0:
                    continue
                flat_tokens = np.concatenate([np.asarray(t, dtype=object) for t in tok_lists[idx]])
                token_ids, char_feat, row_idx, col_idx = _encode_flat(flat_tokens, lengths, vmap, arrays)
                ff = forward_features(token_ids, char_feat, lengths, arrays)
                scores = ff @ arrays["out_W"] + arrays["out_b"]
                pred = viterbi_decode(scores, lengths, arrays["crf_transitions"])
                B, Tm = pred.shape
                gold = np.zeros((B, Tm), dtype=np.int64)
                gold[row_idx, col_idx] = np.fromiter(
                    (label_to_idx.get(l, N_CLASSES - 1) for labs in lab_lists[idx] for l in labs),
                    dtype=np.int64,
                )
                n_tok += int(lengths.sum())
                n_err += int(((pred != gold)[row_idx, col_idx]).sum())

                def add_path(path, sign):
                    firsts = path[:, 0]
                    np.add.at(counts, (np.full(B, START), firsts), sign)
                    lasts = path[np.arange(B), lengths - 1]
                    np.add.at(counts, (lasts, np.full(B, END)), sign)
                    for t in range(1, Tm):
                        act = lengths > t
                        if not act.any():
                            break
                        np.add.at(counts, (path[act, t - 1], path[act, t]), sign)

                add_path(gold, +1.0)
                add_path(pred, -1.0)
        yield pd.DataFrame(
            {"grad": [counts.ravel().tolist()], "n_errors": [n_err], "n_tokens": [n_tok]}
        )

    return grad_batches


def train_crf_transitions(
    spark: SparkSession,
    tokens: DataFrame,
    bundle: dict,
    epochs: int = 5,
    lr: float = 0.1,
    seed: int = 42,
) -> dict:
    """Averaged-ish structured perceptron over the transition matrix
    (unary head fixed). Returns {'bundle', 'history': [...]}.
    """
    label_to_idx = {l: i for i, l in enumerate(LABELS)}
    sentences = pin(_labeled_sentences(tokens), "persist")
    n_sent = sentences.count()
    S = N_CLASSES + 2
    cur = dict(bundle, arrays={k: v.copy() for k, v in bundle["arrays"].items()})
    history = []
    for epoch in range(epochs):
        # one hash-shuffle per epoch: repartition BY the seeded hash
        # (orderBy(hash).repartition(N) would shuffle twice and then
        # discard the sort anyway — gradient sums are order-free)
        shuffled = sentences.repartition(
            spark.sparkContext.defaultParallelism,
            F.xxhash64(F.lit(seed + epoch), "doc_id", "sent_id"),
        )
        bc = spark.sparkContext.broadcast(cur)
        rows = shuffled.mapInPandas(_make_transition_grad_fn(bc, label_to_idx), TRANS_GRAD_SCHEMA).collect()
        bc.destroy()
        counts = np.zeros(S * S, dtype=np.float64)
        n_err, n_tok = 0, 0
        for r in rows:
            counts += np.asarray(r["grad"], dtype=np.float64)
            n_err += r["n_errors"]
            n_tok += r["n_tokens"]
        new_arrays = dict(cur["arrays"])
        trans = new_arrays["crf_transitions"].copy()
        trans += (lr / max(n_sent, 1)) * counts.reshape(S, S).astype(np.float32)
        new_arrays["crf_transitions"] = trans
        cur = dict(cur, arrays=new_arrays)
        history.append({"epoch": epoch, "token_errors": n_err, "n_tokens": n_tok})
        if n_err == 0:
            break
    release(sentences)
    return {"bundle": cur, "history": history}


def tag_and_join_gold(
    spark: SparkSession, tokens: DataFrame, bundle: dict, use_crf: bool = True
) -> DataFrame:
    """tokens(doc_id, sent_id, pos, token, label) -> (…, pred, gold):
    tag with the bundle and join the gold labels back.  ONE
    implementation shared by per-epoch evaluation and the run
    materializer so the decode-mode contract can never diverge."""
    from neuroner_spark.model.tagger import tag_tokens

    with_offsets = tokens.withColumn("start", F.col("pos").cast("long")).withColumn(
        "end", (F.col("pos") + 1).cast("long")
    )
    tagged = tag_tokens(spark, with_offsets, bundle, use_crf=use_crf).withColumnRenamed(
        "label", "pred"
    )
    return tagged.join(
        tokens.select("doc_id", "sent_id", "pos", F.col("label").alias("gold")),
        ["doc_id", "sent_id", "pos"],
    )


def evaluate_f1(
    spark: SparkSession, tokens: DataFrame, bundle: dict, use_crf: bool = True
) -> float:
    """Reference per-epoch evaluation: tag ``tokens(doc_id, sent_id,
    pos, token, label)`` with the current bundle and return the overall
    conlleval phrase F1 against the gold ``label`` column.  One tagger
    pass + the A5 span-join metric — the same pipeline QA instrument,
    reused as the training stop criterion.  ``use_crf`` must match the
    training objective: a softmax-trained model never updates the
    transition matrix, so Viterbi over those random transitions would
    score (and early-stop on) noise — decode per-token argmax there."""
    from neuroner_spark.operators.metrics import conlleval_f1

    joined = tag_and_join_gold(spark, tokens, bundle, use_crf=use_crf)
    rows = conlleval_f1(joined, "gold", "pred").filter(F.col("type") == "ALL").collect()
    return float(rows[0]["f1"]) if rows else 0.0


def _labeled_sentences(tokens: DataFrame) -> DataFrame:
    return (
        tokens.groupBy("doc_id", "sent_id")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "token", "label"))).alias("_t"))
        .select(
            "doc_id",
            "sent_id",
            F.transform("_t", lambda x: x["token"]).alias("token_arr"),
            F.transform("_t", lambda x: x["label"]).alias("label_arr"),
        )
    )


def train_output_layer(
    spark: SparkSession,
    tokens: DataFrame,
    bundle: dict,
    epochs: int = 10,
    lr: float = 0.5,
    patience: int = 3,
    seed: int = 42,
    checkpoint_dir: str | None = None,
) -> dict:
    """tokens(doc_id, sent_id, pos, token, label[BIOES]) + bundle ->
    trained bundle. Returns {'bundle', 'history': [{epoch, loss, acc}]}.
    """
    label_to_idx = {l: i for i, l in enumerate(LABELS)}
    sentences = pin(_labeled_sentences(tokens), "persist")
    sentences.count()
    C = N_CLASSES
    W_rows = bundle["arrays"]["out_W"].shape[0]
    history = []
    best_loss, best_epoch, stall = float("inf"), -1, 0
    arrays = {k: v.copy() for k, v in bundle["arrays"].items()}
    cur = dict(bundle, arrays=arrays)
    for epoch in range(epochs):
        # O3: deterministic per-epoch reshuffle — ONE hash-shuffle
        # (repartition by the seeded hash; no orderBy, whose sort a
        # round-robin repartition would destroy anyway)
        shuffled = sentences.repartition(
            spark.sparkContext.defaultParallelism,
            F.xxhash64(F.lit(seed + epoch), "doc_id", "sent_id"),
        )
        bc = spark.sparkContext.broadcast(cur)
        rows = shuffled.mapInPandas(_make_grad_fn(bc, label_to_idx), GRAD_SCHEMA).collect()
        bc.destroy()
        grad = np.zeros(W_rows * C + C, dtype=np.float64)
        loss_sum, n_tok = 0.0, 0
        for r in rows:
            grad += np.asarray(r["grad"], dtype=np.float64)
            loss_sum += r["loss_sum"]
            n_tok += r["n_tokens"]
        grad /= max(n_tok, 1)
        dW = grad[: W_rows * C].reshape(W_rows, C).astype(np.float32)
        db = grad[W_rows * C :].astype(np.float32)
        new_arrays = dict(cur["arrays"])
        out_W = new_arrays["out_W"].copy()
        out_b = new_arrays["out_b"].copy()
        out_W[:, :C] -= lr * dW
        out_b[:C] -= lr * db
        new_arrays["out_W"], new_arrays["out_b"] = out_W, out_b
        cur = dict(cur, arrays=new_arrays)
        loss = loss_sum / max(n_tok, 1)
        history.append({"epoch": epoch, "loss": round(loss, 6), "n_tokens": n_tok})
        if checkpoint_dir:
            save_bundle(cur, os.path.join(checkpoint_dir, f"epoch_{epoch}"))
        # A8: early stop on non-improving loss
        if loss < best_loss - 1e-6:
            best_loss, best_epoch, stall = loss, epoch, 0
        else:
            stall += 1
            if stall >= patience:
                break
    release(sentences)
    return {"bundle": cur, "history": history, "best_epoch": best_epoch}
