"""Pairwise scoring (SURVEY.md §2.5, north_star stage 2).

Dense measures reproduce the reference exactly
(mix_blink/retriever/dense.py:41-46, trainer.py:228-235):

  - ``ip``  — inner product (default, argparser.py:42), descending;
  - ``cos`` — L2-normalize both sides then inner product
    (dense.py:81-82,92-93), descending;
  - ``l2``  — **squared** Euclidean distance (FAISS IndexFlatL2 contract),
    ascending;
  - anything else raises ``NotImplementedError(f"{measure} is not
    supported")`` (dense.py:41-42; asserted by reference
    tests/test_retriever.py:44-56).

Lexical scores (Jaro-Winkler via Arrow pandas_udf, Levenshtein via the
JVM built-in) are combined with the dense score into ``score`` — the
single column thresholded/ranked downstream. Similarities are rounded to
4 decimals only in *prediction payloads* (predict.py:46), never before
ranking.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType
from pyspark.sql.functions import pandas_udf

from ..functions.strsim import jaro_winkler_udf, levenshtein_sim

MEASURES = ("ip", "cos", "l2")


def check_measure(measure: str) -> None:
    if measure not in MEASURES:
        raise NotImplementedError(f"{measure} is not supported")


def score_ascending(measure: str) -> bool:
    """l2 ranks ascending (smaller distance = better); ip/cos descending."""
    check_measure(measure)
    return measure == "l2"


def _dense_np(a: np.ndarray, b: np.ndarray, measure: str) -> np.ndarray:
    if measure == "cos":
        a = a / np.maximum(np.linalg.norm(a, axis=1, keepdims=True), 1e-12)
        b = b / np.maximum(np.linalg.norm(b, axis=1, keepdims=True), 1e-12)
        return np.einsum("ij,ij->i", a, b)
    if measure == "ip":
        return np.einsum("ij,ij->i", a, b)
    if measure == "l2":  # squared L2, FAISS contract
        d = a - b
        return np.einsum("ij,ij->i", d, d)
    raise NotImplementedError(f"{measure} is not supported")


def make_dense_score_udf(measure: str):
    """Row-aligned dense score over two ArrayType(Float) columns.
    Arrow-batched; numpy einsum inside — no per-row Python."""
    check_measure(measure)

    CHUNK = 4096

    @pandas_udf(DoubleType())
    def dense_score(batches: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        # re-chunk tiny Arrow batches (session cap is sized for html cells)
        # so per-call numpy overhead amortizes — see make_broadcast_dense_udf
        def flush(a_parts, b_parts):
            a = np.stack(pd.concat(a_parts, ignore_index=True).to_numpy())
            b = np.stack(pd.concat(b_parts, ignore_index=True).to_numpy())
            return pd.Series(_dense_np(a.astype(np.float64), b.astype(np.float64), measure))

        a_buf, b_buf, size = [], [], 0
        for a_ser, b_ser in batches:
            a_buf.append(a_ser)
            b_buf.append(b_ser)
            size += len(a_ser)
            if size >= CHUNK:
                yield flush(a_buf, b_buf)
                a_buf, b_buf, size = [], [], 0
        if size:
            yield flush(a_buf, b_buf)

    return dense_score


def make_broadcast_dense_udf(measure: str, bc_a, bc_b):
    """Dense pair score via BROADCAST embedding matrices (the north_star
    contract: "the candidate-entity embedding index distributed as a
    broadcast variable to every executor"). ``bc_a``/``bc_b`` are Spark
    broadcasts of ``({id: row}, float32 matrix)``; pair rows then carry
    only two id strings instead of two 64-float arrays — at 1M+ candidate
    pairs the arrays were ~0.5 KB/row of shuffle + Arrow traffic and the
    dominant scoring cost (round-4 profiling: ~134 us/pair on the
    join-the-vectors plan, ~10 us/pair on this one).

    Iterator form with internal re-chunking (see ``jaro_winkler_udf``):
    the session Arrow batch cap is sized for multi-KB html cells (128
    rows), and per-batch numpy overhead at that size is ~25x the actual
    math — input batches are buffered to ~8k-pair chunks before scoring.
    The id→row dicts resolve once per worker task. Unknown ids raise
    (blocking emitted a pair for a record that was never encoded — a
    pipeline bug, never data)."""
    check_measure(measure)
    CHUNK = 8192

    @pandas_udf(DoubleType())
    def bc_dense(batches: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        ids_a, mat_a = bc_a.value
        ids_b, mat_b = bc_b.value

        def flush(a_parts: list[pd.Series], b_parts: list[pd.Series]) -> pd.Series:
            a_ser = pd.concat(a_parts, ignore_index=True) if len(a_parts) > 1 else a_parts[0]
            b_ser = pd.concat(b_parts, ignore_index=True) if len(b_parts) > 1 else b_parts[0]
            ia = a_ser.map(ids_a).to_numpy(dtype=np.int64)
            ib = b_ser.map(ids_b).to_numpy(dtype=np.int64)
            return pd.Series(
                _dense_np(
                    mat_a[ia].astype(np.float64), mat_b[ib].astype(np.float64), measure
                )
            )

        a_buf: list[pd.Series] = []
        b_buf: list[pd.Series] = []
        size = 0
        for a_ser, b_ser in batches:
            a_buf.append(a_ser)
            b_buf.append(b_ser)
            size += len(a_ser)
            if size >= CHUNK:
                yield flush(a_buf, b_buf)
                a_buf, b_buf, size = [], [], 0
        if size:
            yield flush(a_buf, b_buf)

    return bc_dense


def score_pairs(
    pairs: DataFrame,
    measure: str = "cos",
    dense_weight: float = 0.5,
    emb_a: str = "emb_a",
    emb_b: str = "emb_b",
    norm_a: str = "norm_a",
    norm_b: str = "norm_b",
    dense_col: str | None = None,
) -> DataFrame:
    """Attach dense + lexical + combined scores to candidate pairs.

    ``score`` = dense_weight · dense_sim + (1-dense_weight) · max(jw, lev).
    For ``l2`` the dense part enters as a similarity via 1/(1+dist) so the
    combined score still ranks descending.

    ``dense_col``: name of an ALREADY-COMPUTED dense column (e.g. from
    ``make_broadcast_dense_udf``) — skips the row-aligned array UDF, so
    pairs never need embedding columns at all.
    """
    check_measure(measure)
    if dense_col is not None:
        out = pairs.withColumn("dense", F.col(dense_col)) if dense_col != "dense" else pairs
    else:
        dense_udf = make_dense_score_udf(measure)
        out = pairs.withColumn("dense", dense_udf(F.col(emb_a), F.col(emb_b)))
    dense_sim = (
        (1.0 / (1.0 + F.col("dense"))) if measure == "l2" else F.col("dense")
    )
    out = out.withColumn("jw", jaro_winkler_udf(F.col(norm_a), F.col(norm_b)))
    out = out.withColumn("lev", levenshtein_sim(F.col(norm_a), F.col(norm_b)))
    lex = F.greatest(F.col("jw"), F.col("lev"))
    return out.withColumn(
        "score", F.lit(dense_weight) * dense_sim + F.lit(1.0 - dense_weight) * lex
    )

