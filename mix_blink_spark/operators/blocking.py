"""Blocking: the key families, and DataFrame candidate generators.

Two key families (BASELINE.json north_star stage 1):

  1. **normalized keys** — first token + sorted-token signature of the
     normalized surface (pure column expressions, codegen'd);
  2. **MinHash-LSH** — char-shingle minhash signatures banded into LSH
     keys (Arrow pandas_udf; ``explode`` of the band-key array), catching
     pairs whose *first* token was corrupted.

``keyed_records`` computes them as Spark columns;
``operators.localpairs.record_keys`` computes the same keys in Python.

``link()``'s pair stage does not use this module's generators: it is one
block kernel (``operators.localpairs``) in three placements — in-process
over one group or as driver-planned bins of whole keys (one job) at
dimension scale, or behind one keyed exchange past it (records exploded
over these keys, one repartition by key, the kernel per partition, one
reduce keyed by surface). ``candidate_pairs`` and
``cross_family_pairs`` express the same per-key rules as joins and
windows; the incremental cross-batch step (``streaming.incremental``)
and the standalone benchmark layers still call them.

Skew handling is explicit (north_rule) in both forms: blocks above
``max_block_size`` switch from all-pairs to a sorted-neighborhood window
(sort members, pair each with its ``window`` successors) — bounded
O(size·window) instead of O(size²) and deterministic. A hot key like
'global' (or 'smith') no longer produces a quadratic partition.
"""

from __future__ import annotations

from hashlib import blake2b
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType
from pyspark.sql.functions import pandas_udf

from ..functions.text import blocking_key, normalize_surface, sorted_token_key

DEFAULT_BANDS = 4
DEFAULT_ROWS = 2
DEFAULT_SHINGLE = 4


def _minhash_band_keys(s: str, bands: int, rows: int, shingle: int) -> list[str]:
    padded = f" {s} "
    grams = (
        {padded[i : i + shingle] for i in range(len(padded) - shingle + 1)}
        if len(padded) >= shingle
        else {padded}
    )
    keys = []
    for b in range(bands):
        sig = []
        for r in range(rows):
            salt = b"%d:%d" % (b, r)
            m = min(
                int.from_bytes(blake2b(g.encode("utf-8"), digest_size=8, key=salt).digest(), "big")
                for g in grams
            )
            sig.append(format(m, "x"))
        keys.append(f"mh{b}:" + "-".join(sig))
    return keys


@pandas_udf(ArrayType(StringType()))
def minhash_band_keys(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """norm surface -> array of LSH band keys (Arrow-batched).

    Output is identical to mapping ``_minhash_band_keys`` per string; the
    kernel memoizes the (bands x rows) blake2b digests PER SHINGLE across
    the whole worker lifetime — surface vocabularies share shingles
    heavily ('corp', ' the'), and the blake2b calls were the dominant
    candidate-generation cost at vocabulary scale (round-5 profile: the
    alias-side keyed_records carried ~8 s of a ~13 s generation stage at
    17k aliases). The per-record min over the shingle matrix is numpy.
    """
    import numpy as np

    B, R, SH = DEFAULT_BANDS, DEFAULT_ROWS, DEFAULT_SHINGLE
    salts = [b"%d:%d" % (b, r) for b in range(B) for r in range(R)]
    memo: dict[str, "np.ndarray"] = {}
    # Bound worker memory by MEASURED bytes, not entry count (round-5
    # verdict item 7: at 8 salts an entry is ~64 B of uint64 data plus
    # ~250-300 B of ndarray/dict/key overhead — a 2M-entry count cap was
    # ~0.5-0.7 GB per Python worker, not the 100 MB the old comment
    # claimed). 128 MB ≈ 350-400k distinct shingles — far above any real
    # surface vocabulary's shingle count; past the cap new shingles are
    # hashed uncached.
    memo_budget = 128 * 1024 * 1024
    memo_bytes = 0

    def shingle_hashes(g: str) -> "np.ndarray":
        nonlocal memo_bytes
        v = memo.get(g)
        if v is None:
            enc = g.encode("utf-8")
            v = np.array(
                [
                    int.from_bytes(
                        blake2b(enc, digest_size=8, key=salt).digest(), "big"
                    )
                    for salt in salts
                ],
                dtype=np.uint64,
            )
            if memo_bytes < memo_budget:
                memo[g] = v
                # ndarray data + ndarray object + dict slot + key string
                memo_bytes += v.nbytes + 112 + 104 + (49 + len(enc))
        return v

    for series in batches:
        out = []
        for s in series:
            if not s:
                out.append([])
                continue
            padded = f" {s} "
            grams = (
                {padded[i : i + SH] for i in range(len(padded) - SH + 1)}
                if len(padded) >= SH
                else {padded}
            )
            mins = np.minimum.reduce([shingle_hashes(g) for g in grams])
            out.append(
                [
                    f"mh{b}:" + "-".join(format(int(mins[b * R + r]), "x") for r in range(R))
                    for b in range(B)
                ]
            )
        yield pd.Series(out)


def keyed_records(records: DataFrame, id_col: str, norm_col: str = "norm") -> DataFrame:
    """(id, norm, key) — one row per (record, blocking key), all families.

    ``records`` must carry a normalized-surface column; keys:
    ``tk:<first token>``, ``st:<sorted tokens>``, ``mh<i>:<sig>``.
    """
    norm = F.col(norm_col)
    keys = F.array_union(
        F.array(
            F.concat(F.lit("tk:"), blocking_key(norm)),
            F.concat(F.lit("st:"), sorted_token_key(norm)),
        ),
        minhash_band_keys(norm),
    )
    return (
        records.select(F.col(id_col).alias("rid"), norm.alias("norm"), keys.alias("keys"))
        .withColumn("key", F.explode("keys"))
        .drop("keys")
    )


def with_salt(df: DataFrame, key_col: str, buckets: int = 16, salt_col: str = "_salt") -> DataFrame:
    """Salted repartitioning for hot keys (north_rule): append a
    deterministic salt derived from the row's id so a hot key spreads over
    ``buckets`` reducers. Two-phase aggregations group by (key, salt) then
    by key; salted joins replicate the small side per salt value."""
    return df.withColumn(salt_col, F.pmod(F.xxhash64(F.col("rid")), F.lit(buckets)))


def block_sizes_salted(keyed: DataFrame, buckets: int = 16) -> DataFrame:
    """Block-size histogram computed as a two-phase (salted) aggregation:
    phase 1 groups by (key, salt) — a hot key's rows spread over
    ``buckets`` reducers instead of one — phase 2 sums the partials.
    Identical result to a plain groupBy(key).count(); skew-proof shuffle.
    """
    salted = with_salt(keyed, "key", buckets)
    partial = salted.groupBy("key", "_salt").agg(F.count("*").alias("c"))
    return partial.groupBy("key").agg(F.sum("c").alias("block_n"))


def candidate_pairs(
    keyed: DataFrame,
    max_block_size: int = 200,
    neighborhood: int = 8,
    sizes: DataFrame | None = None,
    caches: list | None = None,
    dedup: bool = True,
) -> DataFrame:
    """Self-join within each blocking key → deduped (a, b) candidate pairs.

    Small blocks: all pairs (a < b). Oversized blocks: sorted-neighborhood
    (each member paired with the next ``neighborhood`` members in norm
    order) — the skew guard. Output: a, b, norm_a, norm_b (a < b), distinct
    across all key families.

    ``sizes``: optionally a precomputed ``block_sizes_salted(keyed)``
    histogram — callers that also feed ``keyed`` to ``cross_family_pairs``
    (the pipeline) persist one histogram and share it across both
    generators instead of paying the salted aggregation pass twice.
    """
    if sizes is None:
        sizes = block_sizes_salted(keyed)
    k = keyed.join(sizes, "key")
    # Degenerate keys (empty norm) never block.
    k = k.filter(F.length("norm") > 0).filter(F.col("block_n") > 1)
    # diamond plan: the small a/b sides and the ranked x/y self-join each
    # re-read k — persist so the size join runs once, not four times.
    # Persist ONLY when the caller supplies a ``caches`` list to unpersist
    # through (the pipeline does); a direct caller with caches=None gets
    # the unpersisted plan rather than a cache that leaks for the session
    # lifetime (round-5 ADVICE).
    from pyspark import StorageLevel

    if caches is not None:
        k = k.persist(StorageLevel.MEMORY_AND_DISK)
        caches.append(k)

    small = k.filter(F.col("block_n") <= max_block_size)
    a = small.select("key", F.col("rid").alias("a"), F.col("norm").alias("norm_a"))
    b = small.select("key", F.col("rid").alias("b"), F.col("norm").alias("norm_b"))
    small_pairs = a.join(b, "key").filter(F.col("a") < F.col("b"))

    from pyspark.sql.window import Window

    big = k.filter(F.col("block_n") > max_block_size)
    win = Window.partitionBy("key").orderBy("norm", "rid")
    ranked = big.select(
        "key", "rid", "norm", F.row_number().over(win).alias("pos")
    )
    if caches is not None:
        ranked = ranked.persist(StorageLevel.MEMORY_AND_DISK)
        caches.append(ranked)
    big_pairs = (
        ranked.alias("x")
        .join(
            ranked.alias("y"),
            (F.col("x.key") == F.col("y.key"))
            & (F.col("y.pos") > F.col("x.pos"))
            & (F.col("y.pos") <= F.col("x.pos") + neighborhood),
        )
        .select(
            F.least("x.rid", "y.rid").alias("a"),
            F.greatest("x.rid", "y.rid").alias("b"),
            F.when(F.col("x.rid") < F.col("y.rid"), F.col("x.norm"))
            .otherwise(F.col("y.norm"))
            .alias("norm_a"),
            F.when(F.col("x.rid") < F.col("y.rid"), F.col("y.norm"))
            .otherwise(F.col("x.norm"))
            .alias("norm_b"),
        )
    )

    pairs = small_pairs.select("a", "b", "norm_a", "norm_b").unionByName(big_pairs)
    # ``dedup=False`` skips the global per-(a, b) dropDuplicates — a full
    # shuffle of the whole pair set. A pair that shares k blocking keys
    # (k token keys + minhash bands + family overlap) comes out k times;
    # duplicates score identically, so any caller that collapses pairs
    # downstream (the pipeline's edge set is distinct()ed inside
    # connected_components._canonical) trades duplicate scoring compute
    # for the dedup exchange. Default True keeps the deduped contract
    # (the driver-gate queries and direct callers rely on it).
    return pairs.dropDuplicates(["a", "b"]) if dedup else pairs


def cross_family_pairs(
    left_keyed: DataFrame,
    right_keyed: DataFrame,
    broadcast_right: bool = True,
    max_block_size: int | None = None,
    neighborhood: int = 8,
    dedup: bool = True,
    left_sizes: DataFrame | None = None,
    caches: list | None = None,
) -> DataFrame:
    """Mention/surface→entity candidate pairs: equi-join two keyed sets on
    blocking key. The entity side is dimension-sized → broadcast (no
    shuffle of the fact side beyond its own key explode).

    One entity id can carry several alias surfaces (norm_b); pairs are
    deduped per (a, b, norm_b) so each alias is scored independently —
    the caller's top-1 then picks the best alias of the best entity.

    ``max_block_size`` is the high-vocabulary skew guard (round-3 finding:
    a hot key like ``tk:global`` at 8k entities carried ~2.6k surfaces x
    ~2k aliases = 5M scored pairs on ONE key — the dominant cost of the
    whole pipeline). Keys whose combined (surface + alias) membership
    exceeds the cap switch from the exact product join to a
    sorted-neighborhood pairing, mirroring ``candidate_pairs``: surfaces
    and aliases are interleaved in norm order within the key, and each
    surface pairs with the ``neighborhood`` aliases on either side of its
    insertion point. Pairs worth scoring are string-similar, and
    string-similar norms are sort-adjacent — so the survivors are exactly
    the candidates that could clear ``tau_ent``, at O(size·w) instead of
    O(|L|·|R|). ``None`` (default) keeps the exact join everywhere.

    ``dedup=False`` skips the final per-(a, b, norm_b) dropDuplicates — a
    full shuffle of the largest intermediate. Correct whenever the caller
    collapses duplicates anyway (the pipeline's top-1-per-surface window:
    duplicate candidates score identically, so rank-1 output is
    invariant). Default True keeps the deduped contract.

    ``left_sizes``: optionally a precomputed ``block_sizes_salted`` of the
    fact-scale left side, shared with ``candidate_pairs``. Block sizes are
    assembled per side — the salted pass runs over L only, and the
    dimension-sized right side contributes a tiny plain aggregation that
    broadcasts — instead of re-aggregating the full L+R union per run
    (round-4 profile: the combined histogram was ~half the candidate-
    generation cost at 8k entities).

    ``caches``: optional list that receives the persisted intermediate
    frames of the guarded path (the sized union and its ranked window) so
    the CALLER can unpersist them once the pairs are materialized. The
    guarded plan is a diamond — small-L/small-R/big-L/big-R all read the
    same sized union — and without a persist each branch re-executes the
    union + size joins + window subtree (round-5 profile: 4× re-execution
    was most of the candidate-generation cost at 8k entities). Passing no
    list skips the persists entirely (round-5 ADVICE: a cache nobody can
    unpersist leaks executor storage for the session lifetime), at the
    cost of re-executing the diamond's shared subtree per branch."""
    # distinct BEFORE sizing/joining: one dictionary entry can carry
    # several alias surfaces that normalize to the SAME norm (name +
    # lowercased alias is the common case) — duplicate (key, b, norm_b)
    # rows would double-count block sizes and occupy window slots for a
    # candidate that pair-dedup collapses anyway. The driver-local mirror
    # (operators.localpairs) sizes blocks on deduped aliases; this keeps
    # the small/big dispatch identical between the two engines.
    right = right_keyed.select(
        F.col("key"), F.col("rid").alias("b"), F.col("norm").alias("norm_b")
    ).distinct()
    left = left_keyed.select(
        "key", F.col("rid").alias("a"), F.col("norm").alias("norm_a")
    )
    if max_block_size is None:
        if broadcast_right:
            right = F.broadcast(right)
        joined = left.join(right, "key")
        return joined.dropDuplicates(["a", "b", "norm_b"]) if dedup else joined

    # guarded path only: the dimension side is read twice (the sized union
    # + its per-key size histogram), and its upstream usually contains the
    # minhash-key UDF — persist so the UDF and the distinct's shuffle run
    # once (round-5 profile: ~2 s per re-execution at 17k aliases;
    # dimension-scale rows, so the cache is small at any corpus size).
    # All guarded-path persists are caches-gated (round-5 ADVICE).
    from pyspark import StorageLevel

    if caches is not None:
        right = right.persist(StorageLevel.MEMORY_AND_DISK)
        caches.append(right)

    combo = left.select(
        "key", F.col("a").alias("rid"), F.col("norm_a").alias("norm"),
        F.lit("L").alias("side"),
    ).unionByName(
        right.select(
            "key", F.col("b").alias("rid"), F.col("norm_b").alias("norm"),
            F.lit("R").alias("side"),
        )
    )
    # combined block size = |L rows| + |deduped R rows| per key, assembled
    # from per-side histograms (identical to block_sizes_salted(combo) —
    # counts are taken BEFORE the empty-norm filter, as before)
    l_sizes = (
        left_sizes if left_sizes is not None else block_sizes_salted(left_keyed)
    ).select("key", F.col("block_n").alias("_l_n"))
    r_sizes = right.groupBy("key").agg(F.count("*").alias("_r_n"))
    k = (
        combo.join(l_sizes, "key", "left")
        .join(F.broadcast(r_sizes), "key", "left")
        .withColumn(
            "block_n",
            F.coalesce(F.col("_l_n"), F.lit(0)) + F.coalesce(F.col("_r_n"), F.lit(0)),
        )
        .drop("_l_n", "_r_n")
        .filter(F.length("norm") > 0)
    )
    # the four branches below all read k (and the big ones its window):
    # persist so the union+size-join subtree runs once, not four times.
    # Rows are (key, rid, norm, side, block_n) — ~100 B each, |L|+|R|
    # rows total, disk-spillable; the caller unpersists via ``caches``.
    if caches is not None:
        k = k.persist(StorageLevel.MEMORY_AND_DISK)
        caches.append(k)

    small = k.filter(F.col("block_n") <= max_block_size)
    small_l = small.filter(F.col("side") == "L").select(
        "key", F.col("rid").alias("a"), F.col("norm").alias("norm_a")
    )
    small_r = small.filter(F.col("side") == "R").select(
        "key", F.col("rid").alias("b"), F.col("norm").alias("norm_b")
    )
    if broadcast_right:
        small_r = F.broadcast(small_r)
    small_pairs = small_l.join(small_r, "key")

    from pyspark.sql.window import Window

    big = k.filter(F.col("block_n") > max_block_size)
    # rpos = rank of the row's insertion point among the key's R rows
    # ('R' sorts before 'L' at equal norm, so an exact alias match is
    # always counted into its surface's window)
    w_ord = (
        Window.partitionBy("key")
        .orderBy("norm", F.col("side").desc(), "rid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = big.withColumn(
        "rpos",
        F.sum(F.when(F.col("side") == "R", 1).otherwise(0)).over(w_ord),
    )
    if caches is not None:
        ranked = ranked.persist(StorageLevel.MEMORY_AND_DISK)
        caches.append(ranked)
    big_l = ranked.filter(F.col("side") == "L").select(
        "key", F.col("rid").alias("a"), F.col("norm").alias("norm_a"), "rpos"
    )
    # the right side's key gets its own name: both sides derive from
    # ``ranked``, so same-name references resolve to ONE attribute and the
    # key equality would be trivially true
    big_r = ranked.filter(F.col("side") == "R").select(
        F.col("key").alias("key_r"), F.col("rid").alias("b"),
        F.col("norm").alias("norm_b"), F.col("rpos").alias("rpos_r"),
    )
    big_pairs = (
        big_l.join(
            big_r,
            (F.col("key") == F.col("key_r"))
            & (F.col("rpos_r") > F.col("rpos") - neighborhood)
            & (F.col("rpos_r") <= F.col("rpos") + neighborhood),
        )
        .select("a", "b", "norm_a", "norm_b")
    )

    out = small_pairs.select("a", "b", "norm_a", "norm_b").unionByName(big_pairs)
    return out.dropDuplicates(["a", "b", "norm_b"]) if dedup else out
