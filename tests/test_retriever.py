"""Retrieval parity with the reference retriever
(/root/reference/mix_blink/retriever/dense.py, tests/test_retriever.py)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mix_blink_spark.functions.embed import encode_matrix
from mix_blink_spark.operators.scoring import check_measure, make_dense_score_udf
from mix_blink_spark.operators.topk import clamp_k, hard_negatives, knn_broadcast


def test_unsupported_measure_contract():
    """NotImplementedError('{measure} is not supported') — dense.py:41-42,
    asserted by reference tests/test_retriever.py:44-56."""
    with pytest.raises(NotImplementedError, match="dot is not supported"):
        check_measure("dot")
    with pytest.raises(NotImplementedError, match="cosine is not supported"):
        make_dense_score_udf("cosine")


def test_k_clamp_and_validation():
    """dense.py:86-91: k<=0 raises, k>dict clamps with warning
    (tests/test_retriever.py:131-136)."""
    with pytest.raises(ValueError):
        clamp_k(0, 10)
    with pytest.warns(UserWarning):
        assert clamp_k(100, 10) == 10
    assert clamp_k(5, 10) == 5


@pytest.fixture(scope="module")
def small_index(spark):
    names = ["Google", "Apple", "Meta", "Amazon", "Microsoft"]
    ids = [f"0000{11 + i}" for i in range(len(names))]
    mat = encode_matrix(names)
    queries = spark.createDataFrame(
        [(f"q{i}", list(map(float, encode_matrix([n])[0]))) for i, n in enumerate(["googel", "apple", "meta platforms"])],
        "rid string, emb array<float>",
    )
    return queries, mat, ids, names


def test_knn_measures_rank_differently(spark, small_index):
    """ip / cos / l2 orderings are all computed and valid
    (tests/test_retriever.py:150-167: measures give different distances)."""
    queries, mat, ids, _ = small_index
    results = {}
    for measure in ("ip", "cos", "l2"):
        hits = knn_broadcast(queries, mat, ids, k=5, measure=measure)
        rows = hits.filter(F.col("rid") == "q0").orderBy("rank").collect()
        results[measure] = [(r["hit_id"], r["score"]) for r in rows]
        # q0 = 'googel' typo: Google must be rank 1 under every measure
        assert rows[0]["hit_id"] == "000011", measure
    # scores differ across measures on the same pairs
    assert results["ip"] != results["l2"]
    # l2 is ascending: best hit has the smallest distance
    l2 = results["l2"]
    assert l2[0][1] == min(s for _, s in l2)


def test_knn_against_numpy_oracle(spark, small_index):
    queries, mat, ids, names = small_index
    hits = knn_broadcast(queries, mat, ids, k=3, measure="cos").collect()
    q = encode_matrix(["googel", "apple", "meta platforms"]).astype(np.float64)
    m = mat.astype(np.float64)
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    scores = qn @ mn.T
    for r in hits:
        qi = int(r["rid"][1:])
        j = ids.index(r["hit_id"])
        assert r["score"] == pytest.approx(scores[qi, j], abs=1e-6)


def test_hard_negatives_never_contain_golds(spark, small_index):
    """Mined negatives exclude golds (dense.py:114-120,
    tests/test_retriever.py:185-190)."""
    queries, mat, ids, _ = small_index
    golds = spark.createDataFrame(
        [("q0", ["000011"]), ("q1", ["000012", "000015"]), ("q2", ["000013"])],
        "rid string, labels array<string>",
    )
    k = 3
    hits = knn_broadcast(queries, mat, ids, k=k + 2, measure="cos")
    negs = hard_negatives(hits, golds, k=k)
    joined = negs.join(golds, "rid").filter(F.array_contains("labels", F.col("hit_id")))
    assert joined.count() == 0
    counts = negs.groupBy("rid").count().collect()
    assert all(r["count"] <= k for r in counts)
    # re-ranked 1..k dense
    ranks = [r["rank"] for r in negs.filter(F.col("rid") == "q1").orderBy("rank").collect()]
    assert ranks == list(range(1, len(ranks) + 1))


def _me_both_placements(spark, surfs, aliases, tau_ent, bins=(1, 4)):
    """me winners of the pair-stage block kernel in-process, then in each
    Spark placement: the driver-planned bins at each bin count and the
    keyed exchange on row embeddings. Returns (local, [spark placements])."""
    from mix_blink_spark.operators.localpairs import (
        ME, dimension_pairs, distributed_pairs, local_pairs,
    )

    s_mat = encode_matrix([n for _, n in surfs]).astype(np.float32)
    a_mat = encode_matrix([n for _, n in aliases]).astype(np.float32)
    kw = dict(measure="cos", dense_weight=0.5, tau_ent=tau_ent, max_block_size=200,
              me_max_block_size=None, neighborhood=8)

    def as_dict(rows):
        return {(r[0], r[1]): tuple(r[2:]) for r in rows}

    local = as_dict(local_pairs(surfs, s_mat, aliases, a_mat, mm=False, **kw)[1])
    placed = [
        as_dict(zip(*dimension_pairs(spark, surfs, s_mat, aliases, a_mat, local_limit=0,
                                     bins=p, **kw)[1].to_pydict().values()))
        for p in bins
    ]
    records = spark.createDataFrame(
        [(0, r, n, [float(x) for x in s_mat[i]]) for i, (r, n) in enumerate(surfs)]
        + [(1, r, n, [float(x) for x in a_mat[i]]) for i, (r, n) in enumerate(aliases)],
        "side tinyint, rid string, norm string, emb array<float>",
    )
    out = distributed_pairs(records, partitions=4, **kw)
    placed.append(as_dict(
        (r["a"], r["b"], r["dense"], r["jw"], r["lev"], r["score"])
        for r in out.filter(F.col("kind") == ME).collect()
    ))
    return local, placed


def test_block_kernel_keeps_nul_colliding_aliases_distinct(spark):
    """Regression: two aliases like 'boreali stechnologies' vs 'borealis
    technologies' share every byte around an embedded NUL once joined as
    b + NUL + norm_b — pandas' string hashtable (factorize / multi-key
    drop_duplicates / groupby) truncates at NUL and once silently
    collapsed them to one candidate in the me scorer. Both must be
    scored, in both placements, and the argmax must match the DataFrame
    scorer (``score_pairs``) over every candidate."""
    from mix_blink_spark.functions.strsim import levenshtein_sim
    from mix_blink_spark.operators.scoring import make_broadcast_dense_udf, score_pairs

    surf = "boreali stechnologies"  # the mention-side norm
    aliases = [
        # the colliding non-exact alias comes FIRST: a NUL-truncating
        # dedup keeps the first occurrence, so the exact alias (which
        # must win) is the one that would be dropped
        ("ENT::E1", "borealis technologies"),
        ("ENT::E1", "boreali stechnologies"),  # exact -> must win
        ("ENT::E2", "borealis technologies"),
    ]
    local, dist = _me_both_placements(spark, [("NORM::s1", surf)], aliases, 0.0)
    assert all(d == local for d in dist)

    s_mat = encode_matrix([surf]).astype(np.float32)
    a_mat = encode_matrix([nm for _, nm in aliases]).astype(np.float32)
    bc_s = spark.sparkContext.broadcast(({"NORM::s1": 0}, s_mat))
    bc_e = spark.sparkContext.broadcast(
        ({f"{r}\x00{nm}": i for i, (r, nm) in enumerate(aliases)}, a_mat)
    )
    pairs = spark.createDataFrame(
        [("NORM::s1", r, surf, nm) for r, nm in aliases],
        "a string, b string, norm_a string, norm_b string",
    ).withColumn("lev", levenshtein_sim(F.col("norm_a"), F.col("norm_b")))
    dense_udf = make_broadcast_dense_udf("cos", bc_s, bc_e)
    scored = score_pairs(
        pairs.withColumn(
            "dense",
            dense_udf(F.col("a"), F.concat_ws("\x00", F.col("b"), F.col("norm_b"))),
        ),
        "cos",
        0.5,
        dense_col="dense",
    ).collect()
    best = max(scored, key=lambda r: (r["score"], [-ord(c) for c in r["b"]]))

    assert len(local) == 1
    (a, b), (_dense, jw, _lev, score) = next(iter(local.items()))
    assert (b, score) == (best["b"], best["score"])
    # the exact alias scores jw=1.0; if a NUL-colliding dedup dropped it
    # the winner's jw would be < 1
    assert jw == 1.0


def test_block_kernel_large_me_input(spark):
    """A large me input — 400 surfaces x 50 aliases all sharing one
    blocking key, ~20k candidates in one block — gives the same winners
    in-process, as bins at 1 and 4 bins, and through the keyed exchange."""
    n_surf, n_ent = 400, 50
    surfs = [(f"NORM::s{i}", f"surf number {i}") for i in range(n_surf)]
    ents = [(f"ENT::E{j}", f"surf number {j * 8 % n_surf}") for j in range(n_ent)]
    local, dist = _me_both_placements(spark, surfs, ents, 0.3)
    assert len(local) > 0
    assert all(d == local for d in dist)


def test_block_kernel_rejects_nul_in_ids(spark):
    """NUL-free ids are a CONTRACT (round-6 ADVICE): pandas 2.2 string
    hashing truncates at an embedded NUL, so an entity id containing one
    would silently collapse distinct entities wherever ids are keyed
    through pandas. The kernel must refuse loudly, in-process and on the
    row-embedding input of the keyed exchange."""
    from mix_blink_spark.operators.localpairs import block_kernel, distributed_pairs

    emb = [1.0, 0.0, 0.0, 0.0]
    with pytest.raises(ValueError, match="embedded NUL"):
        block_kernel(
            ["tk:acme", "tk:acme"], [0, 1], ["s1", "E\x001"], ["acme corp", "acme corporation"],
            np.array([0, 1]), np.array([emb, emb], np.float32),
            measure="cos", dense_weight=0.5, max_block_size=200,
            me_max_block_size=None, neighborhood=8,
        )
    records = spark.createDataFrame(
        [(0, "s1", "acme corp", emb), (1, "E\x001", "acme corporation", emb),
         (1, "E\x002", "acme corporation", emb)],
        "side tinyint, rid string, norm string, emb array<float>",
    )
    out = distributed_pairs(
        records, measure="cos", dense_weight=0.5, tau_ent=0.3, max_block_size=200,
        me_max_block_size=None, neighborhood=8, partitions=2,
    )
    with pytest.raises(Exception, match="embedded NUL"):
        out.collect()
