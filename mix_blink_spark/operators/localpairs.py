"""The pair stage: one block kernel for blocking + pair scoring, three placements.

Stage 2 of the pipeline (blocking → pairwise scoring) is ONE numpy
kernel, ``block_kernel``. It takes rows ``(key, side, rid, norm, emb)``
— one per (record, blocking key), side 0 = mention surface, side 1 =
dictionary alias — for any set of WHOLE blocking keys, and returns the
surface↔surface (mm) pairs and each surface's best surface→alias (me)
candidate. ``reduce_pairs`` then collapses what several keys (or several
groups of keys) produced. The kernel runs in three placements:

  - **in-process** (``local_pairs``): every record as one group, on the
    driver. No Spark job at all, and each record's keys are computed once
    for both pair kinds.
  - **bins**: where the records and their embeddings are on the driver
    already, the driver computes the keys, packs whole keys into bins by
    estimated pair count (``key_costs``, ``pack_keys``: largest first,
    each to the least-loaded bin), and ONE shuffle-free job
    (``spark.range(P).mapInArrow``) runs the kernel once per bin, each
    task reading only its own bin's rows and embedding rows from a
    per-bin broadcast. One Arrow collect brings the tagged rows back and
    the driver reduces them in Arrow.
  - **keyed exchange** (``distributed_pairs``): vocabularies past
    ``LinkConfig.broadcast_dense_limit``, whose records carry their
    vectors and never reach the driver. One ``mapInArrow`` explodes the
    records over their keys, ONE ``repartition`` by key puts every block
    whole on one task, one ``mapInArrow`` runs the kernel per partition,
    and one reduce keyed by surface finishes.

At dimension scale ``dimension_pairs`` picks in-process or bins from the
estimated pair count (``LinkConfig.driver_pairs_limit``) and returns the
same driver tables either way.

Bins and the keyed exchange are the partition-by-signature, verify-locally
scheme of distributed similarity joins (EDBT 2020), run as a few large
Arrow batches rather than a DAG of small UDF boundaries (CIDR 2022); the
bins plan the partitioning where the signatures already are.

Every placement returns the same pairs, bit for bit, for any grouping of
whole keys: mm duplicates score identically wherever they are produced,
and each group's me winners are exact argmaxes of their candidate sets
under a TOTAL order, so the argmax of the groups' argmaxes is the global
one (property-tested in tests/test_properties.py).

Per blocking key the kernel applies:

  - keys: ``record_keys`` — ``operators.blocking.keyed_records``' tk/st/
    minhash-band families, computed in Python;
  - mm pairs: all pairs for blocks ≤ ``max_block_size``, sorted
    neighbourhood (order by norm, rid; ``neighborhood`` successors) above;
  - me pairs: the exact product when |surfaces| + |aliases| ≤
    ``me_max_block_size`` (or no cap), an insertion window over the
    norm-interleaved order above;
  - scores: float32 rows through ``_dense_np``, ``jaro_winkler_np``,
    exact Levenshtein (``F.levenshtein`` semantics), combined as
    ``w·dense_sim + (1-w)·max(jw, lev_sim)``;
  - me: exact Levenshtein-bound pruning, then top-1 per surface by
    (score desc, b, norm_b); ``tau_ent`` applies after the global top-1.
"""

from __future__ import annotations

import heapq
from typing import Iterator

import numpy as np
import pyarrow as pa

from ..functions.strsim import _codes, jaro_winkler_np
from .blocking import DEFAULT_BANDS, DEFAULT_ROWS, DEFAULT_SHINGLE, _minhash_band_keys
from .scoring import _dense_np

MM, ME = 0, 1
# reduced pair rows, the schema of the pipeline's pairs_mm / pairs_me
PAIRS_SCHEMA = "a string, b string, dense double, jw double, lev double, score double"
PAIRS_COLUMNS = ["a", "b", "dense", "jw", "lev", "score"]
# kernel output: both pair kinds, tagged; norm_b is the me tie-break (null
# for mm). The reduce drops it.
_KERNEL_PA = pa.schema(
    [("kind", pa.int8()), ("a", pa.string()), ("b", pa.string()), ("norm_b", pa.string())]
    + [(c, pa.float64()) for c in ("dense", "jw", "lev", "score")]
)
_TAGGED_PA = _KERNEL_PA.remove(3)
# reduced pair rows as Arrow: the driver-side pairs of both dimension-scale
# placements
PAIRS_PA = _TAGGED_PA.remove(0)


def record_keys(norm: str, _memo: dict | None = None) -> list[str]:
    """Python mirror of ``keyed_records``'s key expression: distinct of
    [tk:<first token>, st:<sorted tokens>, mh<i>:<band sig>...].

    ``_memo``: optional per-call-site dict memoizing each distinct
    SHINGLE's (bands x rows) blake2b digests — the same memoization the
    distributed ``minhash_band_keys`` UDF applies (surface vocabularies
    share shingles heavily); identical keys, ~3x fewer digest calls at
    bench vocabulary (round 8)."""
    tk = "tk:" + norm.split(" ", 1)[0]
    st = "st:" + " ".join(sorted(norm.split(" ")))
    if not norm:
        return list(dict.fromkeys([tk, st]))
    if _memo is None:
        mh = _minhash_band_keys(norm, DEFAULT_BANDS, DEFAULT_ROWS, DEFAULT_SHINGLE)
        return list(dict.fromkeys([tk, st, *mh]))
    import numpy as np
    from hashlib import blake2b

    B, R, SH = DEFAULT_BANDS, DEFAULT_ROWS, DEFAULT_SHINGLE
    salts = _memo.setdefault(
        "__salts__", [b"%d:%d" % (b, r) for b in range(B) for r in range(R)]
    )
    padded = f" {norm} "
    grams = (
        {padded[i : i + SH] for i in range(len(padded) - SH + 1)}
        if len(padded) >= SH
        else {padded}
    )
    rows = []
    for g in grams:
        v = _memo.get(g)
        if v is None:
            enc = g.encode("utf-8")
            v = _memo[g] = np.array(
                [
                    int.from_bytes(blake2b(enc, digest_size=8, key=s).digest(), "big")
                    for s in salts
                ],
                dtype=np.uint64,
            )
        rows.append(v)
    mins = np.minimum.reduce(rows)
    mh = [
        f"mh{b}:" + "-".join(format(int(mins[b * R + r]), "x") for r in range(R))
        for b in range(B)
    ]
    return list(dict.fromkeys([tk, st, *mh]))


def levenshtein_np(sa: list[str], sb: list[str]) -> np.ndarray:
    """Vectorized Levenshtein distance (int), matching ``F.levenshtein``
    (plain edit distance over codepoints). Row-DP over character
    positions, vectorized across pairs.

    The DP costs max(len_a) x max(len_b) iterations for the WHOLE batch,
    so one long outlier norm forces every pair through its padded grid —
    round 8 buckets pairs by max length (sorted, chunked at power-of-two
    bounds) and runs the identical per-pair DP per bucket: exact same
    distances (each pair's DP is independent), ~3x less padded work at
    the bench vocabulary where this kernel was ~60% of the driver-local
    me-pair tail every leg pays."""
    n = len(sa)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    ml_all = np.fromiter((max(len(a), len(b)) for a, b in zip(sa, sb)), np.int64, n)
    if n > 512 and int(ml_all.max()) > 8:
        out = np.empty(n, dtype=np.int64)
        order = np.argsort(ml_all, kind="stable")
        bound = 8
        start = 0
        while start < n:
            end = start
            while end < n and ml_all[order[end]] <= bound:
                end += 1
            if end > start:
                idx = order[start:end]
                out[idx] = _levenshtein_np_flat(
                    [sa[i] for i in idx], [sb[i] for i in idx]
                )
                start = end
            bound *= 2
        return out
    return _levenshtein_np_flat(sa, sb)


def _levenshtein_np_flat(sa: list[str], sb: list[str]) -> np.ndarray:
    n = len(sa)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    l1 = np.fromiter((len(s) for s in sa), np.int64, n)
    l2 = np.fromiter((len(s) for s in sb), np.int64, n)
    L1, L2 = int(l1.max()), int(l2.max())
    out = np.where(l1 == 0, l2, l1)  # correct whenever the other side is 0
    if L1 == 0 or L2 == 0:
        return out
    A = _codes(sa, L1, ascii_only=False)
    B = _codes(sb, L2, ascii_only=False)
    prev = np.tile(np.arange(L2 + 1, dtype=np.int64), (n, 1))
    cur = np.empty_like(prev)
    for i in range(1, L1 + 1):
        cur[:, 0] = i
        ai = A[:, i - 1]
        for j in range(1, L2 + 1):
            cost = (ai != B[:, j - 1]).astype(np.int64)
            np.minimum(prev[:, j] + 1, cur[:, j - 1] + 1, out=cur[:, j])
            np.minimum(cur[:, j], prev[:, j - 1] + cost, out=cur[:, j])
        # record finished rows: DP cell (l1, l2) only depends on the
        # un-padded prefixes, so reading it at i == l1 is exact
        done = l1 == i
        if done.any():
            out[done] = cur[done, l2[done]]
        prev, cur = cur, prev
    return out


def _score(
    ia: np.ndarray,
    ib: np.ndarray,
    mat_a: np.ndarray,
    mat_b: np.ndarray,
    norms_a: list[str],
    norms_b: list[str],
    measure: str,
    dense_weight: float,
):
    """(dense, jw, lev_sim, score) arrays — float-identical to the
    distributed composition in operators.scoring.score_pairs."""
    dense = _dense_np(
        mat_a[ia].astype(np.float64), mat_b[ib].astype(np.float64), measure
    )
    dense_sim = (1.0 / (1.0 + dense)) if measure == "l2" else dense
    jw = jaro_winkler_np(norms_a, norms_b)
    lev = levenshtein_np(norms_a, norms_b)
    la = np.fromiter((len(s) for s in norms_a), np.int64, len(norms_a))
    lb = np.fromiter((len(s) for s in norms_b), np.int64, len(norms_b))
    ml = np.maximum(la, lb)
    lev_sim = np.where(ml == 0, 1.0, 1.0 - lev / np.maximum(ml, 1).astype(np.float64))
    lex = np.maximum(jw, lev_sim)
    score = dense_weight * dense_sim + (1.0 - dense_weight) * lex
    return dense, jw, lev_sim, score


def block_kernel(
    keys: list[str],
    sides: list[int],
    rids: list[str],
    norms: list[str],
    erow: np.ndarray,
    emb: np.ndarray,
    *,
    measure: str,
    dense_weight: float,
    max_block_size: int,
    me_max_block_size: int | None,
    neighborhood: int,
    mm: bool = True,
) -> tuple[list[tuple], list[tuple]]:
    """Blocking + pair scoring over the rows of whole blocking keys.

    Row ``i`` is record (``sides[i]``, ``rids[i]``, ``norms[i]``) under
    blocking key ``keys[i]``; its embedding is ``emb[erow[i]]``. Every
    row of a key present must be here, and records must be distinct per
    side (surfaces by rid, aliases by (rid, norm)).

    Returns (mm, me). mm: rows (a, b, dense, jw, lev, score) with a < b,
    one per pair (``mm=False`` skips them). me: rows (a, b, norm_b,
    dense, jw, lev, score), each surface's best alias candidate here,
    before ``tau_ent``.

    Ids must be NUL-free: they leave the engine through pandas
    (``toPandas`` collection, callers' frames), whose string hashing
    truncates at an embedded NUL and would merge distinct ids there.
    """
    if any("\x00" in r for r in rids):
        raise ValueError(
            "block_kernel: an id contains an embedded NUL byte; ids must be "
            "NUL-free (pandas string hashing truncates at NUL and would "
            "silently collapse distinct ids downstream)"
        )
    blocks: dict[str, tuple[list[int], list[int]]] = {}
    for i, k in enumerate(keys):
        blocks.setdefault(k, ([], []))[sides[i]].append(i)

    mm_idx: dict[tuple[str, str], tuple[int, int]] = {}
    cand: dict[tuple[str, str, str], tuple[int, int]] = {}
    w = neighborhood
    for left, right in blocks.values():
        if mm:
            members = [i for i in left if norms[i]]
            n = len(members)
            if n > max_block_size:
                # sorted neighbourhood: each member with its w successors
                members.sort(key=lambda i: (norms[i], rids[i]))
                spans = ((x, min(x + 1 + w, n)) for x in range(n))
            else:
                spans = ((x, n) for x in range(n))
            for x, end in spans:
                i = members[x]
                for y in range(x + 1, end):
                    j = members[y]
                    a, b = (i, j) if rids[i] < rids[j] else (j, i)
                    mm_idx.setdefault((rids[a], rids[b]), (a, b))
        if not left or not right:
            continue
        if me_max_block_size is None or len(left) + len(right) <= me_max_block_size:
            rnon = [j for j in right if norms[j]]
            for i in left:
                if norms[i]:
                    for j in rnon:
                        cand.setdefault((rids[i], rids[j], norms[j]), (i, j))
        else:
            # insertion window: interleave by (norm, alias before surface
            # at equal norm, rid); each surface pairs with the aliases
            # whose rank among aliases is in (rpos - w, rpos + w], rpos =
            # the number of aliases at or before it
            combo = sorted(
                [(norms[i], 1, rids[i], i) for i in left if norms[i]]
                + [(norms[j], 0, rids[j], j) for j in right if norms[j]]
            )
            r_all = [i for _norm, is_surface, _rid, i in combo if not is_surface]
            rpos = 0
            for _norm, is_surface, _rid, i in combo:
                if not is_surface:
                    rpos += 1
                    continue
                for j in r_all[max(rpos - w, 0) : rpos + w]:
                    cand.setdefault((rids[i], rids[j], norms[j]), (i, j))

    mm_rows: list[tuple] = []
    if mm_idx:
        ia, ib = _index_arrays(list(mm_idx.values()))
        na = [norms[i] for i in ia]
        nb = [norms[i] for i in ib]
        dense, jw, lev_sim, score = _score(
            erow[ia], erow[ib], emb, emb, na, nb, measure, dense_weight
        )
        mm_rows = list(zip(
            [rids[i] for i in ia], [rids[i] for i in ib],
            dense.tolist(), jw.tolist(), lev_sim.tolist(), score.tolist(),
        ))
    if not cand:
        return mm_rows, []

    ia, ib = _index_arrays(list(cand.values()))
    na = [norms[i] for i in ia]
    nb = [norms[i] for i in ib]
    # Only each surface's top-1 candidate survives, so the Levenshtein DP
    # (the dominant cost of this stage) only needs to run where a pair
    # could still win. Exact bounds: lev >= |la-lb| gives lev_sim <= 1 -
    # |la-lb|/ml (ub), and lev_sim >= 0 gives score >= dw*dense + (1-dw)*jw
    # (lb). A pair whose ub-score is below its surface's best lb-score is
    # strictly worse than that surface's winner here, so dropping it
    # cannot change the argmax or its emitted values; ties at equality are
    # kept (>=). Winners' (dense, jw, lev, score) use the identical
    # float64 expressions as _score.
    dense = _dense_np(
        emb[erow[ia]].astype(np.float64), emb[erow[ib]].astype(np.float64), measure
    )
    dense_sim = (1.0 / (1.0 + dense)) if measure == "l2" else dense
    jw = jaro_winkler_np(na, nb)
    la = np.fromiter((len(s) for s in na), np.int64, len(na))
    lb_ = np.fromiter((len(s) for s in nb), np.int64, len(nb))
    ml = np.maximum(la, lb_)
    lev_ub = np.where(
        ml == 0, 1.0, 1.0 - np.abs(la - lb_) / np.maximum(ml, 1).astype(np.float64)
    )
    w2 = 1.0 - dense_weight
    ub_score = dense_weight * dense_sim + w2 * np.maximum(jw, lev_ub)
    lb_score = dense_weight * dense_sim + w2 * jw
    surface_ord: dict[str, int] = {}
    sa = np.fromiter(
        (surface_ord.setdefault(rids[i], len(surface_ord)) for i in ia), np.int64, len(ia)
    )
    best_lb = np.full(len(surface_ord), -np.inf)
    np.maximum.at(best_lb, sa, lb_score)
    keep = np.flatnonzero(ub_score >= best_lb[sa])
    lev = levenshtein_np([na[k] for k in keep], [nb[k] for k in keep])
    mlk = ml[keep]
    lev_sim_k = np.where(
        mlk == 0, 1.0, 1.0 - lev / np.maximum(mlk, 1).astype(np.float64)
    )
    lex_k = np.maximum(jw[keep], lev_sim_k)
    score_k = dense_weight * dense_sim[keep] + (1.0 - dense_weight) * lex_k

    best: dict[str, tuple] = {}
    for row in zip(
        [rids[ia[k]] for k in keep], [rids[ib[k]] for k in keep], [nb[k] for k in keep],
        dense[keep].tolist(), jw[keep].tolist(), lev_sim_k.tolist(), score_k.tolist(),
    ):
        cur = best.get(row[0])
        if cur is None or _me_rank(row) < _me_rank(cur):
            best[row[0]] = row
    return mm_rows, list(best.values())


def _index_arrays(items: list[tuple[int, int]]) -> tuple[np.ndarray, np.ndarray]:
    ia = np.fromiter((p[0] for p in items), np.int64, len(items))
    ib = np.fromiter((p[1] for p in items), np.int64, len(items))
    return ia, ib


def _me_rank(row: tuple) -> tuple:
    """me order: score desc, then b, then norm_b — total over candidates."""
    return (-row[6], row[1], row[2])


def reduce_pairs(
    mm_rows: list[tuple], me_rows: list[tuple], tau_ent: float
) -> tuple[list[tuple], list[tuple]]:
    """Collapse kernel output from any grouping of whole keys: mm by (a, b)
    (a pair two keys share scores identically in each), me by the global
    top-1 per surface, then ``tau_ent``. Both results are rows
    (a, b, dense, jw, lev, score)."""
    mm: dict[tuple[str, str], tuple] = {}
    for r in mm_rows:
        mm.setdefault((r[0], r[1]), r)
    best: dict[str, tuple] = {}
    for r in me_rows:
        cur = best.get(r[0])
        if cur is None or _me_rank(r) < _me_rank(cur):
            best[r[0]] = r
    me = [(a, b, d, jw, lev, s) for a, b, _nb, d, jw, lev, s in best.values() if s >= tau_ent]
    return list(mm.values()), me


def reduce_table(tagged: pa.Table, tau_ent: float) -> tuple[pa.Table, pa.Table]:
    """``reduce_pairs`` over a ``_KERNEL_PA`` table, in Arrow: mm distinct
    by (a, b) (duplicates are bit-identical rows), me sorted by surface
    then the ``_me_rank`` order (score desc, b, norm_b) and cut to each
    surface's first row, then ``tau_ent``. Returns (mm, me) ``PAIRS_PA``
    tables; no row becomes a Python object."""
    import pyarrow.compute as pc

    kind = tagged.column("kind")
    mm = (
        tagged.filter(pc.equal(kind, MM))
        .group_by(["a", "b"], use_threads=False)
        .aggregate([(c, "min") for c in PAIRS_COLUMNS[2:]])
    )
    mm = pa.Table.from_arrays(
        [mm.column(c if i < 2 else f"{c}_min") for i, c in enumerate(PAIRS_COLUMNS)],
        schema=PAIRS_PA,
    )
    me = tagged.filter(pc.equal(kind, ME)).sort_by(
        [("a", "ascending"), ("score", "descending"), ("b", "ascending"),
         ("norm_b", "ascending")]
    )
    a = me.column("a").combine_chunks()
    first = pa.concat_arrays(
        [pa.array([True] if len(a) else [], pa.bool_()), pc.not_equal(a[1:], a[:-1])]
    )
    me = me.filter(pc.and_(first, pc.greater_equal(me.column("score"), tau_ent)))
    return mm, me.select(PAIRS_COLUMNS)


def pairs_table(rows: list[tuple]) -> pa.Table:
    """Reduced pair rows (a, b, dense, jw, lev, score) as a ``PAIRS_PA`` table."""
    return pa.Table.from_batches([_batch(rows, PAIRS_PA)])


def local_pairs(
    surfs: list[tuple[str, str]],
    s_mat: np.ndarray,
    aliases: list[tuple[str, str]],
    a_mat: np.ndarray | None,
    *,
    measure: str,
    dense_weight: float,
    tau_ent: float,
    max_block_size: int,
    me_max_block_size: int | None,
    neighborhood: int,
    mm: bool = True,
) -> tuple[list[tuple], list[tuple]]:
    """In-process placement: the kernel over every record as ONE group.

    ``surfs``/``aliases``: [(rid, norm)] aligned with the rows of
    ``s_mat``/``a_mat``. Returns reduced (mm, me) rows
    (a, b, dense, jw, lev, score)."""
    mm_rows, me_rows = block_kernel(
        *keyed_rows(surfs, aliases), stack_rows(s_mat, a_mat),
        measure=measure, dense_weight=dense_weight, max_block_size=max_block_size,
        me_max_block_size=me_max_block_size, neighborhood=neighborhood, mm=mm,
    )
    return reduce_pairs(mm_rows, me_rows, tau_ent)


def keyed_rows(
    surfs: list[tuple[str, str]], aliases: list[tuple[str, str]]
) -> tuple[list[str], list[int], list[str], list[str], np.ndarray]:
    """Kernel rows (keys, sides, rids, norms, erow) of in-process records:
    one per (record, blocking key), surfaces first; ``erow`` indexes
    ``stack_rows(s_mat, a_mat)``."""
    memo: dict = {}
    norm_keys: dict[str, list[str]] = {}
    keys: list[str] = []
    sides: list[int] = []
    rids: list[str] = []
    norms: list[str] = []
    erow: list[int] = []
    for side, recs, offset in ((0, surfs, 0), (1, aliases, len(surfs))):
        for r, (rid, norm) in enumerate(recs):
            norm = norm or ""
            ks = norm_keys.get(norm)
            if ks is None:
                ks = norm_keys[norm] = record_keys(norm, memo)
            n = len(ks)
            keys += ks
            sides += [side] * n
            rids += [rid] * n
            norms += [norm] * n
            erow += [offset + r] * n
    return keys, sides, rids, norms, np.asarray(erow, np.int64)


def stack_rows(s_mat: np.ndarray, a_mat: np.ndarray | None) -> np.ndarray:
    """One embedding matrix: surface rows, then alias rows."""
    mats = [m for m in (s_mat, a_mat) if m is not None and len(m)]
    return np.concatenate(mats) if mats else np.zeros((0, 1), np.float32)


def local_mm_pairs(
    surfs: list[tuple[str, str]],
    mat: np.ndarray,
    measure: str,
    dense_weight: float,
    max_block_size: int,
    neighborhood: int,
) -> list[tuple]:
    """Surface↔surface pairs in-process: rows (a, b, dense, jw, lev,
    score) with a < b. ``surfs``: [(rid, norm)] aligned with ``mat``."""
    return local_pairs(
        surfs, mat, [], None, measure=measure, dense_weight=dense_weight,
        tau_ent=0.0, max_block_size=max_block_size, me_max_block_size=None,
        neighborhood=neighborhood,
    )[0]


def local_me_pairs(
    surfs: list[tuple[str, str]],
    s_mat: np.ndarray,
    aliases: list[tuple[str, str]],
    a_mat: np.ndarray,
    measure: str,
    dense_weight: float,
    tau_ent: float,
    max_block_size: int | None,
    neighborhood: int,
) -> list[tuple]:
    """Surface→alias anchors in-process: each surface's best (score desc,
    b, norm_b) alias with score >= tau_ent, rows (a, b, dense, jw, lev,
    score). ``max_block_size`` is the me cap (``me_max_block_size``)."""
    return local_pairs(
        surfs, s_mat, aliases, a_mat, measure=measure, dense_weight=dense_weight,
        tau_ent=tau_ent, max_block_size=0, me_max_block_size=max_block_size,
        neighborhood=neighborhood, mm=False,
    )[1]


def key_costs(
    keys: list[str],
    sides: list[int],
    norms: list[str],
    *,
    max_block_size: int,
    me_max_block_size: int | None,
    neighborhood: int,
) -> dict[str, int]:
    """Estimated pairs the kernel scores per blocking key, over non-empty
    norms: the mm all-pairs or sorted-neighbourhood count plus the me
    product or insertion-window count. Keys that cannot yield a pair (fewer
    than two surfaces and no surface/alias pair) are left out."""
    counts: dict[str, list[int]] = {}  # key -> [surfaces, aliases, members]
    for k, side, norm in zip(keys, sides, norms):
        c = counts.setdefault(k, [0, 0, 0])
        c[2] += 1
        if norm:
            c[side] += 1
    w = neighborhood
    costs: dict[str, int] = {}
    for k, (s, a, members) in counts.items():
        mm = s * (s - 1) // 2 if s <= max_block_size else s * w
        exact_me = me_max_block_size is None or members <= me_max_block_size
        cost = mm + s * (a if exact_me else min(2 * w, a))
        if cost:
            costs[k] = cost
    return costs


def pack_keys(costs: dict[str, int], n_bins: int) -> list[list[str]]:
    """Whole keys in ``n_bins`` bins by longest-processing-time: largest
    cost first (ties by key), each to the least-loaded bin (ties to the
    lower bin). The bins' loads then differ by at most the largest single
    key's cost; a hot key is never split."""
    heap = [(0, b) for b in range(n_bins)]
    bins: list[list[str]] = [[] for _ in range(n_bins)]
    for k in sorted(costs, key=lambda k: (-costs[k], k)):
        load, b = heapq.heappop(heap)
        bins[b].append(k)
        heapq.heappush(heap, (load + costs[k], b))
    return bins


def plan_bins(keys: list[str], costs: dict[str, int], n_bins: int) -> list[list[int]]:
    """Kernel-row indices of each non-empty bin of ``pack_keys(costs,
    n_bins)``; rows of keys without a cost (no possible pair) are in none."""
    bin_of = {k: b for b, ks in enumerate(pack_keys(costs, n_bins)) for k in ks}
    rows: list[list[int]] = [[] for _ in range(n_bins)]
    for i, k in enumerate(keys):
        b = bin_of.get(k)
        if b is not None:
            rows[b].append(i)
    return [r for r in rows if r]


def dimension_pairs(
    spark,
    surfs: list[tuple[str, str]],
    s_mat: np.ndarray,
    aliases: list[tuple[str, str]],
    a_mat: np.ndarray | None,
    *,
    local_limit: int,
    bins: int,
    measure: str,
    dense_weight: float,
    tau_ent: float,
    max_block_size: int,
    me_max_block_size: int | None,
    neighborhood: int,
) -> tuple[pa.Table, pa.Table]:
    """The pair stage at dimension scale, in-process or as bins.

    Arguments as ``local_pairs``; the result is its reduced (mm, me) rows
    as ``PAIRS_PA`` tables. The driver computes every record's keys and
    each key's estimated pair count (``key_costs``). Up to ``local_limit``
    estimated pairs the kernel runs in-process over one group. Above it,
    whole keys are packed into at most ``bins`` bins and ONE shuffle-free
    job of one task per bin runs the kernel; each bin's kernel rows and
    the embedding rows they index ride one broadcast per bin, so a task
    unpickles only its own bin. The tagged rows come back in one Arrow
    collect and are reduced in Arrow (``reduce_table``)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    caps = dict(
        max_block_size=max_block_size, me_max_block_size=me_max_block_size,
        neighborhood=neighborhood,
    )
    keys, sides, rids, norms, erow = keyed_rows(surfs, aliases)
    emb = stack_rows(s_mat, a_mat)
    costs = key_costs(keys, sides, norms, **caps)
    if sum(costs.values()) <= local_limit:
        mm, me = reduce_pairs(*block_kernel(
            keys, sides, rids, norms, erow, emb,
            measure=measure, dense_weight=dense_weight, **caps,
        ), tau_ent)
        return pairs_table(mm), pairs_table(me)
    payloads = []
    for sel in plan_bins(keys, costs, bins):
        used, local_erow = np.unique(erow[sel], return_inverse=True)
        payloads.append((
            [keys[i] for i in sel], [sides[i] for i in sel], [rids[i] for i in sel],
            [norms[i] for i in sel], local_erow, emb[used],
        ))
    bcs = [spark.sparkContext.broadcast(p) for p in payloads]

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            for b in rb.column("id").to_pylist():
                yield _kernel_batch(*block_kernel(
                    *bcs[b].value, measure=measure, dense_weight=dense_weight, **caps
                ))

    try:
        tbl = (
            spark.range(len(bcs), numPartitions=len(bcs))
            .mapInArrow(kernel, from_arrow_schema(_KERNEL_PA))
            .toArrow()
        )
    finally:
        for bc in bcs:
            bc.destroy()
    return reduce_table(tbl, tau_ent)


def distributed_pairs(
    records,
    *,
    measure: str,
    dense_weight: float,
    tau_ent: float,
    max_block_size: int,
    me_max_block_size: int | None,
    neighborhood: int,
    partitions: int,
):
    """Keyed-exchange placement: explode → repartition(key) → kernel →
    reduce keyed by surface.

    ``records``: a DataFrame (side tinyint, rid string, norm string, emb
    array<float>) — records that carry their vectors (vocabularies past
    the broadcast budget). Returns a lazy DataFrame (kind tinyint, a, b,
    dense, jw, lev, score): kind ``MM`` rows one per pair, kind ``ME``
    rows each surface's top-1 alias with score >= tau_ent."""
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StringType, StructField, StructType

    def explode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        memo: dict = {}
        for rb in batches:
            ks = [record_keys(s or "", memo) for s in rb.column("norm").to_pylist()]
            out = rb.take(pa.array(np.repeat(np.arange(rb.num_rows), [len(k) for k in ks])))
            key = pa.array([k for kk in ks for k in kk], rb.schema.field("norm").type)
            yield pa.RecordBatch.from_arrays(
                [*out.columns, key], names=[*out.schema.names, "key"]
            )

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        batches = [rb for rb in batches if rb.num_rows]
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        col = tbl.column("emb").combine_chunks()
        emb = col.flatten().to_numpy(zero_copy_only=False).reshape(len(col), -1)
        yield _kernel_batch(*block_kernel(
            tbl.column("key").to_pylist(), tbl.column("side").to_pylist(),
            tbl.column("rid").to_pylist(), [s or "" for s in tbl.column("norm").to_pylist()],
            np.arange(len(col)), emb, measure=measure, dense_weight=dense_weight,
            max_block_size=max_block_size, me_max_block_size=me_max_block_size,
            neighborhood=neighborhood,
        ))

    def reduce(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        mm_rows: list[tuple] = []
        me_rows: list[tuple] = []
        for rb in batches:
            mm, me = _untag(rb)
            mm_rows += mm
            me_rows += me
        mm, me = reduce_pairs(mm_rows, me_rows, tau_ent)
        if mm or me:
            yield _batch([(MM, *r) for r in mm] + [(ME, *r) for r in me], _TAGGED_PA)

    keyed_schema = StructType([*records.schema.fields, StructField("key", StringType())])
    return (
        records.mapInArrow(explode, keyed_schema)
        .repartition(partitions, "key")
        .mapInArrow(kernel, from_arrow_schema(_KERNEL_PA))
        .repartition(partitions, "a")
        .mapInArrow(reduce, from_arrow_schema(_TAGGED_PA))
    )


def _kernel_batch(mm_rows: list[tuple], me_rows: list[tuple]) -> pa.RecordBatch:
    """``block_kernel`` output as one kind-tagged batch (``_KERNEL_PA``)."""
    return _batch(
        [(MM, a, b, None, *v) for a, b, *v in mm_rows] + [(ME, *r) for r in me_rows],
        _KERNEL_PA,
    )


def _untag(tagged) -> tuple[list[tuple], list[tuple]]:
    """Kernel (mm, me) rows back out of a ``_KERNEL_PA`` batch or table."""
    mm_rows: list[tuple] = []
    me_rows: list[tuple] = []
    for kind, a, b, norm_b, *v in zip(*(c.to_pylist() for c in tagged.columns)):
        if kind == MM:
            mm_rows.append((a, b, *v))
        else:
            me_rows.append((a, b, norm_b, *v))
    return mm_rows, me_rows


def _batch(rows: list[tuple], schema: pa.Schema) -> pa.RecordBatch:
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema
    )
