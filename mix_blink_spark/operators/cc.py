"""Transitive clustering: connected components on the match graph
(north_star stage 3; SURVEY.md A5 — absent in the reference, mandated by
BASELINE.json).

Algorithm: alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14), expressed as
DataFrame self-joins + groupBy:

  large-star: for each node u, attach every neighbor v > u to
              m = min(Γ(u) ∪ {u});
  small-star: for each node u, attach every neighbor v ≤ u (and u) to
              m = min of that set.

Each round is two shuffles; convergence is O(log n) rounds. After
convergence every edge is (node → component-min), which IS the cluster
assignment. Node ids are strings; the total order is lexicographic.

``checkpoint()`` truncates lineage every iteration (north_rule: without it
the plan doubles per round and the driver OOMs planning round ~15); the
edge count + checksum convergence test costs one small agg per round.

At 100 TB scale: the match graph is far smaller than the corpus (only
above-threshold pairs survive), components are short (entity clusters),
and both stars shuffle on node id — AQE handles residual skew; a
pathological celebrity node is bounded by the blocking layer's block-size
cap upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# edge count up to which connected_components collects the edges and runs
# a driver union-find instead of the star loop
SMALL_GRAPH_THRESHOLD = 500_000


def _canonical(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").cast("string").alias("src"), F.col("dst").cast("string").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame, dedup: bool = True) -> DataFrame:
    # symmetrize: neighborhood of u includes both directions
    sym = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nbr_min = sym.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("mn"))
    out = (
        # attach strictly-greater neighbors to the min
        sym.join(nbr_min, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    # ``dedup=False`` skips the intermediate distinct — a full exchange of
    # the largest per-iteration frame. Safe ONLY when the caller's next
    # step restores set semantics anyway: the star loop feeds this output
    # straight into ``_small_star``, whose min-aggregate is unaffected by
    # duplicate edges and whose final distinct re-canonicalizes the set,
    # so the composed iteration (and its convergence signature, taken
    # after small-star) is row-identical. Measured on the 10M-edge star
    # benchmark: 63.2 -> 51.6 s, same 6 iterations (round 8, guide §2.4).
    return out.distinct() if dedup else out


def _small_star(edges: DataFrame) -> DataFrame:
    # orient edges high -> low, group by the high endpoint
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    nbr_min = oriented.groupBy("src").agg(F.min("dst").alias("mn"))
    attach = (
        oriented.join(nbr_min, "src")
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .unionAll(nbr_min.select("src", F.col("mn").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return attach


def _unionfind_local(pairs: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Driver-side union-find: same (member, min-id cluster) contract."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    comp: dict[str, list[str]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    out = []
    for members in comp.values():
        m = min(members)
        out.extend((x, m) for x in members)
    return out


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    checkpoint: bool = False,
    verbose: bool = False,
    small_graph_threshold: int = SMALL_GRAPH_THRESHOLD,
    stats: dict | None = None,
    n_edges_hint: int | None = None,
) -> DataFrame:
    """(src, dst) edge list → (member, cluster_id) assignment.

    cluster_id = lexicographic min member id of the component. Isolated
    nodes don't appear (callers union them back as singletons).

    Hybrid physical strategy (same logical result, pytest-verified against
    a union-find oracle both ways):
      - edge count ≤ ``small_graph_threshold``: collect + driver union-find
        (a 20-Spark-job iterative loop on a 1k-edge graph is pure
        overhead; the match graph after surface-factoring is usually tiny
        relative to the corpus);
      - above it: alternating large-star/small-star self-joins — the path
        that holds when the edge set exceeds driver memory (10^9+ surface
        nodes at 10^12-doc scale).

    ``checkpoint=False`` uses ``localCheckpoint`` — same lineage truncation
    per iteration, executor-memory storage (fast). ``checkpoint=True``
    writes reliable checkpoints to the configured checkpoint dir — what a
    production run uses so a failed iteration restarts from the last one.

    ``stats``: caller-supplied dict, filled with {"mode", "iterations"} —
    bench evidence (iterations vs graph diameter) without log scraping.

    ``n_edges_hint``: caller-known UPPER BOUND on the raw edge count
    (e.g. the count() that materialized a persisted edge frame).
    ``_canonical`` only ever shrinks the set, so a hint at or under the
    threshold dispatches straight to the driver path without the
    limit-probe action — one fewer job per run (the probe re-executed the
    whole upstream DAG before edges were persisted, and still costs a
    scheduling round trip after).
    """
    import time as _time

    spark = edges.sparkSession
    if checkpoint and spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir("/tmp/mbs-checkpoints")

    def _ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if checkpoint else df.localCheckpoint(eager=True)

    canon = _canonical(edges)
    if small_graph_threshold > 0:
        if n_edges_hint is not None and n_edges_hint <= small_graph_threshold:
            small = True
        else:
            small = (
                canon.limit(small_graph_threshold + 1).count()
                <= small_graph_threshold
            )
        if small:
            pairs = [(r["src"], r["dst"]) for r in canon.collect()]
            assign = _unionfind_local(pairs)
            if verbose:
                print(f"[cc] local union-find: {len(pairs)} edges, {len(assign)} nodes")
            if stats is not None:
                stats.update({"mode": "local-unionfind", "iterations": 0})
            import pandas as pd

            # pandas goes over Arrow: no Python-worker stage unpickles a list
            return spark.createDataFrame(
                pd.DataFrame(assign, columns=["member", "cluster_id"]),
                "member string, cluster_id string",
            )

    e = _ckpt(canon)
    prev_sig = None
    iter_secs: list[float] = []
    iter_edges: list[int] = []
    from pyspark.sql import Observation

    for it in range(max_iterations):
        t0 = _time.monotonic()
        # convergence signature rides the checkpoint materialization as an
        # observed metric instead of a separate agg job per iteration
        # (round 8): CollectMetrics computes count + xor-hash over exactly
        # the rows the eager checkpoint materializes (both xor and count
        # are order-invariant, and accumulator updates apply once per
        # successful partition), so the per-iteration re-scan of the
        # checkpointed frame disappears. Verified populated by BOTH
        # localCheckpoint(eager) and reliable checkpoint(eager) on 4.1.2.
        obs = Observation(f"cc-sig-{it}")
        nxt = _small_star(_large_star(e, dedup=False)).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
        )
        e = _ckpt(nxt)
        sig = obs.get
        cur = (sig["n"], sig["h"])
        iter_secs.append(round(_time.monotonic() - t0, 2))
        iter_edges.append(int(cur[0]))
        if verbose:
            print(f"[cc] iter {it}: {cur[0]} edges, {iter_secs[-1]:.2f}s")
        if cur == prev_sig:
            break
        prev_sig = cur
    if stats is not None:
        # per-iteration seconds + edge counts: a slow wall-clock reading
        # is attributable to a specific join round (skew, shrinking set)
        # vs uniform host-window slowness (round-6 observability item)
        stats.update(
            {
                "mode": "star-loop",
                "iterations": it + 1,
                "iter_secs": iter_secs,
                "iter_edges": iter_edges,
            }
        )

    # converged: edges point node -> component min; min itself is a member too
    members = e.select(F.col("src").alias("member"), F.col("dst").alias("cluster_id"))
    roots = e.select(F.col("dst").alias("member"), F.col("dst").alias("cluster_id")).distinct()
    return members.unionByName(roots).distinct()


def clusters_with_singletons(assignment: DataFrame, all_nodes: DataFrame, id_col: str) -> DataFrame:
    """Union singleton clusters for nodes with no surviving edge."""
    nodes = all_nodes.select(F.col(id_col).cast("string").alias("member")).distinct()
    missing = nodes.join(assignment, "member", "left_anti")
    singles = missing.select("member", F.col("member").alias("cluster_id"))
    return assignment.unionByName(singles)
