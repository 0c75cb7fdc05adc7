"""The flagship end-to-end linkage pipeline (north_star stages 1-3).

    pages ──extract_text──► mentions(spans) ──► distinct surfaces ──┐
                                                                    ├─► pair stage ─► edges ─► CC ─► clusters
    entities ──NIL + aliases ──► alias table (encoded once) ────────┘

Graph construction (surface-form factored — the 100 TB-critical design):
  - every mention first collapses to its **normalized-surface node**
    ``NORM::md5(norm)`` via a linear edge. Pairwise work then runs over
    *distinct surfaces*, never over mentions: a popular entity mentioned a
    million times contributes ONE node to the quadratic stage instead of a
    10^12-edge clique. Cluster membership flows back through the
    mention→surface edges during connected components.
  - **surface↔surface** edges: combined score ≥ ``tau_mm`` within blocks;
  - **surface→entity anchor** edges: top-1 entity with score ≥
    ``tau_ent``. Entity nodes are namespaced ``ENT::<id>``; only the
    top-1 edge is kept per surface, so no surface can transitively merge
    two dictionary entities (the reference links each mention to exactly
    one best entity the same way, prediction/predict.py:40-52).

Anchors give the cluster step the dictionary's alias knowledge (the
"Facebook"→Meta analog in the reference toy data, dataset_toy.jsonl:3):
two mentions with lexically unrelated aliases of the same entity meet at
the anchor. Pure-NIL duplicate mentions meet through mention↔mention
edges instead.

The pair stage (blocking → pair scoring → me top-1) is ONE block kernel
(``operators.localpairs``) with two placements: in-process over one group
up to ``LinkConfig.driver_pairs_limit`` records, else behind one keyed
exchange — records explode over their blocking keys, one repartition by
key, the kernel per partition, one reduce keyed by surface. Both give the
same pairs bit for bit.

Scale notes (100 TB):
  - the only wide rows (``html``) die immediately after text extraction
    (column pruning — verified in tests via the explained plan);
  - surfaces and aliases are dimension-sized: their embeddings ride one
    broadcast matrix up to ``broadcast_dense_limit`` surfaces, and the
    pair-stage records beyond it;
  - the pair stage shuffles records once by blocking key, with the size
    cap / sorted-neighbourhood skew guard applied per block;
  - CC runs on the (much smaller) above-threshold edge set with
    checkpointed iterations.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.embed import encode
from ..functions.text import normalize_surface
from ..operators.cc import connected_components
from ..operators.localpairs import (
    ME,
    MM,
    PAIRS_SCHEMA,
    distributed_pairs,
    local_pairs,
    stack_rows,
)
from ..operators.scoring import check_measure
from ..sources.dictionary import explode_surfaces, with_nil
from ..sources.pages import mentions_from_spans, with_extracted_text
from .resume import StageStore

ENT_PREFIX = "ENT::"
NORM_PREFIX = "NORM::"


@dataclass
class LinkConfig:
    measure: str = "cos"
    dense_weight: float = 0.5
    tau_mm: float = 0.82       # mention<->mention edge threshold
    tau_ent: float = 0.80      # mention->entity anchor threshold
    max_block_size: int = 200
    neighborhood: int = 8
    # JVM codegen extraction fast path (functions/text.extract_text_jvm):
    # byte-equal for standard-escaped corpora, ~no Python in the per-page
    # stage. Default False = full-fidelity Python kernel.
    jvm_extract: bool = False
    # encoder pandas_udf (Column -> Column) — the E1/E2 production seam:
    # None = the trigram `encode`; pass make_encoder_udf(hf_encode_batch(..))
    # or make_encoder_udf(mini_transformer_batch(..)) to swap encoders
    # without touching the plan (functions/embed.py)
    encoder: object | None = None
    # per-HOST cap on concurrent scan+extract tasks (None = no cap). The
    # html scan+extract stage is kernel-data-path bound (page-cache reads
    # + Arrow socket copies), and a host saturates that path well below
    # its advertised core count — this box peaks at ~8-12 concurrent
    # data-path tasks while pure compute scales to ~26 effective cores
    # (bench_artifacts/{sysbisect,capacity_ladder}_r3.json; capping the
    # stage at 12 inside local[32] measured 1.8x faster than uncapped).
    # On a multi-executor cluster the cap is per host: each executor
    # group applies its own budget, so total scan concurrency still grows
    # linearly with hosts.
    io_slots: int | None = None
    # broadcast the span table into the pages join so the heavy text
    # column never shuffles (sources/pages.mentions_from_spans) — right
    # whenever the span set fits a broadcast; the profiled 40%-sys
    # shuffle of round 3 was exactly this join's exchange
    broadcast_spans: bool = False
    # high-vocabulary guard for the surface→entity pairs of a block: keys
    # whose combined membership (surfaces + aliases) exceeds
    # me_max_block_size switch to an insertion window over the
    # norm-interleaved order (operators.localpairs.block_kernel).
    # None (default) = exact product on every key: every candidate a key can
    # produce is scored, so default recall never depends on sort
    # adjacency. The guard is OPT-IN because it is recall-affecting: a
    # true match inside a hot key that is not within ``neighborhood`` of
    # its surface's insertion point is dropped. Set it (200 is the bench
    # value) at Common-Crawl vocabulary scale, where one hot key carried
    # 2.6k surfaces x 2k aliases = 5M scored pairs (round-3 finding).
    me_max_block_size: int | None = None
    # up to this many distinct surfaces, the pair stage reads embeddings
    # from ONE broadcast matrix (north_star: the embedding index as a
    # broadcast variable) and its records carry only a row index — ~0.25
    # KB/row less shuffle + Arrow traffic. Above it the records carry
    # their vectors through the exchange (scales to any vocabulary).
    # 500k rows x 64 float32 = 128 MB.
    broadcast_dense_limit: int = 500_000
    # S8 integration: directory of an EntityIndexStore holding the
    # pre-encoded alias index (ord, id, norm, emb). When set, link() LOADS
    # the committed version instead of re-encoding the dictionary — the
    # build-once/reuse contract of the reference's serialized retriever
    # (reference retriever/dense.py:124-151) applied to the pipeline's
    # alias side, which is the expensive encode with a real transformer
    # behind the seam. A store with no committed version is populated on
    # first run (dimension-scale path). Like StageStore, one store dir
    # binds to one (dictionary, encoder) configuration.
    alias_store: str | None = None
    # placement of the pair stage's block kernel: up to this many
    # (surfaces + aliases) it runs in-process on the driver over ONE group
    # — no Spark job, and the edges + union-find stay on the driver too.
    # Above it, the same kernel runs behind one keyed exchange (records
    # exploded over blocking keys, repartitioned by key, one kernel call
    # per partition, one reduce keyed by surface) — a handful of jobs
    # whose fixed cost the in-process placement saves at dimension scale,
    # and which spreads the work over every core at vocabulary scale (the
    # in-process placement is single-threaded). Both placements give the
    # same pairs bit for bit. 0 always uses the exchange.
    driver_pairs_limit: int = 4_000

    def __post_init__(self) -> None:
        check_measure(self.measure)


def _with_emb(df: DataFrame, text_col: str = "norm", enc=None) -> DataFrame:
    return df.withColumn("emb", (enc or encode)(F.col(text_col)))


def _matrix(embs):
    """float32 row matrix of a collected ``emb`` column."""
    import numpy as np

    if not len(embs):
        return np.zeros((0, 1), np.float32)
    return np.stack(embs.to_numpy()).astype(np.float32)


def build_mentions(
    pages: DataFrame | str,
    spans: DataFrame,
    from_html: bool = True,
    jvm_extract: bool = False,
    io_slots: int | None = None,
    broadcast_spans: bool = False,
) -> DataFrame:
    """Extract text from ``html`` (the byte-stable kernel — the pipeline's
    own text, never trusting a pre-extracted column) and slice mention
    surfaces. ``html`` is pruned immediately after extraction.
    ``io_slots``: see LinkConfig.io_slots.

    ``pages`` may be a parquet PATH instead of a DataFrame: the scan then
    uses the python-direct row-group reader
    (``sources.pages.read_pages_extracted_python`` — mmap parquet decode +
    extraction inside the Python worker, html never crossing the
    JVM↔Python socket), the fastest measured plan at every parallelism
    level on parquet-backed pages (round 5: ~2.2× the standard scan
    single-core). Byte-identical text output (parity-gated); the
    DataFrame form remains the plan for non-parquet sources (Iceberg,
    streams, in-memory tests)."""
    if isinstance(pages, str):
        if jvm_extract:
            raise ValueError(
                "jvm_extract=True is the JVM DataFrame plan; a parquet-path "
                "pages input selects the python-direct reader — pass a "
                "DataFrame instead"
            )
        if not from_html:
            raise ValueError(
                "from_html=False (pre-extracted text) has no python-direct "
                "plan; pass the pages DataFrame instead of a parquet path"
            )
        from ..sources.pages import read_pages_extracted_python

        pages = read_pages_extracted_python(
            spans.sparkSession, pages, columns=("url", "lang")
        )
        if io_slots is not None:
            pages = pages.coalesce(io_slots)
        return mentions_from_spans(pages, spans, broadcast_spans=broadcast_spans)
    if from_html and "html" in pages.columns:
        if io_slots is not None:
            pages = pages.coalesce(io_slots)
        if jvm_extract:
            from ..functions.text import extract_text_jvm

            pages = pages.select(
                "url", extract_text_jvm(F.col("html")).alias("text"), "lang"
            )
        else:
            pages = (
                with_extracted_text(pages)
                .select("url", F.col("extracted_text").alias("text"), "lang")
            )
    return mentions_from_spans(pages, spans, broadcast_spans=broadcast_spans)


def link(
    spark: SparkSession,
    pages: DataFrame | str,
    spans: DataFrame,
    entities: DataFrame,
    cfg: LinkConfig | None = None,
    store: StageStore | None = None,
    verbose: bool = False,
    timings: dict | None = None,
) -> dict[str, DataFrame]:
    """Run the full pipeline. With a ``store``, every stage is resumable.

    ``pages`` may be a parquet path (string) — the scan then uses the
    python-direct row-group reader, the fastest measured plan on
    parquet-backed pages at every parallelism level (see
    ``build_mentions``). Pass a DataFrame for every other source.

    Returns dict with: mentions, pairs_mm, pairs_me, edges, clusters.
    cluster ids: min member id (entity anchors sort first via ENT:: prefix
    only by accident of lexicographics — ids are opaque).

    ``timings``: optional dict that receives per-stage/per-mark elapsed
    seconds (the same numbers verbose mode prints) — bench legs record
    these into the artifact so a slow run is attributable to a stage.
    """
    cfg = cfg or LinkConfig()

    import time as _time

    def stage(name: str, fn):
        t0 = _time.monotonic()
        out = store.run(name, fn) if store is not None else fn()
        dt = _time.monotonic() - t0
        if timings is not None:
            timings[name] = round(dt, 3)
        if verbose:
            print(f"[link] stage {name}: {dt:.2f}s")
        return out

    def mark(name: str, t0: float) -> None:
        dt = _time.monotonic() - t0
        if timings is not None:
            # stable key: drop the per-run "(n=..., p=...)" detail suffix
            timings[name.split(" (")[0]] = round(dt, 3)
        if verbose:
            print(f"[link] {name}: {dt:.2f}s")

    mentions = stage(
        "mentions",
        lambda: build_mentions(
            pages,
            spans,
            jvm_extract=cfg.jvm_extract,
            io_slots=cfg.io_slots,
            broadcast_spans=cfg.broadcast_spans,
        ),
    )
    # Only (mention_id, norm) is consumed inside the pipeline (surfaces
    # are distinct norms; the cluster projection joins on norm keyed by
    # mention_id), so that NARROW projection is what gets cached — the
    # full mention rows carry surface/context/url (~350 B/row vs ~30 B),
    # and caching them charged every leg a corpus-sized serialize +
    # re-scan for columns nothing downstream reads (optimization guide
    # §2.3: project before you materialize). The returned ``mentions``
    # frame keeps the full schema; callers that materialize it recompute
    # the (lazy) extraction — no in-pipeline consumer does.
    m_narrow = mentions.select("mention_id", "norm")
    if store is None:
        m_narrow = m_narrow.persist()

    # dimension side: dictionary surfaces (with NIL dropped from surfaces)
    ent_surfaces = (
        explode_surfaces(with_nil(entities))
        .withColumn("norm", normalize_surface(F.col("surface")))
        .withColumn("rid", F.concat(F.lit(ENT_PREFIX), F.col("id")))
        .select("rid", "id", "surface", "norm")
    )

    # surface-form factoring: all quadratic work happens on DISTINCT norms
    def make_surfaces():
        return (
            m_narrow.select("norm")
            .filter(F.length("norm") > 0)
            .distinct()
            .withColumn("rid", F.concat(F.lit(NORM_PREFIX), F.md5("norm")))
        )

    # eager-materialize the heavy shared subtree once (persist alone is
    # lazy); downstream dimension-scale frames read this cache
    _t0 = _time.monotonic()
    surfaces0 = stage("surfaces", make_surfaces).persist()
    # single materialization of the heavy upstream (scan+extract+join):
    # count AFTER persist, then the coalesce below reads from cache
    n_surf = surfaces0.count()
    # dimension-scale data runs on few partitions: each Python-UDF task has
    # a fixed Arrow/worker cost, so 625 surfaces across 32 partitions is
    # ~10x slower than across 1 (measured); fact-scale stages keep full
    # parallelism. The alias table is partitioned the same way (n_surf is
    # its size proxy — no dedicated count job). No second persist/count:
    # re-reading the surfaces0 cache through a coalesce is cheaper than
    # another action per run.
    p_surf = max(1, min(spark.sparkContext.defaultParallelism, n_surf // 2000 + 1))
    surfaces = surfaces0.coalesce(p_surf)
    mark(f"surfaces materialize (n={n_surf}, p={p_surf})", _t0)

    # S8: a COMMITTED alias store is the single source of truth for the
    # dictionary side in EVERY regime — blocking, dense lookup, and the
    # join path all derive from the same store rows ("store wins", the
    # contract test_link_alias_store_reuse documents). Round-4 ADVICE:
    # deriving blocking from the `entities` argument while the dense
    # matrix came from the store made divergent dictionaries crash (bc
    # id-map NaN) or silently skip store-only aliases depending on
    # corpus size. A store with no committed version is ignored here and
    # populated below on first run (dimension-scale path).
    ai_store = None
    store_idx = None
    if cfg.alias_store is not None:
        from .index_store import EntityIndexStore

        ai_store = EntityIndexStore(spark, cfg.alias_store)
        idx = ai_store.index_df()
        if idx is not None and "norm" in idx.columns:
            store_idx = idx
    alias_records = (
        store_idx.select(F.col("id").alias("rid"), "norm")
        if store_idx is not None
        else ent_surfaces.select("rid", "norm").distinct()
    )

    _t0 = _time.monotonic()
    s_embs = _with_emb(surfaces.select("rid", "norm"), enc=cfg.encoder)
    # resumable runs with BOTH pair stages already committed skip every
    # eager scoring prerequisite below (surface toPandas, alias encode or
    # store load, broadcasts, store commit): the pair stage is never
    # invoked, so building its inputs at plan-build time was pure waste on
    # resume (round-4 ADVICE).
    pairs_cached = (
        store is not None and store.is_done("pairs_mm") and store.is_done("pairs_me")
    )
    use_bc = not pairs_cached and n_surf <= cfg.broadcast_dense_limit
    spdf = apdf = None
    s_rows: list | None = None
    if use_bc:
        # The encoder kernel (one eager action) runs as a Spark job either
        # way; at dimension scale its RESULT is collected into one
        # broadcast matrix so pair-stage records carry only a row index —
        # the north_star's "embedding index as a broadcast variable".
        # Above the limit (vocabularies past driver memory) the vectors
        # stay distributed and ride the records instead.
        #
        # alias dimension table: the committed store's rows when loaded
        # (S8 reuse — no re-encode; the SAME rows the pair stage blocks
        # on), else alias_records encoded as a Spark job and committed to
        # the store if one was given. Without a store, surfaces and
        # aliases encode + collect in ONE side-tagged Spark job instead of
        # two: at dimension scale each toPandas round trip is mostly fixed
        # job overhead (round 5).
        if store_idx is not None:
            spdf = s_embs.select("rid", "norm", "emb").toPandas()
            apdf = (
                store_idx.orderBy("ord")
                .select(F.col("id").alias("rid"), "norm", "emb")
                .toPandas()
            )
        else:
            both = (
                surfaces.select("rid", "norm")
                .withColumn("side", F.lit(0))
                .unionByName(
                    alias_records.coalesce(p_surf).withColumn("side", F.lit(1))
                )
                # the union carries 2 x p_surf partitions; at dimension
                # scale that's 2 sequential ~0.5s-fixed-cost UDF tasks for
                # ~1k tiny rows — collapse to the intended parallelism
                .coalesce(p_surf)
            )
            if cfg.encoder is None:
                # default trigram encoder: its batch kernel
                # (functions.embed.encode_matrix) is importable driver-side,
                # so at dimension scale the rows come back in ONE collect
                # job with NO Arrow-UDF stage and the encode runs here —
                # bit-identical float32 rows (same kernel, same None→""
                # fold as the pandas_udf wrapper). A custom cfg.encoder
                # keeps the UDF job: its batch_fn may need worker-side
                # state (HF weights) by design.
                from ..functions.embed import encode_matrix

                bpdf = both.select("side", "rid", "norm").toPandas()
                _bmat = encode_matrix(
                    [s if s is not None else "" for s in bpdf["norm"]]
                )
                bpdf["emb"] = list(_bmat)
            else:
                bpdf = (
                    _with_emb(both, enc=cfg.encoder)
                    .select("side", "rid", "norm", "emb")
                    .toPandas()
                )
            spdf = bpdf[bpdf["side"] == 0].reset_index(drop=True)
            apdf = bpdf[bpdf["side"] == 1].reset_index(drop=True)
        s_rows = list(zip(spdf["rid"], spdf["norm"]))
        s_mat = _matrix(spdf["emb"])
        a_rows = list(zip(apdf["rid"], apdf["norm"]))
        a_mat = _matrix(apdf["emb"])
        if ai_store is not None and ai_store.version() is None:
            index_df = spark.createDataFrame(
                [
                    (i, a_rows[i][0], a_rows[i][1], [float(x) for x in a_mat[i]])
                    for i in range(len(a_rows))
                ],
                "ord int, id string, norm string, emb array<float>",
            )
            ai_store.commit(
                index_df,
                {
                    "encoder": "link-alias",
                    "dim": int(a_mat.shape[1]),
                    "n_rows": len(a_rows),
                    "measure": cfg.measure,
                },
            )
    use_local = (
        cfg.driver_pairs_limit > 0
        and use_bc
        and n_surf + len(apdf) <= cfg.driver_pairs_limit
    )
    mark(f"keys+embs materialize (local_pairs={use_local})", _t0)

    kernel_args = dict(
        measure=cfg.measure,
        dense_weight=cfg.dense_weight,
        tau_ent=cfg.tau_ent,
        max_block_size=cfg.max_block_size,
        me_max_block_size=cfg.me_max_block_size,
        neighborhood=cfg.neighborhood,
    )
    # The pair stage (operators.localpairs): ONE block kernel, placed
    # in-process below driver_pairs_limit ("local": reduced (mm, me) rows
    # that never leave the driver) or behind one keyed exchange ("df": a
    # frame of kind-tagged rows). Built once, on first use by either pairs
    # frame; aliases are scored per (id, norm) — one entity may carry
    # several alias norms.
    _pairs: dict = {}

    def pair_stage() -> dict:
        if _pairs:
            return _pairs
        if use_local:
            _pairs["local"] = local_pairs(s_rows, s_mat, a_rows, a_mat, **kernel_args)
            return _pairs
        mat_bc = None
        if use_bc:
            # records carry a row index into one broadcast matrix
            import numpy as np
            import pandas as pd

            recs = pd.concat(
                [spdf[["rid", "norm"]].assign(side=0), apdf[["rid", "norm"]].assign(side=1)],
                ignore_index=True,
            )
            recs["idx"] = np.arange(len(recs), dtype=np.int32)
            records = spark.createDataFrame(
                recs[["side", "rid", "norm", "idx"]],
                "side tinyint, rid string, norm string, idx int",
            )
            mat_bc = spark.sparkContext.broadcast(stack_rows(s_mat, a_mat))
        else:
            # beyond-broadcast vocabulary: records carry their vectors;
            # the alias side is the committed store's rows when loaded
            alias_embs = (
                store_idx.select(F.col("id").alias("rid"), "norm", "emb")
                if store_idx is not None
                else _with_emb(alias_records.coalesce(p_surf), enc=cfg.encoder)
            )
            records = s_embs.select(
                F.lit(0).cast("tinyint").alias("side"), "rid", "norm", "emb"
            ).unionByName(
                alias_embs.select(F.lit(1).cast("tinyint").alias("side"), "rid", "norm", "emb")
            )
        tagged = distributed_pairs(
            records,
            partitions=spark.sparkContext.defaultParallelism,
            mat_bc=mat_bc,
            **kernel_args,
        )
        # a store (or verbose mode) materializes pairs_mm and pairs_me one
        # at a time: cache the tagged rows so the stage runs once. Otherwise
        # the edges below are the stage's only consumer in one pass.
        _pairs["df"] = tagged.persist() if store is not None or verbose else tagged
        return _pairs

    def pair_frame(kind: int) -> DataFrame:
        st = pair_stage()
        if "local" in st:
            return spark.createDataFrame(st["local"][kind], PAIRS_SCHEMA)
        return st["df"].filter(F.col("kind") == kind).drop("kind")

    pairs_mm = stage("pairs_mm", lambda: pair_frame(MM))
    pairs_me = stage("pairs_me", lambda: pair_frame(ME))
    if verbose and store is None:
        # eager-pairs attribution (round-3 verdict item 7): the pairs
        # frames are lazy, so without this the first action under a LATER
        # stage pays for the whole scoring subtree and the [link] stage
        # timings lie. Verbose mode persists + counts each pairs frame so
        # the profile shows where time actually goes; edges below then
        # read the caches. Non-verbose runs keep the single-materialization
        # plan (the persisted edges frame).
        pairs_mm = pairs_mm.persist()
        _t0 = _time.monotonic()
        n_mm = pairs_mm.count()
        mark(f"pairs_mm materialize (n={n_mm})", _t0)
        pairs_me = pairs_me.persist()
        _t0 = _time.monotonic()
        n_me = pairs_me.count()
        mark(f"pairs_me materialize (n={n_me})", _t0)
    if store is not None:
        # score-distribution metrics per scoring stage (north_rule)
        store.record_histogram("pairs_mm", pairs_mm, "score")
        store.record_histogram("pairs_me", pairs_me, "score")

    def make_edges():
        # surface/entity graph only — mentions are projected back after CC
        # via their surface node, so the iterative stage runs on a graph
        # ~|distinct surfaces|, independent of corpus size
        if store is None and "df" in _pairs:
            # one filter over the tagged rows: a union of the two pairs
            # views would run the pair stage once per view
            return _pairs["df"].filter(
                (F.col("kind") == ME) | (F.col("score") >= cfg.tau_mm)
            ).select(F.col("a").alias("src"), F.col("b").alias("dst"))
        mm = pairs_mm.filter(F.col("score") >= cfg.tau_mm).select(
            F.col("a").alias("src"), F.col("b").alias("dst")
        )
        me = pairs_me.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        return mm.unionByName(me)

    edges = stage("edges", make_edges)
    n_edges: int | None = None
    local_assign: list[tuple[str, str]] | None = None
    edges_persisted = False
    if store is None and "local" in _pairs:
        # the pair rows never left the driver in this regime, so edges and
        # the union-find run here directly — skipping the edges count job,
        # CC's collect job, and the pair-cache re-read. Same contract as
        # connected_components' driver path (self-loops dropped, min-id
        # cluster ids); the returned `edges` DataFrame is definitionally
        # the same rows (make_edges over the createDataFrame'd local rows).
        from ..operators.cc import _unionfind_local

        _t0 = _time.monotonic()
        mm_rows, me_rows = _pairs["local"]
        edge_rows = [
            (r[0], r[1]) for r in mm_rows if r[5] >= cfg.tau_mm and r[0] != r[1]
        ] + [(r[0], r[1]) for r in me_rows if r[0] != r[1]]
        n_edges = len(edge_rows)
        local_assign = _unionfind_local(edge_rows)
        mark(f"edges local (n={n_edges})", _t0)
    elif store is None:
        # CC takes several actions over edges (size probe, collect/loop)
        # and the cluster projection re-reads them; without a persist the
        # whole pair-scoring DAG re-executes per action (measured: the
        # clusters stage ran the blocking+scoring subtree ~3x). The count
        # here (a) materializes the cache EAGERLY so the scoring subtree
        # is attributed to the edges stage, not wherever the first action
        # lands (the round-3 highvocab profile blamed 94 s on "clusters"),
        # and (b) doubles as the CC dispatch hint — connected_components
        # skips its limit-probe job when the bound is under threshold.
        edges = edges.persist()
        edges_persisted = True
        _t0 = _time.monotonic()
        n_edges = edges.count()
        mark(f"edges materialize (n={n_edges})", _t0)

    def cluster():
        # reliable checkpoints only in resumable (store) mode; localCheckpoint
        # truncates lineage identically for in-session runs
        if local_assign is not None:
            # the (rid, norm) surface rows AND the assignment are both
            # driver-local in this regime, so the surface->cluster map is a
            # dict lookup — the same left-join-with-rid-fallback semantics
            # as below without the join job + its broadcast-build chain
            amap = dict(local_assign)
            surf_assign = spark.createDataFrame(
                [(nm, amap.get(r, r)) for r, nm in s_rows],
                "norm string, cluster_id string",
            )
        else:
            assignment = connected_components(
                edges,
                checkpoint=store is not None,
                verbose=verbose,
                n_edges_hint=n_edges,
            )
            surf_assign = (
                surfaces.join(assignment.withColumnRenamed("member", "rid"), "rid", "left")
                .select("norm", F.coalesce("cluster_id", F.col("rid")).alias("cluster_id"))
            )
        m = m_narrow
        # the projection joins CORPUS-scale mentions against the
        # dimension-scale surface assignment: broadcast the small side so
        # the mention table never shuffles here. Size-gated on the n_surf
        # we already counted — at vocabulary scales past the broadcast
        # budget this degrades to the shuffle join AQE would plan anyway.
        sa = F.broadcast(surf_assign) if n_surf < 2_000_000 else surf_assign
        # single pass over the mention table: every non-empty norm is in
        # surf_assign by construction (surfaces = distinct non-empty norms
        # of these mentions), so the left join matches exactly them and the
        # null-side fallback makes empty-norm mentions singletons — the
        # same result as an inner join + union of the two filters, without
        # reading the corpus-scale cache twice
        return m.join(sa, "norm", "left").select(
            F.col("mention_id").alias("member"),
            F.coalesce("cluster_id", F.col("mention_id")).alias("cluster_id"),
        )

    _t0 = _time.monotonic()
    clusters = stage("clusters", cluster)
    mark("clusters stage", _t0)
    if store is None:
        # materialize before dropping upstream caches (clusters is lazy here)
        clusters = clusters.persist()
        _t0 = _time.monotonic()
        clusters.count()
        mark("clusters materialize", _t0)
    unpersist = [surfaces0]
    if "df" in _pairs and _pairs["df"].is_cached:
        unpersist.append(_pairs["df"])
    if store is None:
        unpersist.append(m_narrow)
    if edges_persisted:
        unpersist.append(edges)
    if verbose and store is None:
        unpersist.extend([pairs_mm, pairs_me])
    for df in unpersist:
        df.unpersist()

    return {
        "mentions": mentions,
        "pairs_mm": pairs_mm,
        "pairs_me": pairs_me,
        "edges": edges,
        "clusters": clusters,
    }
