"""End-to-end pipeline: pairwise F1 ≥ 0.99 on the labeled-pairs oracle
(the north_rule headline metric) + resume-from-checkpoint."""

from __future__ import annotations

import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mix_blink_spark.fixtures import corpus_dfs
from mix_blink_spark.operators.metrics import cluster_pairs, pairwise_prf
from mix_blink_spark.plans.pipeline import LinkConfig, link
from mix_blink_spark.plans.resume import StageStore


@pytest.fixture(scope="module")
def e2e(spark):
    pages, ents, golds, labeled = corpus_dfs(spark, seed=7, n_pages=1500, n_entities=80)
    for df in (pages, ents, golds, labeled):
        df.cache().count()
    return pages, ents, golds, labeled


def _f1(spark, pages, ents, golds, labeled, store=None):
    spans = golds.select("url", "mention_id", "start", "end")
    out = link(spark, pages, spans, ents, LinkConfig(), store=store)
    pred = cluster_pairs(out["clusters"].select("member", "cluster_id"))
    return pairwise_prf(pred, labeled), out


def test_pairwise_f1_target(spark, e2e):
    pages, ents, golds, labeled = e2e
    res, out = _f1(spark, pages, ents, golds, labeled)
    print("PRF:", res)
    assert res["recall"] >= 0.99, res
    assert res["precision"] >= 0.99, res
    assert res["f1"] >= 0.99, res


def test_surface_extraction_matches_gold(spark, e2e):
    """P7 substring slicing must reproduce the generator's surfaces."""
    pages, ents, golds, _ = e2e
    spans = golds.select("url", "mention_id", "start", "end")
    from mix_blink_spark.plans.pipeline import build_mentions

    m = build_mentions(pages, spans)
    bad = (
        m.join(golds.select("mention_id", F.col("surface").alias("gold_surface")), "mention_id")
        .filter(F.col("surface") != F.col("gold_surface"))
        .count()
    )
    assert bad == 0


def test_pairwise_f1_generalizes_to_other_seed(spark):
    """Thresholds must not be overfit to the primary fixture seed."""
    from mix_blink_spark.fixtures import corpus_dfs

    pages, ents, golds, labeled = corpus_dfs(spark, seed=13, n_pages=800, n_entities=50)
    spans = golds.select("url", "mention_id", "start", "end")
    out = link(spark, pages, spans, ents, LinkConfig())
    res = pairwise_prf(cluster_pairs(out["clusters"]), labeled)
    assert res["f1"] >= 0.99, res


def test_link_config_measure_contract():
    with pytest.raises(NotImplementedError, match="dot is not supported"):
        LinkConfig(measure="dot")


@pytest.mark.parametrize("measure", ["ip", "l2"])
def test_pipeline_other_measures_smoke(spark, measure):
    """ip and l2 paths run end-to-end and still cluster exact variants."""
    from mix_blink_spark.fixtures import corpus_dfs
    from mix_blink_spark.operators.metrics import cluster_pairs, pairwise_prf

    pages, ents, golds, labeled = corpus_dfs(spark, seed=3, n_pages=300, n_entities=25)
    spans = golds.select("url", "mention_id", "start", "end")
    out = link(spark, pages, spans, ents, LinkConfig(measure=measure))
    res = pairwise_prf(cluster_pairs(out["clusters"]), labeled)
    assert res["f1"] >= 0.9, res


def test_resume_skips_completed_stages(spark, e2e, tmp_path):
    pages, ents, golds, labeled = e2e
    workdir = str(tmp_path / "stages")
    store = StageStore(spark, workdir)
    res1, _ = _f1(spark, pages, ents, golds, labeled, store=store)
    assert store.is_done("mentions") and store.is_done("clusters")

    # resume: mark one stage dirty; earlier stages must NOT recompute
    mentions_mark = os.path.getmtime(os.path.join(workdir, "mentions.watermark.json"))
    store.reset("clusters")
    res2, _ = _f1(spark, pages, ents, golds, labeled, store=store)
    assert os.path.getmtime(os.path.join(workdir, "mentions.watermark.json")) == mentions_mark
    assert res2["f1"] == pytest.approx(res1["f1"])

    # per-partition lineage metrics recorded for every stage
    stages = {r["stage"] for r in store.metrics().select("stage").distinct().collect()}
    assert {"mentions", "pairs_mm", "pairs_me", "edges", "clusters"} <= stages

    # score-distribution histograms recorded for the scoring stages
    hist = store.histograms()
    hstages = {r["stage"] for r in hist.select("stage").distinct().collect()}
    assert {"pairs_mm", "pairs_me"} <= hstages
    total = hist.filter(F.col("stage") == "pairs_mm").agg(F.sum("rows")).first()[0]
    assert total == store.run("pairs_mm", lambda: None).count()


def test_local_pairs_parity_with_distributed(spark, e2e):
    """The pair stage's two placements (operators.localpairs: the block
    kernel in-process at dimension scale, or behind the keyed exchange)
    must produce EXACTLY the same pairs — same (a, b) sets, bit-identical
    scores — and the same final clusters. max_block_size/me cap are
    forced low so BOTH the all-pairs and the sorted-neighborhood/
    insertion-window branches execute in each placement."""
    pages, ents, golds, labeled = e2e
    spans = golds.select("url", "mention_id", "start", "end")

    def run(limit):
        cfg = LinkConfig(max_block_size=12, me_max_block_size=30, neighborhood=4,
                         driver_pairs_limit=limit)
        out = link(spark, pages, spans, ents, cfg)
        mm = {(r["a"], r["b"]): (r["dense"], r["jw"], r["lev"], r["score"])
              for r in out["pairs_mm"].collect()}
        me = {(r["a"], r["b"]): (r["dense"], r["jw"], r["lev"], r["score"])
              for r in out["pairs_me"].collect()}
        cl = {(r["member"], r["cluster_id"]) for r in out["clusters"].collect()}
        return mm, me, cl

    mm_l, me_l, cl_l = run(50_000)   # in-process (dimension-scale corpus)
    mm_d, me_d, cl_d = run(0)        # keyed exchange forced

    assert set(mm_l) == set(mm_d)
    assert set(me_l) == set(me_d)
    for k in mm_l:
        assert mm_l[k] == mm_d[k], (k, mm_l[k], mm_d[k])
    for k in me_l:
        assert me_l[k] == me_d[k], (k, me_l[k], me_d[k])
    assert cl_l == cl_d


def test_empty_norm_mentions_are_singletons(spark):
    """Mentions whose normalized surface is empty (punctuation-only) OR
    NULL (a NULL span offset makes the substring NULL) must come out as
    their own singleton clusters in BOTH regimes — the projection's
    null-side fallback (round 5: single left-join pass) plus the
    NULL→'' fold in mentions_from_spans (round-5 ADVICE)."""
    from mix_blink_spark.functions.text import extract_text_str

    html = b"<html><body>Acme Corp ... !!! ... Acme Corp</body></html>"
    text = extract_text_str(html.decode())
    spans_py = []
    for i, (tok, mid) in enumerate(
        [("Acme Corp", "m_a1"), ("!!!", "m_punct"), ("Acme Corp", "m_a2")]
    ):
        start = text.find(tok, 0 if i < 2 else text.find(tok) + 1)
        spans_py.append(("u1", mid, start, start + len(tok)))
    assert all(s[2] >= 0 for s in spans_py), (text, spans_py)
    spans_py.append(("u1", "m_null", 0, None))  # NULL end -> NULL surface/norm

    pages = spark.createDataFrame(
        [("u1", bytearray(html), "en")], "url string, html binary, lang string"
    )
    spans = spark.createDataFrame(
        spans_py, "url string, mention_id string, start int, end int"
    )
    ents = spark.createDataFrame(
        [("e1", "Acme Corp", ["Acme Corporation"], "maker of anvils")],
        "id string, name string, aliases array<string>, description string",
    )
    for limit in (50_000, 0):  # driver-local regime, then distributed
        out = link(spark, pages, spans, ents, LinkConfig(driver_pairs_limit=limit))
        cl = {r["member"]: r["cluster_id"] for r in out["clusters"].collect()}
        assert cl["m_punct"] == "m_punct", (limit, cl)
        assert cl["m_null"] == "m_null", (limit, cl)
        assert cl["m_a1"] == cl["m_a2"], (limit, cl)
        assert len(cl) == 4, (limit, cl)


def test_link_parquet_path_parity(spark, tmp_path):
    """link() accepts a parquet PATH for pages (the python-direct scan —
    the fast plan every parquet-backed caller should get without reading
    bench.py) and produces exactly the DataFrame plan's clusters."""
    from mix_blink_spark.fixtures import corpus_dfs

    pages, ents, golds, _ = corpus_dfs(spark, seed=5, n_pages=250, n_entities=20)
    spans = golds.select("url", "mention_id", "start", "end")
    pq_dir = str(tmp_path / "pages_pq")
    pages.write.mode("overwrite").parquet(pq_dir)

    out_df = link(spark, pages, spans, ents, LinkConfig())
    out_path = link(spark, pq_dir, spans, ents, LinkConfig())
    cl_df = {(r["member"], r["cluster_id"]) for r in out_df["clusters"].collect()}
    cl_path = {(r["member"], r["cluster_id"]) for r in out_path["clusters"].collect()}
    assert cl_df == cl_path and len(cl_df) > 0

    # jvm_extract is the JVM plan; combining it with a path input is a
    # contradiction and must refuse, not silently fall back
    with pytest.raises(ValueError, match="python-direct"):
        link(spark, pq_dir, spans, ents, LinkConfig(jvm_extract=True))


def test_rowemb_parity_beyond_broadcast(spark):
    """broadcast_dense_limit=0 forces the row-embedding input of the pair
    stage — the beyond-broadcast vocabulary regime, where records carry
    their vectors through the keyed exchange. Its me pairs must equal the
    broadcast-matrix regime's, bit for bit."""
    from mix_blink_spark.fixtures import corpus_dfs

    pages, ents, golds, _ = corpus_dfs(spark, seed=23, n_pages=250, n_entities=20)
    spans = golds.select("url", "mention_id", "start", "end")

    def run(limit):
        cfg = LinkConfig(driver_pairs_limit=0, broadcast_dense_limit=limit)
        out = link(spark, pages, spans, ents, cfg)
        return {(r["a"], r["b"]): (r["dense"], r["jw"], r["lev"], r["score"])
                for r in out["pairs_me"].collect()}

    rowemb = run(0)
    assert rowemb == run(500_000)
    assert len(rowemb) > 0


# jobs one keyed-exchange link() submits on the corpus below: 22 with the
# block kernel (local[4]); the DataFrame blocking + scoring DAG it
# replaced ran 38
LINK_JOB_CEILING = 25


def test_distributed_link_job_count(spark):
    """A ceiling on the Spark jobs one link() runs with the pair stage on
    the keyed exchange (driver_pairs_limit=0), counted by job group — so a
    change cannot quietly bring back a many-job pair DAG."""
    from mix_blink_spark.fixtures import corpus_dfs

    pages, ents, golds, _ = corpus_dfs(spark, seed=29, n_pages=300, n_entities=30)
    for df in (pages, ents, golds):
        df.cache().count()
    spans = golds.select("url", "mention_id", "start", "end")
    sc = spark.sparkContext
    sc.setJobGroup("link-job-count", "distributed-placement link()")
    try:
        out = link(spark, pages, spans, ents, LinkConfig(driver_pairs_limit=0))
        jobs = sc.statusTracker().getJobIdsForGroup("link-job-count")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert out["clusters"].count() > 0
    assert 0 < len(jobs) <= LINK_JOB_CEILING, len(jobs)


@pytest.fixture(scope="module")
def unshuffled(spark):
    """A corpus and its clusters in each pair-stage placement, at the
    session's own page order and shuffle partitions."""
    pages, ents, golds, _ = corpus_dfs(spark, seed=37, n_pages=200, n_entities=20)
    spans = golds.select("url", "mention_id", "start", "end")
    want = {limit: _clusters(spark, pages, spans, ents, limit) for limit in (0, 50_000)}
    assert want[0] == want[50_000]
    return pages, spans, ents, want


def _clusters(spark, pages, spans, ents, driver_pairs_limit):
    out = link(spark, pages, spans, ents, LinkConfig(driver_pairs_limit=driver_pairs_limit))
    return {(r["member"], r["cluster_id"]) for r in out["clusters"].collect()}


@settings(max_examples=3, deadline=None)
@given(order_seed=st.integers(0, 2**16), partitions=st.sampled_from([1, 3, 7]))
def test_clusters_invariant_to_page_order_and_partitions(
    spark, unshuffled, order_seed, partitions
):
    """Metamorphic: shuffling the page order and changing
    spark.sql.shuffle.partitions leaves link()'s clusters unchanged, in
    both pair-stage placements."""
    pages, spans, ents, want = unshuffled
    shuffled = pages.orderBy(F.rand(order_seed)).repartition(partitions)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        for limit in (0, 50_000):
            assert _clusters(spark, shuffled, spans, ents, limit) == want[limit], limit
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
