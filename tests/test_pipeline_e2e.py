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


# a driver_pairs_limit above any test corpus's estimated pair count: the
# pair stage runs in-process
IN_PROCESS = 10**9


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
    """The pair stage's three placements (operators.localpairs: the block
    kernel in-process, as driver-planned bins in one Spark job, or behind
    the keyed exchange past broadcast_dense_limit) must produce EXACTLY
    the same pairs — same (a, b) sets, bit-identical scores — and the same
    final clusters. max_block_size/me cap are forced low so BOTH the
    all-pairs and the sorted-neighborhood/insertion-window branches
    execute in each placement."""
    pages, ents, golds, labeled = e2e
    spans = golds.select("url", "mention_id", "start", "end")

    def run(limit, dense_limit=500_000):
        cfg = LinkConfig(max_block_size=12, me_max_block_size=30, neighborhood=4,
                         driver_pairs_limit=limit, broadcast_dense_limit=dense_limit)
        out = link(spark, pages, spans, ents, cfg)
        mm = {(r["a"], r["b"]): (r["dense"], r["jw"], r["lev"], r["score"])
              for r in out["pairs_mm"].collect()}
        me = {(r["a"], r["b"]): (r["dense"], r["jw"], r["lev"], r["score"])
              for r in out["pairs_me"].collect()}
        cl = {(r["member"], r["cluster_id"]) for r in out["clusters"].collect()}
        return mm, me, cl

    mm_l, me_l, cl_l = run(IN_PROCESS)   # in-process (dimension-scale corpus)
    for placed in (run(0), run(0, dense_limit=0)):  # bins, keyed exchange
        mm_d, me_d, cl_d = placed
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
    for limit in (IN_PROCESS, 0):  # in-process, then bins
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
    """A broadcast_dense_limit below the surface count forces the
    row-embedding input of the pair stage — the beyond-broadcast
    vocabulary regime, where records carry their vectors through the keyed
    exchange. The bounded surfaces collect must give up at limit + 1 rows
    and fall back to that regime: its me pairs must equal the
    dimension-scale bins placement's, bit for bit, and its clusters the
    in-process placement's."""
    from mix_blink_spark.fixtures import corpus_dfs

    pages, ents, golds, _ = corpus_dfs(spark, seed=23, n_pages=250, n_entities=20)
    spans = golds.select("url", "mention_id", "start", "end")

    def run(dense_limit, pairs_limit=0):
        cfg = LinkConfig(driver_pairs_limit=pairs_limit, broadcast_dense_limit=dense_limit)
        out = link(spark, pages, spans, ents, cfg)
        me = {(r["a"], r["b"]): (r["dense"], r["jw"], r["lev"], r["score"])
              for r in out["pairs_me"].collect()}
        return me, {(r["member"], r["cluster_id"]) for r in out["clusters"].collect()}

    bc_me, _ = run(500_000)
    _, local_cl = run(500_000, pairs_limit=IN_PROCESS)
    for dense_limit in (0, 5):
        me, cl = run(dense_limit)
        assert me == bc_me, dense_limit
        assert cl == local_cl, dense_limit
    assert len(bc_me) > 0


def _link_jobs(spark, pages, spans, ents, cfg):
    """link()'s output and the number of Spark jobs it ran, counted by job
    group."""
    import uuid

    sc = spark.sparkContext
    group = f"link-job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "link() job count")
    try:
        out = link(spark, pages, spans, ents, cfg)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(jobs)


# jobs one link() with the pair stage in Spark submits on the corpus
# below (local[4]): 10 with the bins' one shuffle-free job (8 after a
# session's first link()); 12 with the keyed exchange's three stages; 22
# with the surfaces count, the edges persist + count and CC's collect; 38
# with the DataFrame blocking + scoring DAG before the block kernel
LINK_JOB_CEILING = 11


def test_distributed_link_job_count(spark):
    """A ceiling on the Spark jobs one link() runs with the pair stage in
    Spark (driver_pairs_limit=0: the bins at this dimension-scale corpus)
    — so a change cannot quietly bring back a many-job pair DAG or a
    dimension-scale tail."""
    from mix_blink_spark.fixtures import corpus_dfs

    pages, ents, golds, _ = corpus_dfs(spark, seed=29, n_pages=300, n_entities=30)
    for df in (pages, ents, golds):
        df.cache().count()
    spans = golds.select("url", "mention_id", "start", "end")
    out, jobs = _link_jobs(spark, pages, spans, ents, LinkConfig(driver_pairs_limit=0))
    assert out["clusters"].count() > 0
    assert 0 < jobs <= LINK_JOB_CEILING, jobs


# jobs the same link() submits with the pair stage behind the keyed
# exchange (broadcast_dense_limit=0: the vocabulary-scale plan) on the
# corpus below (local[4]): 23 as a session's first link(), 20 after it
KEYED_LINK_JOB_CEILING = 24


def test_keyed_exchange_link_job_count(spark):
    """The job ceiling of the vocabulary-scale plan: surfaces persisted
    and counted, records carrying their vectors through the keyed
    exchange, CC on the edge set."""
    pages, ents, golds, _ = corpus_dfs(spark, seed=29, n_pages=300, n_entities=30)
    for df in (pages, ents, golds):
        df.cache().count()
    spans = golds.select("url", "mention_id", "start", "end")
    cfg = LinkConfig(driver_pairs_limit=0, broadcast_dense_limit=0)
    out, jobs = _link_jobs(spark, pages, spans, ents, cfg)
    assert out["clusters"].count() > 0
    assert 0 < jobs <= KEYED_LINK_JOB_CEILING, jobs


# jobs one in-process link() over a parquet-path pages input submits on
# the corpus below (local[4]): 9 with the range-born scan splits and one
# collect per side; 13 with the split list shuffled and the surfaces count
SCAN_LINK_JOB_CEILING = 10


def test_parquet_scan_link_job_count(spark, tmp_path):
    """A ceiling on the Spark jobs of the scan-led shape: pages as a
    parquet path (the python-direct reader), spans broadcast, the pair
    stage in-process."""
    pages, ents, golds, _ = corpus_dfs(spark, seed=31, n_pages=300, n_entities=30)
    pq_dir = str(tmp_path / "pages_pq")
    pages.write.parquet(pq_dir)
    for df in (ents, golds):
        df.cache().count()
    spans = golds.select("url", "mention_id", "start", "end")
    cfg = LinkConfig(broadcast_spans=True)
    out, jobs = _link_jobs(spark, pq_dir, spans, ents, cfg)
    assert out["clusters"].count() == golds.count()
    assert 0 < jobs <= SCAN_LINK_JOB_CEILING, jobs


# LinkConfig fields that put the pair stage of the corpus below in each
# placement: in-process, bins, keyed exchange
PLACEMENTS = {
    "in-process": dict(driver_pairs_limit=IN_PROCESS),
    "bins": dict(driver_pairs_limit=0),
    "keyed exchange": dict(driver_pairs_limit=0, broadcast_dense_limit=0),
}


@pytest.fixture(scope="module")
def unshuffled(spark):
    """A corpus and its clusters in each pair-stage placement, at the
    session's own page order and shuffle partitions."""
    pages, ents, golds, _ = corpus_dfs(spark, seed=37, n_pages=200, n_entities=20)
    spans = golds.select("url", "mention_id", "start", "end")
    want = {name: _clusters(spark, pages, spans, ents, kw) for name, kw in PLACEMENTS.items()}
    assert want["in-process"] == want["bins"] == want["keyed exchange"]
    return pages, spans, ents, want


def _clusters(spark, pages, spans, ents, placement: dict):
    out = link(spark, pages, spans, ents, LinkConfig(**placement))
    return {(r["member"], r["cluster_id"]) for r in out["clusters"].collect()}


@settings(max_examples=3, deadline=None)
@given(order_seed=st.integers(0, 2**16), partitions=st.sampled_from([1, 3, 7]))
def test_clusters_invariant_to_page_order_and_partitions(
    spark, unshuffled, order_seed, partitions
):
    """Metamorphic: shuffling the page order and changing
    spark.sql.shuffle.partitions leaves link()'s clusters unchanged, in
    every pair-stage placement."""
    pages, spans, ents, want = unshuffled
    shuffled = pages.orderBy(F.rand(order_seed)).repartition(partitions)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        for name, kw in PLACEMENTS.items():
            assert _clusters(spark, shuffled, spans, ents, kw) == want[name], name
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


_SMALL_HEAP_LINK = """
import json
from mix_blink_spark.fixtures import corpus_dfs
from mix_blink_spark.plans.pipeline import LinkConfig, link
from mix_blink_spark.session import get_spark

spark = get_spark(app_name="mbs-small-heap", master="local[2]",
                  extra_conf={"spark.driver.memory": "2g"})
pages, ents, golds, _ = corpus_dfs(spark, seed=41, n_pages=600, n_entities=40)
spans = golds.select("url", "mention_id", "start", "end")
runs = {}
for limit in (0, LinkConfig().driver_pairs_limit):
    out = link(spark, pages, spans, ents, LinkConfig(driver_pairs_limit=limit))
    runs[limit] = [[r["member"], r["cluster_id"]] for r in out["clusters"].collect()]
print(json.dumps({
    "max_heap": spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory(),
    "mentions": [r["mention_id"] for r in golds.select("mention_id").collect()],
    "runs": list(runs.values()),
}))
spark.stop()
"""


def test_link_fits_a_small_driver_heap():
    """The pipeline fits a small host: in a fresh session with a 2 GiB
    driver heap on two cores, link() runs with the pair stage as bins
    (driver_pairs_limit=0) and with the default placement. Every mention
    is in exactly one cluster, and both runs give the same clusters."""
    import json
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _SMALL_HEAP_LINK], cwd=root, capture_output=True,
        text=True, timeout=600, env={**os.environ, "PYTHONPATH": root},
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["max_heap"] <= 2 * 2**30, res["max_heap"]
    mentions = sorted(res["mentions"])
    for rows in res["runs"]:
        assert sorted(m for m, _ in rows) == mentions
    bins_run, default_run = ({tuple(r) for r in rows} for rows in res["runs"])
    assert bins_run == default_run
