"""S8 analog: entity-index persist/load round trip (plans/index_store.py).

Reference contract: retriever/dense.py:124-151 — ``build_index`` writes the
embedding matrix + config, ``deserialize_from`` restores and validates; the
Spark analog is a versioned parquet snapshot with a manifest committed last.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pytest

from mix_blink_spark.plans.index_store import EntityIndexStore
from mix_blink_spark.plans.predict import entity_index, evaluate


@pytest.fixture()
def store_dir(tmp_path):
    return str(tmp_path / "entity-index")


def test_round_trip_identical(spark, corpus, store_dir):
    ents = corpus["entities"]
    mat1, ids1 = entity_index(ents, store_path=store_dir)  # builds + commits v1
    assert EntityIndexStore(spark, store_dir).version() == 1

    mat2, ids2 = entity_index(ents, store_path=store_dir)  # loads v1
    assert ids2 == ids1
    np.testing.assert_allclose(mat2, mat1.astype(np.float32), rtol=0, atol=0)

    cfg = EntityIndexStore(spark, store_dir).config()
    assert cfg["n_rows"] == len(ids1)
    assert cfg["dim"] == mat1.shape[1]
    assert cfg["encoder"] == "trigram"


def test_loaded_index_drives_predict_identically(spark, corpus, store_dir):
    ents, pages, golds = corpus["entities"], corpus["pages"], corpus["mentions_gold"]
    spans = golds.select("url", "mention_id", "start", "end")

    fresh = evaluate(spark, pages, spans, ents, golds).collect()[0].asDict()
    entity_index(ents, store_path=store_dir)  # persist
    stored = evaluate(
        spark, pages, spans, ents, golds, index_store=store_dir
    ).collect()[0].asDict()
    assert stored == fresh


def test_crash_mid_write_is_invisible(spark, corpus, store_dir):
    ents = corpus["entities"]
    entity_index(ents, store_path=store_dir)
    store = EntityIndexStore(spark, store_dir)
    assert store.version() == 1

    # simulate a crash: v2 data dir written, manifest NOT advanced
    v2 = os.path.join(store_dir, "v2")
    shutil.copytree(os.path.join(store_dir, "v1"), v2)
    with open(os.path.join(v2, "config.json"), "w") as f:
        json.dump({"encoder": "garbage", "dim": 1, "n_rows": 0}, f)

    mat, ids = store.load_matrix()  # still resolves v1 through the manifest
    assert store.config()["encoder"] == "trigram"
    assert len(ids) == store.config()["n_rows"]


def test_corrupt_config_detected(spark, corpus, store_dir):
    entity_index(corpus["entities"], store_path=store_dir)
    store = EntityIndexStore(spark, store_dir)
    cfg_path = os.path.join(store_dir, "v1", "config.json")
    cfg = json.load(open(cfg_path))
    cfg["n_rows"] += 5
    json.dump(cfg, open(cfg_path, "w"))
    with pytest.raises(ValueError, match="n_rows"):
        store.load_matrix()


def test_versions_advance(spark, corpus, store_dir):
    ents = corpus["entities"]
    mat, ids = entity_index(ents)  # plain build, no store
    store = EntityIndexStore(spark, store_dir)
    df = spark.createDataFrame(
        [(i, ids[i], [float(x) for x in mat[i]]) for i in range(len(ids))],
        "ord int, id string, emb array<float>",
    )
    assert store.commit(df, {"encoder": "trigram", "dim": mat.shape[1], "n_rows": len(ids)}) == 1
    assert store.commit(df, {"encoder": "trigram", "dim": mat.shape[1], "n_rows": len(ids)}) == 2
    assert store.version() == 2


def test_link_alias_store_reuse(spark, corpus, tmp_path):
    """S8 x pipeline: with LinkConfig.alias_store, the first link() run
    commits the encoded alias index (v1) and later runs LOAD it instead
    of re-encoding — proven by (a) the version not advancing across runs
    with identical output, and (b) a run against a store committed with a
    DIFFERENT dictionary visibly following the store, not the entities
    argument."""
    from pyspark.sql import functions as F

    from mix_blink_spark.plans.pipeline import LinkConfig, link

    ents, pages, golds = corpus["entities"], corpus["pages"], corpus["mentions_gold"]
    spans = golds.select("url", "mention_id", "start", "end")
    store_dir = str(tmp_path / "alias-index")

    out1 = link(spark, pages, spans, ents, LinkConfig(alias_store=store_dir))
    me1 = {(r["a"], r["b"]) for r in out1["pairs_me"].collect()}
    store = EntityIndexStore(spark, store_dir)
    assert store.version() == 1
    assert "norm" in store.index_df().columns

    out2 = link(spark, pages, spans, ents, LinkConfig(alias_store=store_dir))
    me2 = {(r["a"], r["b"]) for r in out2["pairs_me"].collect()}
    assert store.version() == 1  # loaded, not re-committed
    assert me1 == me2

    # a store committed from an EMPTY dictionary must yield zero anchors
    # even though the entities argument still carries the full dictionary
    empty_dir = str(tmp_path / "alias-empty")
    empty = EntityIndexStore(spark, empty_dir)
    empty.commit(
        spark.createDataFrame([], "ord int, id string, norm string, emb array<float>"),
        {"encoder": "link-alias", "dim": 0, "n_rows": 0},
    )
    out3 = link(spark, pages, spans, ents, LinkConfig(alias_store=empty_dir))
    assert out3["pairs_me"].count() == 0
    assert len(me1) > 0


def test_alias_store_wins_in_every_scale_regime(spark, corpus, tmp_path):
    """Round-4 ADVICE (medium): a committed store whose dictionary
    DIVERGES from the `entities` argument must behave identically —
    store wins — in the driver-local path, the distributed
    broadcast-dense path, and the distributed join path. Before the fix,
    the bc-dense path blocked on `entities` while its dense lookup came
    from the store: an alias present in entities but absent from the
    store crashed the id-map (NaN -> int64 cast), and store-only aliases
    were silently never blocked."""
    from pyspark.sql import functions as F

    from mix_blink_spark.plans.pipeline import LinkConfig, link

    ents, pages, golds = corpus["entities"], corpus["pages"], corpus["mentions_gold"]
    spans = golds.select("url", "mention_id", "start", "end")

    # commit a store holding only HALF the dictionary (ids divergent from
    # the entities argument: half missing, none extra -> the pre-fix
    # bc-dense path would hit unmapped aliases from `entities`)
    half_ids = [r["id"] for r in ents.select("id").distinct().collect()]
    half_ids = set(sorted(half_ids)[: len(half_ids) // 2])
    half_dir = str(tmp_path / "alias-half")
    link(
        spark,
        pages,
        spans,
        ents.filter(F.col("id").isin(list(half_ids))),
        LinkConfig(alias_store=half_dir),
    )
    assert EntityIndexStore(spark, half_dir).version() == 1

    def anchors(**kw):
        out = link(
            spark, pages, spans, ents, LinkConfig(alias_store=half_dir, **kw)
        )
        return {(r["a"], r["b"]) for r in out["pairs_me"].collect()}

    local = anchors()                                        # in-process
    bins = anchors(driver_pairs_limit=0)                     # driver-planned bins
    keyed = anchors(driver_pairs_limit=0, broadcast_dense_limit=0)  # keyed exchange
    assert local == bins == keyed
    # store wins: every anchor targets a store entity, none a dropped one
    assert local, "half dictionary should still anchor some surfaces"
    for _a, b in local:
        assert b.removeprefix("ENT::") in half_ids
