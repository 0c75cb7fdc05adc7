"""Interleaved A/B: fingerprint's unordered max(pos) window vs a
pre-explode size() column (the _maxpos window is a second WindowExec pass
over every token row; size(tokens) is known before the explode).

Usage: python tools/ab_fingerprint.py [n_docs_multiplier] [reps]
           [--docs DOCS_PARQUET] [--scratch DIR]

``--docs`` defaults to ``documents.parquet`` under ``$SPARK_GRAFT_SF_DIR``
(the TPC-H-style test-data directory bench.py reads); ``--scratch`` is
where the replicated input is written (overwritten), /tmp/ab-fp-docs by
default.
"""
from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window as W

from mix_blink_spark.session import get_spark


def fingerprint_nowin(docs: DataFrame, id_col="doc_id", text_col="text", w=5) -> DataFrame:
    # filter equivalence: `_maxpos < w-1` (doc shorter than w tokens) holds
    # exactly when lead(tok, w-1) is NULL at pos 0 — lead() is NULL only
    # past the partition end (split() never yields NULL tokens), so
    #   _last.isNotNull() | (pos==0 & _maxpos<w-1)
    #   == _last.isNotNull() | (pos==0 & _last.isNull())
    #   == _last.isNotNull() | pos==0
    # and the unordered max(pos) window disappears entirely.
    toks = docs.select(
        F.col(id_col).cast("string").alias("id"),
        F.posexplode(F.split(F.lower(F.col(text_col)), " ")).alias("pos", "tok"),
    )
    win = W.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(win) for i in range(1, w)]
    shingled = toks.select(
        "id",
        "pos",
        F.concat_ws(" ", *parts).alias("sh"),
        F.lead("tok", w - 1).over(win).alias("_last"),
    ).filter(F.col("_last").isNotNull() | (F.col("pos") == 0))
    return shingled.groupBy("id").agg(F.min(F.md5("sh")).alias("fingerprint"))


def _args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("mult", type=int, nargs="?", default=10, help="n_docs multiplier")
    p.add_argument("reps", type=int, nargs="?", default=4)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    p.add_argument(
        "--docs", default=sf_dir and os.path.join(sf_dir, "documents.parquet"),
        required=sf_dir is None, help="input documents parquet",
    )
    p.add_argument("--scratch", default="/tmp/ab-fp-docs", help="replicated input dir")
    return p.parse_args(argv)


def main():
    args = _args()
    mult, reps = args.mult, args.reps
    from mix_blink_spark.functions.textstats import fingerprint

    spark = get_spark(app_name="ab-fingerprint", master="local[32]", shuffle_partitions=64)
    base = spark.read.parquet(args.docs)
    # scale by replication with distinct ids (measurement input only)
    big = (
        base.crossJoin(spark.range(mult).select(F.col("id").alias("_rep")))
        .select((F.col("doc_id") + F.col("_rep") * 1_000_000).alias("doc_id"), "text")
    )
    big.write.mode("overwrite").parquet(args.scratch)
    docs = spark.read.parquet(args.scratch)
    n = docs.count()
    print(f"docs: {n}")

    # correctness first: identical rows on the real input table
    a = fingerprint(base, w=5).orderBy("id").collect()
    b = fingerprint_nowin(base, w=5).orderBy("id").collect()
    assert a == b, "variant results differ!"
    print(f"parity: identical on the input ({base.count()} docs)")

    ts = {"old": [], "new": []}
    for r in range(reps):
        for name, fn in (("old", fingerprint), ("new", fingerprint_nowin)):
            spark.sparkContext.setJobDescription(f"ab-fp:{name}:{r}")
            t0 = time.monotonic()
            fn(docs, w=5).count()
            ts[name].append(round(time.monotonic() - t0, 3))
    print({k: (statistics.median(v), v) for k, v in ts.items()})


if __name__ == "__main__":
    main()
