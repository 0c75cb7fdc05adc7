"""High-vocabulary evidence leg: the pipeline's quadratic stage runs on
DISTINCT normalized surfaces, and the bench corpus only has ~625 of them
(dimension-scale). This leg scales the dictionary to tens of thousands of
entities so the distinct-surface set reaches vocabulary scale (~4 surfaces
per entity + NIL names), exercising the blocking/pair/CC stages where they
actually cost something — the regime the 100 TB design cares about.

Usage: python tools/profile_highvocab.py [--pages 60000] [--entities 20000]
Output: one JSON line with stage timings + graph/cluster sizes.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CORPUS_DIR", "/tmp/mbs-highvocab-corpus")
    import bench
    from pyspark.sql import functions as F

    from mix_blink_spark.fixtures import distributed_corpus
    from mix_blink_spark.plans.pipeline import LinkConfig, link

    pages_n, ents_n, wide = 60000, 20000, False
    args = sys.argv[1:]
    i = 0
    while i < len(args):
        if args[i] == "--pages":
            pages_n = int(args[i + 1]); i += 2
        elif args[i] == "--entities":
            ents_n = int(args[i + 1]); i += 2
        elif args[i] == "--wide":
            wide = True; i += 1
        else:
            i += 1
    spark = bench._session(8)
    root = os.environ["SPARK_GRAFT_CORPUS_DIR"]
    path = f"{root}-{pages_n}-{ents_n}" + ("-wide" if wide else "")
    if not os.path.exists(os.path.join(path, "corpus", "_SUCCESS")):
        corpus, ents = distributed_corpus(
            spark, pages_n, ents_n, seed=11, boiler_kb=bench.ER_BOILER_KB,
            wide_names=wide,
        )
        corpus.write.mode("overwrite").parquet(os.path.join(path, "corpus"))
        ents.write.mode("overwrite").parquet(os.path.join(path, "entities"))
    bench._warm_page_cache(path)

    corpus = spark.read.parquet(os.path.join(path, "corpus"))
    ents = spark.read.parquet(os.path.join(path, "entities"))
    # round 5: the mmap+arrow python-direct reader is the bench default at
    # every core count — this evidence leg uses the same scan so the
    # vocabulary-regime numbers reflect the plan a user actually gets
    from mix_blink_spark.sources.pages import read_pages_extracted_python

    pages = read_pages_extracted_python(
        spark, os.path.join(path, "corpus"), columns=("url", "lang")
    )
    spans = corpus.select("url", F.explode("mentions").alias("m")).select(
        "url", "m.mention_id", "m.start", "m.end"
    )

    t0 = time.monotonic()
    timings: dict = {}
    out = link(
        spark, pages, spans, ents,
        LinkConfig(broadcast_spans=True, me_max_block_size=200),
        verbose=True, timings=timings,
    )
    clusters = out["clusters"].persist()
    n_members = clusters.count()
    total = time.monotonic() - t0
    n_clusters = clusters.select("cluster_id").distinct().count()
    n_surfaces = (
        out["mentions"].select("norm").filter(F.length("norm") > 0).distinct().count()
    )
    # edges were unpersisted by link(); count via the cheap mm+me plan
    # rebuild would re-run the scoring DAG — read the size from the CC
    # probe instead (verbose log) or skip; report -1 when unavailable
    n_edges = -1
    print(
        json.dumps(
            {
                "pages": pages_n,
                "entities": ents_n,
                "wide_names": wide,
                "total_sec": round(total, 1),
                "distinct_surfaces": n_surfaces,
                "edges": n_edges,
                "members": n_members,
                "clusters": n_clusters,
                "docs_per_sec": round(pages_n / total, 1),
                "stage_secs": timings,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
