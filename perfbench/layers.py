"""The traced run: per-layer metrics measured from outside the library.

Order of a traced run (every step on the workload's own inputs):

1. in the set-up session, started with event logging on: the traced root
   ``link()`` with its stage marks (``timings=``) laid out as child spans;
2. standalone calls into each lower layer's public functions, each in its
   own span and materialized with ``count()`` or ``collect()``;
3. on workloads with ``increments`` set (er_scan): two ``process_increment``
   calls splitting the pages at their median ``warc_ts``;
4. a ``local[1]`` context and one operation, for ``scaling_eff``.

Per-layer metrics are named ``<module>.<metric>``; engine counters come
from the event log of steps 1-3 (``tracing.module_counters``). Every
workload reports the metrics of ``UNITS``. The ``streaming.incremental``
metrics (``INCREMENTAL_UNITS``) are printed, not put in the result line:
on er_vocab each increment's link takes the distributed pair path, and
the two would push its traced run past three minutes. The tracing
overhead is the traced root operation's wall time minus the median
operation wall time of the untraced runs of the same workload in this
checkout (or, when there are none yet, of one untraced operation).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import uuid

import harness
from checks import membership_error
from tracing import (
    COUNTERS, Tracer, event_log_files, module_counters, read_event_log, remove_event_log,
)

EXTRACT_SAMPLE_PAGES = 200

# link() timing marks -> plans.pipeline span names, in execution order
STAGE_MARKS = (
    ("mentions", "mentions"),
    ("surfaces materialize", "surfaces"),
    ("keys+embs materialize", "keys_embs"),
    ("pairs_mm", "pairs_mm"),
    ("pairs_me", "pairs_me"),
    ("edges", "edges_plan"),
    ("edges local", "edges"),
    ("edges materialize", "edges"),
    ("clusters stage", "clusters_plan"),
    ("clusters materialize", "clusters"),
)

ENGINE_MODULES = (
    "sources.pages", "plans.pipeline", "operators.blocking", "operators.scoring", "operators.cc",
)

UNITS = {
    "sources.pages.scan_s": "s",
    "sources.pages.html_mb_per_s": "MB/s",
    "sources.pages.mentions_out": "count",
    "functions.text.extract_mb_per_s": "MB/s",
    "plans.pipeline.surfaces_s": "s",
    "plans.pipeline.keys_embs_s": "s",
    "plans.pipeline.edges_s": "s",
    "plans.pipeline.clusters_s": "s",
    "plans.pipeline.n_surfaces": "count",
    "plans.pipeline.scaling_eff": "ratio",
    "operators.localpairs.local_s": "s",
    "functions.embed.encode_rows_per_s": "1/s",
    "operators.blocking.pairs_s": "s",
    "operators.blocking.mm_candidates": "count",
    "operators.blocking.me_candidates": "count",
    "operators.blocking.max_block_size": "count",
    "operators.scoring.score_s": "s",
    "operators.scoring.pairs_per_s": "1/s",
    "operators.scoring.edge_yield": "ratio",
    "operators.cc.cc_s": "s",
    "operators.cc.iterations": "count",
    "operators.cc.iter_max_s": "s",
    "operators.cc.edges_in": "count",
    "operators.cc.edges_per_s": "1/s",
    "bench.trace_overhead_s": "s",
}
INCREMENTAL_UNITS = {
    "streaming.incremental.increment_s": "s",
    "streaming.incremental.link_s": "s",
    "streaming.incremental.merge_s": "s",
    "streaming.incremental.commit_s": "s",
    "streaming.incremental.bytes_written_mb": "MB",
    "streaming.incremental.state_mb": "MB",
}
COUNTER_UNITS = {
    "jobs": "count", "tasks": "count", "shuffle_mb": "MB", "spill_mb": "MB",
    "gc_s": "s", "task_skew": "ratio", "cpu_busy": "ratio", "task_retries": "count",
}
for _c in COUNTERS:
    for _mod in ENGINE_MODULES:
        UNITS[f"{_mod}.{_c}"] = COUNTER_UNITS[_c]
    INCREMENTAL_UNITS[f"streaming.incremental.{_c}"] = COUNTER_UNITS[_c]


def _dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


def _stage_spans(tracer: Tracer, root, timings: dict) -> None:
    """Lay link()'s sequential timing marks out as child spans of the root."""
    t = root.start
    for mark, name in STAGE_MARKS:
        if mark in timings:
            tracer.add(f"plans.pipeline.{name}", t, t + timings[mark], parent=root.id)
            t += timings[mark]


def _pipeline_metrics(timings: dict) -> dict:
    return {
        "plans.pipeline.surfaces_s": timings["surfaces materialize"],
        "plans.pipeline.keys_embs_s": timings["keys+embs materialize"],
        "plans.pipeline.edges_s": timings["pairs_mm"] + timings["pairs_me"] + timings["edges"]
        + timings.get("edges local", 0.0) + timings.get("edges materialize", 0.0),
        "plans.pipeline.clusters_s": timings["clusters stage"] + timings["clusters materialize"],
    }


def _lower_layers(spark, tracer: Tracer, inputs: str, html_bytes: int, cfg) -> tuple[dict, list]:
    import numpy as np
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from mix_blink_spark.functions.embed import encode_matrix
    from mix_blink_spark.functions.text import extract_text_str, normalize_surface
    from mix_blink_spark.operators.blocking import (
        block_sizes_salted, candidate_pairs, cross_family_pairs, keyed_records,
    )
    from mix_blink_spark.operators.cc import connected_components
    from mix_blink_spark.operators.localpairs import local_me_pairs, local_mm_pairs
    from mix_blink_spark.operators.scoring import make_broadcast_dense_udf, score_pairs
    from mix_blink_spark.plans.pipeline import ENT_PREFIX, NORM_PREFIX
    from mix_blink_spark.sources.dictionary import explode_surfaces, with_nil
    from mix_blink_spark.sources.pages import mentions_from_spans, read_pages_extracted_python

    m: dict = {}
    pages_path = os.path.join(inputs, "pages")
    spans = spark.read.parquet(os.path.join(inputs, "spans"))
    ents = spark.read.parquet(os.path.join(inputs, "entities"))

    with tracer.span("sources.pages.scan") as sp:
        pages = read_pages_extracted_python(spark, pages_path, columns=("url", "lang"))
        mentions = mentions_from_spans(pages, spans, cfg.broadcast_spans).persist()
        m["sources.pages.mentions_out"] = mentions.count()
    m["sources.pages.scan_s"] = sp.seconds
    m["sources.pages.html_mb_per_s"] = html_bytes / 2**20 / sp.seconds

    sample = pq.read_table(pages_path, columns=["html"]).column("html").to_pylist()
    sample = [h.decode("utf-8") for h in sample[:EXTRACT_SAMPLE_PAGES]]
    with tracer.span("functions.text.extract") as sp:
        for h in sample:
            extract_text_str(h)
    m["functions.text.extract_mb_per_s"] = sum(map(len, sample)) / 2**20 / sp.seconds

    # the pipeline's dimension tables: distinct mention surfaces, dictionary aliases
    surfaces = (
        mentions.select("norm").filter(F.length("norm") > 0).distinct()
        .withColumn("rid", F.concat(F.lit(NORM_PREFIX), F.md5("norm")))
        .persist()
    )
    aliases = (
        explode_surfaces(with_nil(ents))
        .withColumn("norm", normalize_surface(F.col("surface")))
        .select(F.concat(F.lit(ENT_PREFIX), F.col("id")).alias("rid"), "norm")
        .distinct()
    )
    spdf = surfaces.select("rid", "norm").toPandas()
    apdf = aliases.toPandas()
    mentions.unpersist()
    m["plans.pipeline.n_surfaces"] = len(spdf)
    s_rows = list(zip(spdf["rid"], spdf["norm"]))
    a_rows = list(zip(apdf["rid"], apdf["norm"]))

    with tracer.span("functions.embed.encode") as sp:
        s_mat = encode_matrix(list(spdf["norm"]))
        a_mat = encode_matrix(list(apdf["norm"]))
    m["functions.embed.encode_rows_per_s"] = (len(s_rows) + len(a_rows)) / sp.seconds

    with tracer.span("operators.localpairs.local") as sp:
        local_mm_pairs(
            s_rows, s_mat, cfg.measure, cfg.dense_weight, cfg.max_block_size, cfg.neighborhood
        )
        local_me_pairs(
            s_rows, s_mat, a_rows, a_mat, cfg.measure, cfg.dense_weight, cfg.tau_ent,
            cfg.me_max_block_size, cfg.neighborhood,
        )
    m["operators.localpairs.local_s"] = sp.seconds

    with tracer.span("operators.blocking.pairs") as sp:
        s_keyed = keyed_records(surfaces, "rid").persist()
        e_keyed = keyed_records(aliases, "rid")
        m["operators.blocking.max_block_size"] = (
            block_sizes_salted(s_keyed).agg(F.max("block_n")).first()[0] or 0
        )
        mm = candidate_pairs(s_keyed, cfg.max_block_size, cfg.neighborhood).persist()
        m["operators.blocking.mm_candidates"] = mm.count()
        m["operators.blocking.me_candidates"] = cross_family_pairs(
            s_keyed, e_keyed, max_block_size=cfg.me_max_block_size,
            neighborhood=cfg.neighborhood, dedup=False,
        ).count()
    m["operators.blocking.pairs_s"] = sp.seconds

    with tracer.span("operators.scoring.score") as sp:
        s_ids = {r: i for i, (r, _) in enumerate(s_rows)}
        bc = spark.sparkContext.broadcast((s_ids, s_mat.astype(np.float32)))
        dense = make_broadcast_dense_udf(cfg.measure, bc, bc)
        scored = score_pairs(
            mm.withColumn("dense", dense(F.col("a"), F.col("b"))),
            cfg.measure, cfg.dense_weight, dense_col="dense",
        ).persist()
        n, kept = scored.agg(
            F.count("*"), F.sum((F.col("score") >= cfg.tau_mm).cast("long"))
        ).first()
    m["operators.scoring.score_s"] = sp.seconds
    m["operators.scoring.pairs_per_s"] = n / sp.seconds
    m["operators.scoring.edge_yield"] = (kept or 0) / n if n else 0.0

    edges = (
        scored.filter(F.col("score") >= cfg.tau_mm)
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .persist()
    )
    m["operators.cc.edges_in"] = edges.count()
    stats: dict = {}
    with tracer.span("operators.cc.star_loop") as sp:
        star = connected_components(edges, small_graph_threshold=0, stats=stats)
        star_rows = {tuple(r) for r in star.collect()}
    m["operators.cc.cc_s"] = sp.seconds
    m["operators.cc.edges_per_s"] = m["operators.cc.edges_in"] / sp.seconds
    m["operators.cc.iterations"] = stats.get("iterations", 0)
    m["operators.cc.iter_max_s"] = max(stats.get("iter_secs") or [0.0])
    local = {tuple(r) for r in connected_components(edges).collect()}
    errors = [] if star_rows == local else [
        f"star-loop components differ from union-find ({len(star_rows)} vs {len(local)} rows)"
    ]
    for df in (edges, scored, mm, s_keyed, surfaces):
        df.unpersist()
    bc.unpersist()
    return m, errors


def _incremental(spark, tracer: Tracer, inputs: str, work: str, mention_ids, cfg) -> tuple[dict, list]:
    """Two increments split at the median warc_ts; metrics of the second
    (the merge path)."""
    from pyspark.sql import functions as F

    import mix_blink_spark.streaming.incremental as inc

    class TimedStore(inc.IncrementalStore):
        def commit(self, assignment, nodes, max_ts):
            with tracer.span("streaming.incremental.commit") as sp:
                out = super().commit(assignment, nodes, max_ts)
            self.commit_s = sp.seconds
            return out

    link = inc.link

    def timed_link(*a, **k):
        with tracer.span("streaming.incremental.link"):
            t0 = time.monotonic()
            out = link(*a, **k)
            timed_link.seconds = time.monotonic() - t0
            return out

    state = os.path.join(work, "state", uuid.uuid4().hex)
    store = TimedStore(spark, state, retention=2)
    pages = spark.read.parquet(os.path.join(inputs, "pages")).select("url", "warc_ts", "html", "lang")
    spans = spark.read.parquet(os.path.join(inputs, "spans"))
    ents = spark.read.parquet(os.path.join(inputs, "entities"))
    cut, max_ts = pages.agg(F.percentile_approx("warc_ts", 0.5), F.max("warc_ts")).first()
    m: dict = {}
    errors = []
    inc.link = timed_link
    try:
        for batch in (pages.filter(F.col("warc_ts") <= F.lit(cut)), pages):
            with tracer.span("streaming.incremental.increment") as sp:
                merged = inc.process_increment(
                    spark, batch, spans, ents, store, cfg
                )
                merged.count()
        m["streaming.incremental.increment_s"] = sp.seconds
        m["streaming.incremental.link_s"] = timed_link.seconds
        m["streaming.incremental.commit_s"] = store.commit_s
        m["streaming.incremental.merge_s"] = sp.seconds - timed_link.seconds - store.commit_s
        newest = max((d for d in os.listdir(state) if d.startswith("v")), key=lambda d: int(d[1:]))
        m["streaming.incremental.bytes_written_mb"] = _dir_mb(os.path.join(state, newest))
        m["streaming.incremental.state_mb"] = _dir_mb(state)
        if store.watermark() != str(max_ts):
            errors.append(f"watermark {store.watermark()} != max warc_ts {max_ts}")
        err = membership_error([tuple(r) for r in merged.collect()], mention_ids)
        if err:
            errors.append(f"merged state: {err}")
    finally:
        inc.link = link
        shutil.rmtree(state, ignore_errors=True)
    return m, errors


def _untraced_wall(work: str, w, inputs: str, warm: str, cores: int) -> float:
    """Median operation wall of this workload's untraced runs in this
    checkout; with none on record, one untraced operation in a fresh
    context without event logging."""
    import json

    try:
        with open(os.path.join(work, f"untraced-{w.key}.jsonl")) as f:
            walls = [json.loads(line)["op_s"] for line in f if line.strip()]
    except FileNotFoundError:
        walls = []
    if walls:
        return statistics.median(walls)
    spark = harness.start_session(work, cores)
    harness.link_op(spark, warm, w.link_config())[0]["clusters"].unpersist()
    out, wall = harness.link_op(spark, inputs, w.link_config())
    out["clusters"].unpersist()
    spark.stop()
    return wall


def _local1_wall(work: str, inputs: str, cfg, check) -> float:
    """One operation on a local[1] context (event logging on, like the
    traced local[nproc] operation it is compared with). The JVM is warm
    from the traced run; the context's Python workers start inside the
    operation, as they do inside the traced one."""
    spark = harness.start_session(work, 1, eventlog=True)
    app_id = spark.sparkContext.applicationId
    out, wall = harness.link_op(spark, inputs, cfg)
    check(harness.collect_assignment(out))
    spark.stop()
    remove_event_log(os.path.join(work, "eventlog"), app_id)
    return wall


def traced_run(spark, w, inputs, warm, seed, work, cores, check, record):
    """``spark`` is the set-up session, started with event logging on.
    Returns ({metric: (value, unit)}
    for ``UNITS``, the same for ``INCREMENTAL_UNITS`` or empty).
    ``check(rows)`` checks a link assignment; ``record(error)`` counts any
    other check."""
    from inputs import read_gold, read_meta

    html_bytes = read_meta(inputs)["html_bytes"]
    mention_ids = {m for m, _ in read_gold(inputs)}
    cfg = w.link_config()
    app_id = spark.sparkContext.applicationId

    tracer = Tracer(uuid.uuid4().hex[:12])
    timings: dict = {}
    with tracer.span("plans.pipeline.link") as root:
        out, _ = harness.link_op(spark, inputs, cfg, timings)
    wall_t = root.seconds
    _stage_spans(tracer, root, timings)
    check(harness.collect_assignment(out))

    metrics = _pipeline_metrics(timings)
    lower, errors = _lower_layers(spark, tracer, inputs, html_bytes, cfg)
    metrics.update(lower)
    extra: dict = {}
    if w.increments:
        extra, inc_errors = _incremental(spark, tracer, inputs, work, mention_ids, cfg)
        errors += inc_errors
    for e in errors or [None]:
        record(e)

    spark.stop()  # the JVM stays up for the next context
    log_dir = os.path.join(work, "eventlog")
    events = read_event_log(event_log_files(log_dir, app_id))
    counters = module_counters(events, tracer.spans, cores)
    for mod, cs in counters.items():
        for c, v in cs.items():
            name = f"{mod}.{c}"
            if name in UNITS:
                metrics[name] = v
            elif name in INCREMENTAL_UNITS and w.increments:
                extra[name] = v
    remove_event_log(log_dir, app_id)
    os.makedirs(os.path.join(work, "spans"), exist_ok=True)
    tracer.write(os.path.join(work, "spans", f"{w.name}-s{seed}-{tracer.run_id}.jsonl"))

    wall_1 = _local1_wall(work, inputs, cfg, check)
    wall_u = _untraced_wall(work, w, inputs, warm, cores)
    metrics["plans.pipeline.scaling_eff"] = wall_1 / (cores * wall_t)
    metrics["bench.trace_overhead_s"] = wall_t - wall_u
    print(f"# traced: traced op {wall_t:.3f}s, untraced op {wall_u:.3f}s, "
          f"local[1] op {wall_1:.3f}s", flush=True)
    return (
        {k: (float(metrics[k]), u) for k, u in sorted(UNITS.items())},
        {k: (float(v), INCREMENTAL_UNITS[k]) for k, v in sorted(extra.items())},
    )
