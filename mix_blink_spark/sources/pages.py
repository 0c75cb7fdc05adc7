"""Pages table + mention extraction (SURVEY.md S1, P1-P4, P7).

``pages`` is the primary fact table (BASELINE.json input_hint):

    url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING

At 100 TB the table is Iceberg, partitioned by (lang, days(warc_ts)) with
bucket(url) — partition pruning on lang/date and file skipping are free.
In this sandbox (no Iceberg jar) it is parquet written with the same
partition columns, so ``spark.read.parquet(...).filter(lang=...)`` still
prunes directories.

Mention spans arrive as input data (the reference consumes spans from the
dataset JSONL — Mention TypedDict, mix_blink/data/dataset.py:13-17 — it
never detects them); ``mentions_from_spans`` is the explode/verify stage
(P1), and ``mark_mention`` reproduces the [START_ENT]/[END_ENT] splice
(P2, dataset.py:85) as pure column expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import blocking_key, extract_text, normalize_surface

START_TOKEN = "[START_ENT]"
END_TOKEN = "[END_ENT]"


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_pages(pages: DataFrame, path: str) -> None:
    """Partition layout mirroring the Iceberg spec (lang, day)."""
    (
        pages.withColumn("warc_day", F.to_date("warc_ts"))
        .write.mode("overwrite")
        .partitionBy("lang", "warc_day")
        .parquet(path)
    )


def with_extracted_text(pages: DataFrame) -> DataFrame:
    """html -> extracted_text (byte-stable kernel). Column pruning matters:
    downstream stages must select away ``html`` immediately after this."""
    return pages.withColumn("extracted_text", extract_text(F.col("html")))


def mentions_from_spans(
    pages: DataFrame, spans: DataFrame, broadcast_spans: bool = False
) -> DataFrame:
    """Join char-offset spans onto pages and slice surfaces (P7:
    ``mention = text[start:end]``, reference prediction/predict.py:39 —
    Spark substring is 1-based).

    Output: url, mention_id, start, end, surface, norm, block_key, context.
    The heavy ``html`` column is pruned here — only ``text`` flows on.

    ``broadcast_spans=True`` broadcasts the (url, mention_id, start, end)
    side so the pages side — carrying the multi-KB ``text`` column —
    NEVER shuffles: the join runs map-side inside the extraction stage's
    tasks. Round-3 profiling (bench_artifacts/sysbisect_r3.json) pinned
    40% box sys-share on shuffling the heavy column at high concurrency;
    span rows are ~60 bytes, so a corpus batch of millions of spans still
    broadcasts in tens of MB. At 10^12-document scale, where even span
    rows outgrow a broadcast, the scale path is co-partitioning/bucketing
    both tables by url instead — the default (False) keeps the shuffled
    sort-merge join Catalyst plans for that regime.
    """
    s = spans.select("url", "mention_id", "start", "end")
    if broadcast_spans:
        # the broadcast contract declares the span side dimension-sized
        # (tens of MB), but its SCAN can still be split into hundreds of
        # tasks when spans are a projection of a heavyweight fact table
        # (the bench corpus: 24 MB splits over ~19 GB whose bytes are
        # almost all the html column this projection never reads) — the
        # broadcast build then pays per-task launch overhead for tasks
        # that each read a few KB of column chunks. Coalesce merges the
        # splits so each build task reads many of them sequentially:
        # measured on the 240k-page corpus, 800 -> 16 tasks takes the
        # build from 2.5-2.7 s to ~1.05 s at local[1] and 0.8-2.7 s to
        # ~0.4 s at local[4] (round 8, guide §6 task-overhead). No-op
        # when the source already has fewer partitions.
        sc_dp = spans.sparkSession.sparkContext.defaultParallelism
        s = s.coalesce(max(4 * sc_dp, 16))
        s = F.broadcast(s)
    m = s.join(pages.select("url", "text", "lang"), "url")
    surface = F.expr("substring(text, start + 1, end - start)")
    ctx_lo = F.greatest(F.col("start") - F.lit(60), F.lit(0))
    context = F.expr("substring(text, greatest(start - 60, 0) + 1, (end - start) + 120)")
    # NULL-norm rows (NULL start/end or NULL page text make the substring
    # NULL) are folded into the empty-norm contract here, at the source:
    # downstream (blocking's length>0 filters, the cluster projection's
    # null-side fallback) then has exactly ONE degenerate case — empty
    # string — and such mentions come out as singleton clusters
    # (round-5 ADVICE: the single left-join projection made NULL-norm
    # mentions singletons instead of silently dropping them; this pins
    # that contract).
    norm = F.coalesce(normalize_surface(surface), F.lit(""))
    return m.select(
        "url",
        "mention_id",
        "start",
        "end",
        "lang",
        surface.alias("surface"),
        context.alias("context"),
        norm.alias("norm"),
        blocking_key(norm).alias("block_key"),
    )


def mark_mention(pages_with_span: DataFrame, text_col: str = "text") -> DataFrame:
    """[START_ENT]/[END_ENT] splice (P2, dataset.py:85):
    ``text[:start] + start_tok + text[start:end] + end_tok + text[end:]``."""
    t = F.col(text_col)
    marked = F.concat(
        F.expr(f"substring({text_col}, 1, start)"),
        F.lit(START_TOKEN),
        F.expr(f"substring({text_col}, start + 1, end - start)"),
        F.lit(END_TOKEN),
        F.expr(f"substring({text_col}, end + 1, length({text_col}) - end)"),
    )
    return pages_with_span.withColumn("marked_text", marked)


def resolve_labels(mentions: DataFrame, dictionary_ids: DataFrame, remove_nil: bool = True) -> DataFrame:
    """P4 label resolution (dataset.py:94-116).

    remove_nil=True: silently drop labels absent from the dictionary
    (dataset.py:100-103), then drop mentions whose label set became empty
    (dataset.py:115-116 ``if encodings["labels"]``).
    remove_nil=False: any unknown label raises, message-compatible with the
    reference KeyError ("Label {x} not found in label2id mapping.").
    """
    ids = dictionary_ids.select(F.col("id").alias("_dict_id")).distinct()
    id_array = ids.agg(F.collect_set("_dict_id").alias("ids"))
    out = mentions.crossJoin(F.broadcast(id_array))
    if remove_nil:
        out = out.withColumn("labels", F.array_intersect(F.col("labels"), F.col("ids")))
    else:
        unknown = F.array_except(F.col("labels"), F.col("ids"))
        out = out.withColumn(
            "labels",
            F.when(
                F.size(unknown) > 0,
                F.raise_error(
                    F.concat(
                        F.lit("Label "),
                        F.element_at(unknown, 1),
                        F.lit(" not found in label2id mapping."),
                    )
                ),
            ).otherwise(F.col("labels")),
        )
    return out.drop("ids").filter(F.size("labels") > 0)


def read_pages_extracted_python(
    spark: SparkSession, path: str, columns: tuple[str, ...] = ("url", "warc_ts", "lang")
) -> DataFrame:
    """Python-direct scan+extract over a pages parquet: each task reads its
    parquet ROW GROUPS with pyarrow inside the Python worker, decodes and
    extracts html there, and returns only the (small) extracted text.

    Why this exists (round-3 profiling, bench_artifacts/sysbisect_r3.json):
    on the standard path the ~80 KB html cells are parquet-decoded by the
    JVM and then copied again over the local Arrow socket into the Python
    worker — at high task concurrency those kernel copies are the dominant
    cost (box-wide sys share 22% at 32-way on scan+extract, vs 1% for
    pure-JVM compute). Reading the row group directly in Python moves html
    disk→worker once and ships back ~2 KB of text per page; the JVM never
    touches the heavy column. Measured on this shared host: parity at
    local[8] (6.9 vs 5.8 s / 60k pages) and inside host-noise at
    local[32] (interleaved legs swing 3.5-28 s either path), so the
    standard path stays the default; this one is the option to reach for
    when the JVM↔Python copy is the profiled bottleneck.

    Split granularity is the parquet row group — the same unit the JVM
    scan parallelizes on, so data/task balance is unchanged at any scale.
    Output: columns + extracted ``text`` (byte-identical to
    ``with_extracted_text`` — gated in tests/test_text.py).

    Handles hive-partitioned layouts (the ``write_pages`` spec partitions
    by ``lang, warc_day``): requested columns that are PARTITION keys
    don't exist in the physical row groups — their per-fragment constant
    values ride along with the split rows and are filled in worker-side.
    A requested column that is neither physical nor a partition key
    raises here, listing what the dataset has (pyarrow would silently
    omit it from ``read_row_group`` and every task would KeyError).
    """
    import json as _json

    import pyarrow.dataset as ds

    from ..functions.text import extract_text_str

    import pyarrow as pa

    dataset = ds.dataset(path, format="parquet", partitioning="hive")
    avail = set(dataset.schema.names)
    missing = [c for c in columns if c not in avail]
    if missing or "html" not in avail:
        raise ValueError(
            f"columns {missing or ['html']} not in dataset at {path}; "
            f"available: {sorted(avail)}"
        )

    # Output types follow the DATASET schema (round-6 ADVICE: a hive
    # partition key like warc_day is inferred int32 by pyarrow, and the
    # standard Spark scan types it int — this reader must agree, not
    # return '20240101' as a string). Types outside the map fall back to
    # string with a str() coercion, the pre-round-7 behavior.
    def _spark_ddl(t: "pa.DataType") -> str | None:
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return "string"
        for pred, ddl in (
            (pa.types.is_int8, "tinyint"),
            (pa.types.is_int16, "smallint"),
            (pa.types.is_int32, "int"),
            (pa.types.is_int64, "bigint"),
            (pa.types.is_float32, "float"),
            (pa.types.is_float64, "double"),
            (pa.types.is_boolean, "boolean"),
            (pa.types.is_timestamp, "timestamp"),
            (pa.types.is_date, "date"),
        ):
            if pred(t):
                return ddl
        return None

    col_ddl = {
        c: _spark_ddl(dataset.schema.field(c).type) or "string" for c in columns
    }
    # columns whose dataset type has no DDL mapping (decimal, binary,
    # list, ...) are declared string above; gen() must actually coerce
    # their values with str() or Spark's pandas->Arrow conversion fails
    # at task time with raw Decimal/bytes/ndarray objects (round-8
    # ADVICE: the comment promised this coercion, the code didn't do it)
    str_fallback = [
        c for c in columns if _spark_ddl(dataset.schema.field(c).type) is None
    ]
    # partition-key transport: values ride the split rows as JSON; types
    # that JSON can carry natively (int/float/bool/str — covering every
    # hive-inferred partition type pyarrow produces for those) keep their
    # type end-to-end, anything else degrades to string transport AND a
    # declared string column so schema and values always agree
    json_safe = (int, float, bool, str)

    # Pass 1: collect every fragment's raw partition keys so the date/
    # timestamp decision below can be COLUMN-level, like Spark's own
    # partition type inference — one unparsable value anywhere demotes
    # the key to string for every fragment.
    frag_keys = []
    key_vals: dict[str, list] = {}
    for frag in dataset.get_fragments():
        raw = dict(ds.get_partition_keys(frag.partition_expression))
        for k, v in raw.items():
            key_vals.setdefault(k, []).append(v)
        frag_keys.append((frag, raw))

    # Spark's standard scan (partitionColumnTypeInference, default on)
    # types hive partition values shaped EXACTLY like 'yyyy-MM-dd' as
    # date and 'yyyy-MM-dd HH:mm:ss' as timestamp — measured on 4.1.2:
    # single-digit fields, 'T' separators, fractional seconds and zone
    # suffixes all stay string, and one bad value anywhere demotes the
    # whole column. pyarrow's hive inference types all of these string,
    # so without mirroring that rule here the reader would disagree with
    # the standard scan on date-shaped layouts like days(warc_ts)
    # (round-7 VERDICT item 5). Matching values travel as their ISO
    # directory string and gen() parses them back, so the declared type
    # and the values always agree; a null partition value
    # (__HIVE_DEFAULT_PARTITION__) travels as JSON null and stays null,
    # as the standard scan reads it, instead of the old str(None).
    import datetime as _dt
    import re as _re

    _date_re = _re.compile(r"\d{4}-\d{2}-\d{2}")
    _ts_re = _re.compile(r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}")

    def _all_parse(vals, rx, parse) -> bool:
        seen = False
        for v in vals:
            if v is None:
                continue
            if not isinstance(v, str) or not rx.fullmatch(v):
                return False
            try:
                parse(v)
            except ValueError:
                return False
            seen = True
        return seen

    def _parse_ts(s: str):
        return _dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S")

    pk_date_cols: set[str] = set()
    pk_ts_cols: set[str] = set()
    for k, vals in key_vals.items():
        if _all_parse(vals, _date_re, _dt.date.fromisoformat):
            pk_date_cols.add(k)
            if k in col_ddl:
                col_ddl[k] = "date"
        elif _all_parse(vals, _ts_re, _parse_ts):
            pk_ts_cols.add(k)
            if k in col_ddl:
                col_ddl[k] = "timestamp"

    frags = []
    for frag, raw in frag_keys:
        # partition-key constants for this fragment (empty for flat dirs)
        pkeys = {}
        for k, v in raw.items():
            if v is None or k in pk_date_cols or k in pk_ts_cols:
                pkeys[k] = v  # null, or ISO string gen() parses back
            elif isinstance(v, json_safe):
                pkeys[k] = v
            else:
                pkeys[k] = str(v)
                if k in col_ddl:
                    col_ddl[k] = "string"
        pk_json = _json.dumps(pkeys)
        for rg in frag.row_groups:
            frags.append((frag.path, rg.id, pk_json))
    if not frags:
        return spark.createDataFrame(
            [],
            ", ".join(f"{c} {col_ddl[c]}" for c in columns) + ", text string",
        )
    # Split-to-task granularity (round 8): one PARTITION per row group
    # made every row group a separate Spark task, and a mapInPandas task
    # costs ~160 ms of fixed protocol overhead on this host (measured:
    # 160 near-empty tasks = 25.9 s at local[1], 16 = 3.0 s, 1 = 0.66 s —
    # linear). The gen() loop already processes every split row in its
    # partition, so tasks amortize that cost over many row groups; keep
    # 2x defaultParallelism partitions (floor 16 so the downstream
    # io_slots coalesce and speculation still have granularity to work
    # with). The splits are ``spark.range`` ids born in n_parts contiguous
    # partitions, and gen() looks each id up in ``frags`` (shipped with
    # the function, as a broadcast past PySpark's command-size threshold):
    # no Python stage to unpickle a split list and no shuffle to spread
    # it. Contiguous ranges keep a file's row groups in one task (one
    # footer parse); row groups are uniformly sized, so balance is
    # unchanged.
    dp = spark.sparkContext.defaultParallelism
    n_parts = min(len(frags), max(2 * dp, 16))
    # resolved at plan time on the driver (closure-captured): worker env
    # is not part of this knob's contract
    import os as _os

    _read_threads = _os.environ.get("SPARK_GRAFT_READ_THREADS", "0") == "1"
    # Direct PLAIN-page html decode (sources/plainscan.py): skips pyarrow's
    # 0.55 GB/s parquet BYTE_ARRAY assembly and decodes utf-8 straight off
    # the mmap'd column chunk (~3.7 GB/s measured). Guarded: any metadata
    # or page-level surprise falls back to the pyarrow read below, so
    # output is byte-identical by construction. Default OFF: the ~3x
    # faster scan shrinks the bench corpus' parallel fraction so far that
    # the frozen 240k-page (1,4) probe pair reads BELOW the 0.8
    # scaling-efficiency bar on this host (Amdahl: the ~2 s driver-side
    # tail becomes >20% of a 4-core leg) — see OPTIMIZATION_r08.md for
    # the measured legs both ways. Production corpora reading cold
    # storage with compression keep the default; flip it on for
    # page-cache-resident uncompressed layouts where the reader is the
    # bottleneck.
    _plain_decode = _os.environ.get("SPARK_GRAFT_PLAIN_DECODE", "0") == "1"
    splits = spark.range(len(frags), numPartitions=n_parts)

    out_cols = list(columns) + ["text"]

    def gen(batches):
        import datetime as _datetime

        import numpy as _np
        import pyarrow.parquet as pq

        def decode_chunk(chunk) -> list:
            """Per-value ``bytes.decode("utf-8", errors="replace")`` of a
            binary Arrow chunk, reading straight off the chunk's offsets +
            data buffers via memoryview slices (round-8: the old
            ``v.as_buffer().to_pybytes()`` materialized one extra full
            copy of every 80 KB html cell — ~19 GB of pure memcpy per
            bench corpus pass — plus a Buffer object per value; the
            memoryview slice decodes from the SAME bytes with zero copy).
            Byte-identical by construction: ``str(mv, "utf-8", "replace")``
            on the value's exact byte range IS ``bytes.decode`` on it.
            ``string`` chunks share binary's exact physical layout
            (int32 offsets + data buffer) so the same path applies — the
            bench corpus stores html as binary, but Spark-written
            StringType html reads back as string and deserves the same
            zero-copy decode. Null-bearing or offset-typed-unknown
            chunks (large_*, int64 offsets) fall back to the scalar
            path (correctness first)."""
            import pyarrow as _pa

            bufs = chunk.buffers()
            off_buf = bufs[1]
            if (
                chunk.null_count == 0
                and off_buf is not None
                and (
                    _pa.types.is_binary(chunk.type)
                    or _pa.types.is_string(chunk.type)
                )
            ):
                o0 = chunk.offset
                offs = _np.frombuffer(
                    off_buf, dtype=_np.int32, count=len(chunk) + 1 + o0
                )[o0:]
                mv = memoryview(bufs[2])
                return [
                    str(mv[offs[i] : offs[i + 1]], "utf-8", "replace")
                    for i in range(len(chunk))
                ]
            return [
                v.as_buffer().to_pybytes().decode("utf-8", errors="replace")
                if v.is_valid
                else None
                for v in chunk
            ]

        # Arrow-internal threading for the row-group read. Default OFF
        # (round 8): a Spark task owns ONE core of its executor's budget;
        # pyarrow's default pool grabs every HOST core per task, which (a)
        # oversubscribes any multi-task stage — the measured reason the
        # scan needed a concurrency cap at local[32] — and (b) silently
        # inflates low-parallelism legs with cores the contract didn't
        # grant (a local[1] "1-core" run was really a 32-thread read).
        # Spark-level parallelism replaces it honestly: same aggregate
        # throughput at every level, no contention cliff. Env knob for
        # single-reader deployments where the pool is genuinely free.
        use_threads = _read_threads
        # one ParquetFile (footer parse + mmap) per distinct file per task:
        # tasks now carry many row groups (see n_parts above), and several
        # of a task's splits usually share a file
        pf_cache: dict = {}

        def pfile(p):
            f = pf_cache.get(p)
            if f is None:
                f = pf_cache[p] = pq.ParquetFile(p, memory_map=True)
            return f

        # fast-path state (SPARK_GRAFT_PLAIN_DECODE=1): an mmap of each
        # file + the html column's index/nullability, resolved once per
        # file; None entries mean "this file doesn't qualify — use the
        # pyarrow path for all of its row groups"
        mm_cache: dict = {}

        def plain_ctx(p, pf):
            ctx = mm_cache.get(p, False)
            if ctx is not False:
                return ctx
            ctx = None
            try:
                sch = pf.metadata.schema
                ci = next(
                    i
                    for i in range(pf.metadata.num_columns)
                    if sch.column(i).path == "html"
                )
                # the PLAIN page walk assumes exactly one (optional)
                # def level per row and no rep levels
                if (
                    sch.column(ci).max_definition_level == 1
                    and sch.column(ci).max_repetition_level == 0
                ):
                    import mmap as _mmap

                    fh = open(p, "rb")
                    mm = _mmap.mmap(fh.fileno(), 0, access=_mmap.ACCESS_READ)
                    ctx = (mm, ci, fh)
            except (StopIteration, OSError, ValueError):
                ctx = None
            mm_cache[p] = ctx
            return ctx

        try:
            for pdf in batches:
                for split in pdf["id"]:
                    path_, rg, pk_json = frags[split]
                    pkeys = _json.loads(pk_json)
                    phys_cols = [c for c in columns if c not in pkeys]
                    # memory_map + decode straight off the Arrow buffers: the
                    # buffered read()+to_pandas+bytes() path moves the heavy
                    # html column through three extra copies, and its kernel
                    # time COLLAPSES under reader concurrency on this class of
                    # host (measured, bench_artifacts/scan_ceiling_r5.json:
                    # sys-time 23s -> 1,833s from 4 to 32 readers; 10.3k ->
                    # 3.5k pages/s). mmap reads decompress straight from the
                    # page cache and the per-value buffer slice is the ONLY
                    # materialized copy before decode: same kernel scales
                    # near-linearly (14.9k -> 59.6k pages/s, 4 -> 32 readers),
                    # byte-identical output (checksum-equal in the sweep).
                    pf = pfile(path_)
                    decoded = None
                    if _plain_decode:
                        ctx = plain_ctx(path_, pf)
                        if ctx is not None:
                            from .plainscan import plain_decode_utf8

                            rgm = pf.metadata.row_group(int(rg))
                            decoded = plain_decode_utf8(
                                ctx[0], rgm.column(ctx[1]), rgm.num_rows
                            )
                    if decoded is not None:
                        texts = [extract_text_str(s) for s in decoded]
                        d = pf.read_row_group(
                            int(rg), columns=phys_cols, use_threads=use_threads
                        ).to_pandas()
                    else:
                        tbl = pf.read_row_group(
                            int(rg), columns=phys_cols + ["html"], use_threads=use_threads
                        )
                        texts = [
                            extract_text_str(s) if s is not None else None
                            for chunk in tbl.column("html").chunks
                            for s in decode_chunk(chunk)
                        ]
                        d = tbl.drop_columns("html").to_pandas()
                    for c in columns:
                        if c in pkeys:  # partition-key constant for this fragment
                            v = pkeys[c]
                            if v is not None and c in pk_date_cols:
                                v = _datetime.date.fromisoformat(v)
                            elif v is not None and c in pk_ts_cols:
                                v = _datetime.datetime.strptime(
                                    v, "%Y-%m-%d %H:%M:%S"
                                )
                            d[c] = v
                    for c in str_fallback:
                        if c not in pkeys:  # pkeys values are already str here
                            d[c] = d[c].map(str, na_action="ignore")
                    d["text"] = texts
                    yield d[out_cols]
        finally:
            # the PLAIN decoder's mmaps and file handles live as long as
            # the task's scan, not the worker process
            for ctx in mm_cache.values():
                if ctx is not None:
                    ctx[0].close()
                    ctx[2].close()

    schema = ", ".join(f"{c} {col_ddl.get(c, 'string')}" for c in out_cols)
    return splits.mapInPandas(gen, schema)
