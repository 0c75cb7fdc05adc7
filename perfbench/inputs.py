"""Workload inputs, generated once per (workload, seed) and cached.

Each input set is a directory of parquet datasets:

    pages/     url, warc_ts, html, text, lang   (what the library scans)
    spans/     url, mention_id, start, end      (what the library links)
    entities/  id, name, description, aliases   (the dictionary)
    gold/      mention_id, labels               (checker only)

plus ``meta.json``. The rows are those ``fixtures.distributed_corpus``
produces for the same arguments (same dictionary, same per-page generator
``fixtures._gen_page``), generated in worker processes without Spark: a
generator JVM would add its start-up to every new seed and leave its heap
in the measured JVM. Generation happens before set-up and outside every
timed region; a finished set is renamed into place, so an interrupted
generation is never read.
"""

from __future__ import annotations

import gc
import json
import multiprocessing
import os
import random
import shutil
import time
from dataclasses import dataclass, replace

# input sets kept per workload; older ones are deleted
CACHE_KEEP = 12
GEN_PROCESSES = 4

# LinkConfig fields of every workload (those of the legacy bench.py)
LINK_CONFIG = dict(broadcast_spans=True, me_max_block_size=200)


@dataclass(frozen=True)
class Workload:
    name: str
    n_pages: int
    n_entities: int
    boiler_kb: int
    wide_names: bool
    # the traced run also measures streaming.incremental on these inputs
    increments: bool
    # LinkConfig fields on top of LINK_CONFIG
    link_options: tuple[tuple[str, object], ...] = ()

    def link_config(self):
        from mix_blink_spark.plans.pipeline import LinkConfig

        return LinkConfig(**LINK_CONFIG, **dict(self.link_options))

    @property
    def key(self) -> str:
        """Name of the workload's cached input set for one seed, minus the seed."""
        wide = "w" if self.wide_names else ""
        return f"{self.name}-p{self.n_pages}-e{self.n_entities}{wide}-b{self.boiler_kb}"


WORKLOADS = {
    w.name: w
    for w in (
        # heavy pages, 300-entity dictionary: scan and extraction lead,
        # blocking and scoring take the driver-local path
        Workload("er_scan", 12000, 300, boiler_kb=32, wide_names=False, increments=True),
        # light pages, wide dictionary: distributed blocking and scoring
        # lead. A dictionary this small would take the driver-local pair
        # path (n_surfaces + aliases <= driver_pairs_limit); 0 keeps it on
        # the distributed path a large dictionary takes by default.
        Workload("er_vocab", 600, 800, boiler_kb=2, wide_names=True, increments=False,
                 link_options=(("driver_pairs_limit", 0),)),
    )
}

# the set-up link's corpus: the workload's page shape and LinkConfig, small
WARMUP_PAGES = 200
WARMUP_ENTITIES = 50


def _schemas():
    import pyarrow as pa

    return {
        "pages": pa.schema([
            ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
        ]),
        "spans": pa.schema([
            ("url", pa.string()), ("mention_id", pa.string()),
            ("start", pa.int32()), ("end", pa.int32()),
        ]),
        "gold": pa.schema([("mention_id", pa.string()), ("labels", pa.list_(pa.string()))]),
        "entities": pa.schema([
            ("id", pa.string()), ("name", pa.string()), ("description", pa.string()),
            ("aliases", pa.list_(pa.string())),
        ]),
    }


def _write_parquet(rows: list[dict], table: str, path: str, part: int = 0) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.Table.from_pylist(rows, schema=_schemas()[table]),
        os.path.join(path, f"part-{part:05d}.parquet"),
    )


def _publish(tmp: str, out: str) -> None:
    if os.path.exists(out):  # another run finished the same set first
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        os.replace(tmp, out)


def _prune(work: str, workload: str) -> None:
    root = os.path.join(work, "inputs")
    sets = [
        os.path.join(root, d)
        for d in os.listdir(root)
        if d.startswith(workload + "-") and ".tmp" not in d
    ]
    sets.sort(key=os.path.getmtime, reverse=True)
    for old in sets[CACHE_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)


def _gen_part(args) -> tuple[list[dict], list[dict], int]:
    """Pages ``lo..hi`` written as one parquet part; returns their spans,
    gold rows and html bytes."""
    from mix_blink_spark.fixtures import _gen_page

    part, lo, hi, seed, entities, nil_names, boiler_kb, pages_dir = args
    pages, spans, gold = [], [], []
    for i in range(lo, hi):
        p = _gen_page(i, seed, entities, nil_names, boiler_kb)
        for m in p.pop("mentions"):
            spans.append({"url": p["url"], "mention_id": m["mention_id"],
                          "start": m["start"], "end": m["end"]})
            gold.append({"mention_id": m["mention_id"], "labels": m["labels"]})
        pages.append(p)
    _write_parquet(pages, "pages", pages_dir, part)
    return spans, gold, sum(len(p["html"]) for p in pages)


def _run_parts(jobs: list) -> list:
    """``_gen_part`` of every job in a pool of worker processes. The
    pool's semaphores start multiprocessing's resource tracker, a process
    that would otherwise outlive this one: once the pool and its
    semaphores are gone, stop the tracker and wait for it to exit."""
    from multiprocessing import resource_tracker

    with multiprocessing.get_context("spawn").Pool(GEN_PROCESSES) as pool:
        parts = pool.map(_gen_part, jobs)
        pool.close()
        pool.join()
    del pool
    gc.collect()
    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()
    return parts


def _generate(w: Workload, seed: int, out: str) -> None:
    from mix_blink_spark.fixtures import _FIRST, _SECOND, make_entities

    t0 = time.monotonic()
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    # the dictionary and NIL names exactly as distributed_corpus draws them
    rng = random.Random(seed)
    entities = make_entities(rng, w.n_entities, wide=w.wide_names)
    nil_names = [
        f"{rng.choice(_FIRST)}{rng.choice(_SECOND)}X{j}" for j in range(max(3, w.n_entities // 5))
    ]
    bounds = [w.n_pages * k // GEN_PROCESSES for k in range(GEN_PROCESSES + 1)]
    jobs = [
        (k, bounds[k], bounds[k + 1], seed, entities, nil_names, w.boiler_kb,
         os.path.join(tmp, "pages"))
        for k in range(GEN_PROCESSES)
    ]
    parts = _run_parts(jobs)
    _write_parquet([r for s, _, _ in parts for r in s], "spans", os.path.join(tmp, "spans"))
    _write_parquet([r for _, g, _ in parts for r in g], "gold", os.path.join(tmp, "gold"))
    _write_parquet(
        [{"id": e.id, "name": e.name, "description": e.description, "aliases": e.aliases}
         for e in entities],
        "entities", os.path.join(tmp, "entities"),
    )
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(
            {
                "workload": w.name,
                "seed": seed,
                "n_pages": w.n_pages,
                "n_entities": w.n_entities,
                "html_bytes": sum(b for _, _, b in parts),
                "generate_s": round(time.monotonic() - t0, 3),
            },
            f,
        )
    _publish(tmp, out)


def workload_inputs(w: Workload, seed: int, work: str) -> str:
    """The input set of ``w`` for ``seed``, generated on first use."""
    out = os.path.join(work, "inputs", f"{w.key}-s{seed}")
    if os.path.exists(os.path.join(out, "meta.json")):
        os.utime(out)
    else:
        _generate(w, seed, out)
        _prune(work, w.name)
    return out


def warmup_inputs(w: Workload, seed: int, work: str) -> str:
    """The set-up link's corpus: ``w``'s page shape, fewer pages and entities."""
    small = replace(
        w, name=f"warmup-{w.name}", n_pages=WARMUP_PAGES, n_entities=WARMUP_ENTITIES
    )
    return workload_inputs(small, seed, work)


def read_meta(path: str) -> dict:
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


def read_gold(path: str) -> list[tuple[str, list[str]]]:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(path, "gold")).to_pydict()
    return list(zip(t["mention_id"], t["labels"]))


def read_gold_text(path: str) -> dict[str, str]:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(path, "pages"), columns=["url", "text"]).to_pydict()
    return dict(zip(t["url"], t["text"]))
