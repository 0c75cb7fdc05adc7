"""S8 analog: versioned persist/load of the dense entity index.

The reference round-trips its retriever state as a safetensors embedding
matrix + a JSON config (reference retriever/dense.py:124-151 —
``build_index`` writes, ``deserialize_from`` restores; model weights are
out of scope for v1, which consumes frozen embeddings — SURVEY.md §3.4).
The Spark analog persists:

  ``<dir>/v<N>/index``        parquet (ord, id, emb array<float>) — the
                              broadcastable (entity, alias-surface) rows in
                              encode order;
  ``<dir>/v<N>/config.json``  encoder config (encoder name, dim, measure,
                              n_rows) — the deserialize-time contract check;
  ``<dir>/manifest.json``     {"version": N} committed LAST

following the same data-then-manifest crash protocol as
``streaming.incremental.IncrementalStore``: a half-written ``v<N+1>`` is
invisible until the manifest advances, so readers always resolve a
complete snapshot. Parquet (not a driver-side npz) so the index itself is
written/read distributed and only collapses to a broadcast matrix at the
kNN boundary — at 10^12-document scale the dictionary stays
dimension-sized, but nothing here requires it to fit on the driver until
``load_matrix``.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession


def _write_json_atomic(path: str, payload: dict) -> None:
    """tmp + os.replace — a crash mid-write can never leave a truncated
    file, so ``_meta()``/``config()`` always parse a complete snapshot
    (the same protocol as ``streaming.incremental.IncrementalStore``)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


class EntityIndexStore:
    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)
        self._manifest = os.path.join(state_dir, "manifest.json")

    # -- resolution ---------------------------------------------------
    def _meta(self) -> dict | None:
        if not os.path.exists(self._manifest):
            return None
        with open(self._manifest) as f:
            return json.load(f)

    def version(self) -> int | None:
        m = self._meta()
        return m["version"] if m else None

    def _vdir(self, version: int) -> str:
        return os.path.join(self.state_dir, f"v{version}")

    # -- write path ----------------------------------------------------
    def commit(self, index_df: DataFrame, config: dict) -> int:
        """Write the index rows + config to the next version dir, then
        advance the manifest. ``index_df`` must have (ord, id, emb); a
        ``norm`` column (the alias surface the row was encoded from —
        what ``plans.pipeline.link`` blocks and scores the alias rows by) is
        preserved when present."""
        m = self._meta()
        version = (m["version"] + 1) if m else 1
        vdir = self._vdir(version)
        cols = ["ord", "id", "emb"] + (["norm"] if "norm" in index_df.columns else [])
        index_df.select(*cols).write.mode("overwrite").parquet(
            os.path.join(vdir, "index")
        )
        _write_json_atomic(os.path.join(vdir, "config.json"), config)
        _write_json_atomic(self._manifest, {"version": version})
        return version

    # -- read path -----------------------------------------------------
    def config(self) -> dict | None:
        m = self._meta()
        if m is None:
            return None
        with open(os.path.join(self._vdir(m["version"]), "config.json")) as f:
            return json.load(f)

    def index_df(self) -> DataFrame | None:
        m = self._meta()
        if m is None:
            return None
        return self.spark.read.parquet(os.path.join(self._vdir(m["version"]), "index"))

    def load_matrix(self) -> tuple[np.ndarray, list[str]] | None:
        """(matrix, ids) in the original encode order — the broadcast-side
        shape ``plans.predict`` consumes. Validates row count and dim
        against the committed config (the reference's deserialize-time
        shape check)."""
        df = self.index_df()
        if df is None:
            return None
        cfg = self.config() or {}
        rows = df.orderBy("ord").collect()
        ids = [r["id"] for r in rows]
        mat = (
            np.array([r["emb"] for r in rows], dtype=np.float32)
            if rows
            else np.zeros((0, int(cfg.get("dim", 0))), np.float32)
        )
        if "n_rows" in cfg and cfg["n_rows"] != len(ids):
            raise ValueError(
                f"entity index corrupt: config n_rows={cfg['n_rows']} != {len(ids)}"
            )
        if "dim" in cfg and len(ids) and mat.shape[1] != cfg["dim"]:
            raise ValueError(
                f"entity index corrupt: config dim={cfg['dim']} != {mat.shape[1]}"
            )
        return mat, ids
