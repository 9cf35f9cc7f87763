"""Seeded inputs drawn from the read-only test tables, with a manifest.

The inputs of a workload come from the sf0.1 test tables (TESTDATA.md)
in ``SOURCE``: ``documents`` and ``embeddings`` are copied unchanged
(each op later draws its own seeded subset of them), and ``events``
is copied and also cut into ordered files whose sizes the seed draws.
``ensure`` writes the files plus ``MANIFEST.json`` (recipe, seed, the
row count and byte size of each source and of each written file) and
reuses a directory only when that manifest matches the request, the
sources and the files on disk; anything else is regenerated from
scratch. Nothing is ever written under the source directory."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: bump when ``ensure`` changes the files it writes for a given recipe
VERSION = 2
MANIFEST = "MANIFEST.json"


def split_ordered(table: pa.Table, parts: int, seed: int) -> list[pa.Table]:
    """Cut ``table`` (already in event order) into ``parts`` contiguous
    slices whose sizes the seed draws within ±20% of the mean."""
    rng = np.random.default_rng([seed, 5])
    w = rng.uniform(0.8, 1.2, parts)
    cuts = np.round(np.cumsum(w) / w.sum() * table.num_rows).astype(int)
    starts = np.concatenate([[0], cuts[:-1]])
    return [table.slice(int(s), int(e - s)) for s, e in zip(starts, cuts)]


def _wanted(recipe: dict, seed: int) -> dict:
    return {"version": VERSION, "recipe": recipe, "seed": seed}


def _describe(path: str) -> dict:
    return {"rows": pq.ParquetFile(path).metadata.num_rows,
            "bytes": os.path.getsize(path)}


def _sources(recipe: dict) -> dict:
    out = {}
    for t in recipe["tables"]:
        path = os.path.join(recipe["source"], f"{t}.parquet")
        out[t] = dict(_describe(path), path=path)
    return out


def manifest_matches(out_dir: str, recipe: dict, seed: int) -> bool:
    """True when ``out_dir`` holds exactly what ``(recipe, seed)``
    gives: same version, recipe and seed in the manifest, sources of
    the recorded size and row count, and every listed file present
    with its recorded size and row count."""
    try:
        with open(os.path.join(out_dir, MANIFEST)) as fh:
            have = json.load(fh)
        if {k: have.get(k) for k in ("version", "recipe", "seed")} != _wanted(recipe, seed):
            return False
        if have.get("sources") != _sources(recipe):
            return False
        for rel, meta in have["files"].items():
            if _describe(os.path.join(out_dir, rel)) != meta:
                return False
    except (OSError, ValueError, KeyError):
        return False
    return bool(have["files"])


def ensure(out_dir: str, recipe: dict, seed: int) -> tuple[dict, bool]:
    """Make ``out_dir`` hold the inputs of ``(recipe, seed)``: a copy of
    each table in ``recipe["tables"]`` and, with
    ``recipe["stream_files"]``, ``events`` cut into that many ordered
    files under ``stream/``. Returns ``(manifest, reused)``."""
    src = os.path.realpath(recipe["source"])
    if os.path.commonpath([src, os.path.realpath(out_dir)]) == src:
        raise ValueError(f"refusing to write inputs under the source {src}")
    if manifest_matches(out_dir, recipe, seed):
        with open(os.path.join(out_dir, MANIFEST)) as fh:
            return json.load(fh), True
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    sources = _sources(recipe)
    written = []
    for t, meta in sources.items():
        shutil.copyfile(meta["path"], os.path.join(out_dir, f"{t}.parquet"))
        written.append(f"{t}.parquet")
    if recipe.get("stream_files"):
        events = pq.read_table(sources["events"]["path"])
        order = np.lexsort([events["event_id"].to_numpy(),
                            events["ts"].cast(pa.int64()).to_numpy()])
        events = events.take(order).replace_schema_metadata(None)
        os.makedirs(os.path.join(out_dir, "stream"))
        for i, part in enumerate(split_ordered(events, recipe["stream_files"], seed)):
            rel = f"stream/part-{i:05d}.parquet"
            pq.write_table(part, os.path.join(out_dir, rel))
            written.append(rel)
    manifest = dict(_wanted(recipe, seed), sources=sources,
                    files={rel: _describe(os.path.join(out_dir, rel)) for rel in written})
    tmp = os.path.join(out_dir, MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(out_dir, MANIFEST))
    return manifest, False
