"""Seeded, untimed input preparation for the workloads.

Every input is composed from the engine's public pure-of-id fixture
functions (``building2osm_spark.sources.fixtures``); ``--seed`` picks the id
window or the fixture seed, so the same seed always
gives the same files. Inputs are written once per (workload, seed, hash of
the generator source) into a temporary directory that is renamed into
place when complete, so a run never reads a half-written or stale cache.

The oracle expectations that only depend on the inputs (per-district
counts, brute-force nearest buildings, planted pairs, expected survivors)
are computed here with numpy, outside the engine, and stored beside the
inputs in ``meta.json``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import oracles

HERE = os.path.dirname(os.path.abspath(__file__))

# Input sizes, chosen so that a run fits the evaluation's budget of ~49 s:
# on a 4-core host a warm pass (or increment) takes 5-8 s and the cold
# warm-up pass 13-17 s (see perfbench/README.md, "Run budget").
SIZES = {
    "district_split": {"points": 200_000, "parts": 4, "buildings": 5_000},
    "caption_dedup": {"rows": 2_000, "parts": 4, "words": 40},
    "municipality_stream": {"tiles_x": 8, "tiles_y": 5, "tiles": 2,
                            "buildings": 12_000, "per_tile": 100},
}

_POOL_WORKERS = 4
_KEEP_PER_WORKLOAD = 2  # cached seeds kept per workload (disk bound)


def generator_hash(engine_root: str) -> str:
    """Hash of every source file the inputs are derived from."""
    h = hashlib.sha256()
    for path in (
        os.path.join(HERE, "inputs.py"),
        os.path.join(HERE, "oracles.py"),
        os.path.join(engine_root, "building2osm_spark", "sources", "fixtures.py"),
    ):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def prepare(workload: str, seed: int, work_root: str, engine_root: str) -> tuple[str, dict]:
    """(input_dir, meta) for (workload, seed); generates on a cache miss."""
    cache = os.path.join(work_root, "inputs")
    os.makedirs(cache, exist_ok=True)
    name = f"{workload}-s{seed}-{generator_hash(engine_root)}"
    final = os.path.join(cache, name)
    meta_path = os.path.join(final, "meta.json")
    if not os.path.exists(meta_path):
        tmp = f"{final}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = _GENERATORS[workload](seed, tmp)
        meta["input_bytes"] = _dir_bytes(tmp, exclude=("meta.json",))
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
        _prune(cache, workload, keep=name)
    with open(meta_path) as f:
        return final, json.load(f)


def _prune(cache: str, workload: str, keep: str) -> None:
    entries = [
        e for e in os.listdir(cache)
        if e.startswith(workload + "-s") and e != keep
    ]
    entries.sort(key=lambda e: os.path.getmtime(os.path.join(cache, e)))
    for e in entries[: max(0, len(entries) - (_KEEP_PER_WORKLOAD - 1))]:
        shutil.rmtree(os.path.join(cache, e), ignore_errors=True)


def _dir_bytes(root: str, exclude=()) -> int:
    total = 0
    for d, _dirs, files in os.walk(root):
        for fn in files:
            if fn not in exclude:
                total += os.path.getsize(os.path.join(d, fn))
    return total


def _pool():
    return ProcessPoolExecutor(_POOL_WORKERS, mp_context=get_context("spawn"))


# ---------------------------------------------------------------------------
# district_split: points (20 % in the hot spot) × the 16-district grid,
# leftovers → nearest building centroid
# ---------------------------------------------------------------------------

def _write_points(first: int, count: int, path: str) -> None:
    from building2osm_spark.sources.fixtures import image_locations_batch

    ids = np.char.add("img_", np.char.zfill(np.arange(first, first + count).astype(str), 12))
    lon, lat = image_locations_batch(ids, hot_frac=0.2)
    pq.write_table(
        pa.table({"point_id": ids.astype(object), "lon": lon, "lat": lat}), path
    )


def _gen_district_split(seed: int, out: str) -> dict:
    from building2osm_spark.sources import fixtures as FX

    size = SIZES["district_split"]
    n, parts = size["points"], size["parts"]
    base = (seed % 90_000) * 10_000_000
    os.makedirs(os.path.join(out, "points"))
    per = n // parts
    for k in range(parts):
        _write_points(base + k * per, per, os.path.join(out, "points", f"part-{k:03d}.parquet"))

    districts = FX.subdivisions_pdf(4, 4)
    pq.write_table(
        pa.Table.from_pandas(
            districts,
            schema=pa.schema([
                ("name", pa.string()), ("kind", pa.string()),
                ("geometry", pa.list_(pa.list_(pa.list_(pa.list_(pa.float64()))))),
                ("municipality", pa.string()),
            ]),
            preserve_index=False,
        ),
        os.path.join(out, "districts.parquet"),
    )

    geoms = FX.building_geometries(size["buildings"], seed=seed)
    refs = np.array([ref for ref, _ in geoms], dtype=object)
    cen = np.array([np.asarray(r[0][:-1], dtype=np.float64).mean(axis=0) for _, r in geoms])
    pq.write_table(
        pa.table({"ref": refs, "c_lon": cen[:, 0], "c_lat": cen[:, 1]}),
        os.path.join(out, "buildings.parquet"),
    )
    return {
        "rows": n,
        "expect": oracles.expect_district_split(
            os.path.join(out, "points"),
            os.path.join(out, "districts.parquet"),
            os.path.join(out, "buildings.parquet"),
        ),
    }


# ---------------------------------------------------------------------------
# caption_dedup: the images table with document-length captions
# ---------------------------------------------------------------------------

IMAGE_DUP_EVERY = 10     # lossy re-encode pairs (head, head + 9)
CAPTION_DUP_EVERY = 25   # caption near-dups (i - 1, i) for i % 25 == 0
DENSE_EVERY = 20         # rows i % 20 == 7 get smooth (correlated-bit) pixels
DENSE_SLOT = 7
_NO_FIXTURE_DUPS = 10**15  # documents_rows_for_ids plants no pair of its own


def _caption_chunk(args) -> str:
    ids, words, path = args
    import pandas as pd

    from building2osm_spark.sources import fixtures as FX

    ids = np.asarray(ids, dtype=np.int64)
    dense = ids % DENSE_EVERY == DENSE_SLOT
    textured = FX.image_near_dup_pdf_for_ids(ids[~dense].tolist(), IMAGE_DUP_EVERY)
    smooth = FX.images_pdf_for_ids(ids[dense].tolist())
    rows = pd.concat([textured, smooth]).sort_values("image_id", kind="stable")
    # a planted caption near-dup is its predecessor's document with the
    # last word replaced by its own document's last word: one shingle of
    # the whole caption differs (3-shingle Jaccard (S-1)/(S+1))
    dup = ids % CAPTION_DUP_EVERY == 0
    src = np.where(dup, ids - 1, ids)
    texts = FX.documents_rows_for_ids(src, _NO_FIXTURE_DUPS, words)["text"].to_numpy()
    own = FX.documents_rows_for_ids(ids, _NO_FIXTURE_DUPS, words)["text"].to_numpy()
    for k in np.flatnonzero(dup):
        texts[k] = texts[k].rsplit(" ", 1)[0] + " " + own[k].rsplit(" ", 1)[1]
    rows["caption"] = texts
    pq.write_table(
        pa.Table.from_pandas(
            rows.reset_index(drop=True),
            schema=pa.schema([
                ("image_id", pa.string()), ("bytes", pa.binary()),
                ("w", pa.int32()), ("h", pa.int32()), ("fmt", pa.string()),
                ("caption", pa.string()), ("phash", pa.int64()),
            ]),
            preserve_index=False,
        ),
        path,
    )
    return path


def _gen_caption_dedup(seed: int, out: str) -> dict:
    size = SIZES["caption_dedup"]
    n, parts = size["rows"], size["parts"]
    # window start on a multiple of both planting periods, so every
    # planted pair has both rows in the table
    base = (seed % 1_000_000) * 1_000_000
    ids = np.arange(base, base + n)
    os.makedirs(os.path.join(out, "images"))
    # interleaved id chunks: per-row cost is uneven (dense rows, sizes)
    jobs = [
        (ids[k::parts].tolist(), size["words"],
         os.path.join(out, "images", f"part-{k:03d}.parquet"))
        for k in range(parts)
    ]
    with _pool() as pool:
        list(pool.map(_caption_chunk, jobs))
    return {
        "rows": n,
        "expect": oracles.expect_caption_dedup(
            os.path.join(out, "images"), base, n,
            IMAGE_DUP_EVERY, CAPTION_DUP_EVERY,
        ),
    }


# ---------------------------------------------------------------------------
# municipality_stream: disjoint municipality tiles + a standing OSM base
# ---------------------------------------------------------------------------

_TILE_MARGIN_DEG = 0.006  # > 2 conflation cells of gap between tiles


def _gen_municipality_stream(seed: int, out: str) -> dict:
    from building2osm_spark.sources import fixtures as FX

    size = SIZES["municipality_stream"]
    nx, ny, n_tiles = size["tiles_x"], size["tiles_y"], size["tiles"]
    raw = FX.buildings_pdf(size["buildings"], seed=seed)
    minlon, minlat, maxlon, maxlat = FX.BBOX
    dx, dy = (maxlon - minlon) / nx, (maxlat - minlat) / ny
    # tile of each building = tile holding its whole outer ring, with a
    # margin so no two tiles share a conflation cell
    lo = np.array([np.min(np.asarray(g[0]), axis=0) for g in raw["geometry"]])
    hi = np.array([np.max(np.asarray(g[0]), axis=0) for g in raw["geometry"]])
    tx = np.floor((lo[:, 0] - minlon) / dx).astype(int)
    ty = np.floor((lo[:, 1] - minlat) / dy).astype(int)
    inside = (
        (lo[:, 0] >= minlon + tx * dx + _TILE_MARGIN_DEG)
        & (hi[:, 0] <= minlon + (tx + 1) * dx - _TILE_MARGIN_DEG)
        & (lo[:, 1] >= minlat + ty * dy + _TILE_MARGIN_DEG)
        & (hi[:, 1] <= minlat + (ty + 1) * dy - _TILE_MARGIN_DEG)
    )
    tile = np.where(inside, tx * ny + ty, -1)
    # the seed also orders the municipalities; every municipality has the
    # same size, so the rows a run commits do not depend on the seed
    per_tile = size["per_tile"]
    order = [
        t for t in np.random.default_rng(seed).permutation(nx * ny)
        if np.count_nonzero(tile == t) >= per_tile
    ][:n_tiles]

    schema = pa.schema([
        ("ref", pa.string()),
        ("geometry", pa.list_(pa.list_(pa.list_(pa.float64())))),
        ("geom_type", pa.string()), ("building_type", pa.string()),
        ("status", pa.string()), ("date", pa.string()),
        ("heritage", pa.bool_()), ("sefrak", pa.string()),
        ("municipality", pa.string()),
    ])
    os.makedirs(os.path.join(out, "municipalities"))
    files, counts = [], []
    keep = np.zeros(len(raw), dtype=bool)
    for t in order:
        keep[np.flatnonzero(tile == t)[:per_tile]] = True
    tile = np.where(keep, tile, -1)
    for k, t in enumerate(order):
        pdf = raw[tile == t].copy()
        pdf["municipality"] = f"{3000 + int(t):04d}"
        path = os.path.join(out, "municipalities", f"muni-{k:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), path)
        files.append(os.path.basename(path))
        counts.append(int(len(pdf)))

    # standing OSM base: shifted copies of about half of each tile's
    # buildings (a seeded draw)
    used = raw[np.isin(tile, order)]
    rng = np.random.default_rng(seed + 7)
    osm = used[rng.random(len(used)) < 0.5]
    shift_m = rng.uniform(0.5, 2.5, (len(osm), 2))
    rings, c_lon, c_lat, area = [], [], [], []
    for g, (se, sn) in zip(osm["geometry"], shift_m):
        ring = np.asarray(g[0], dtype=np.float64)
        cy = ring[:, 1].mean()
        ring = np.round(ring + [se / (111320.0 * np.cos(np.radians(cy))), sn / 111320.0], 7)
        rings.append(ring.tolist())
        c_lon.append(float(ring[:-1, 0].mean()))
        c_lat.append(float(ring[:-1, 1].mean()))
        area.append(int(round(oracles.ring_area_m2(ring))))
    pq.write_table(
        pa.table({
            "osm_id": pa.array(-osm["ref"].astype(np.int64).to_numpy()),
            "ring": pa.array(rings, pa.list_(pa.list_(pa.float64()))),
            "c_lon": c_lon, "c_lat": c_lat,
            "area": pa.array(area, pa.int64()),
            "tagged": pa.array(np.zeros(len(osm), dtype=bool)),
            "ref_tag": pa.nulls(len(osm), pa.string()),
            "tags": pa.array([[("building", "yes")]] * len(osm),
                             pa.map_(pa.string(), pa.string())),
        }),
        os.path.join(out, "osm.parquet"),
    )
    return {"rows": int(sum(counts)), "files": files, "counts": counts}


_GENERATORS = {
    "district_split": _gen_district_split,
    "caption_dedup": _gen_caption_dedup,
    "municipality_stream": _gen_municipality_stream,
}
