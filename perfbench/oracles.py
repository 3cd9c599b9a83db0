"""Per-workload oracles built from numpy and pyarrow only — no engine code.

``expect_*`` run once per generated input set (untimed) and return the
JSON-able expectations stored in the input's ``meta.json``; ``check_*``
read what a pass wrote to disk and return a list of problems (empty when
the pass is correct).
"""

from __future__ import annotations

import glob
import json
import os
import urllib.parse

import numpy as np
import pyarrow.parquet as pq

EARTH_RADIUS_M = 6371000.0


def _read(path: str, columns=None):
    return pq.read_table(path, columns=columns)


def _rect(ring) -> tuple[float, float, float, float]:
    """Axis-aligned rectangle (x0, y0, x1, y1) of a closed ring; raises if
    the ring is not one (the oracle only knows rectangles)."""
    pts = np.asarray(ring, dtype=np.float64)
    x0, y0 = pts.min(axis=0)
    x1, y1 = pts.max(axis=0)
    if not (np.all(np.isin(pts[:, 0], (x0, x1))) and np.all(np.isin(pts[:, 1], (y0, y1)))):
        raise ValueError("district ring is not an axis-aligned rectangle")
    return x0, y0, x1, y1


def _in_rect(lon, lat, r) -> np.ndarray:
    # half-open on both axes: the even-odd crossing rule puts a point on
    # a shared edge into exactly one of the two neighbours
    x0, y0, x1, y1 = r
    return (lon >= x0) & (lon < x1) & (lat >= y0) & (lat < y1)


def equirect_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    rlon1, rlat1, rlon2, rlat2 = map(np.radians, (lon1, lat1, lon2, lat2))
    x = (rlon2 - rlon1) * np.cos((rlat1 + rlat2) * 0.5)
    y = rlat2 - rlat1
    return EARTH_RADIUS_M * np.sqrt(x * x + y * y)


def ring_area_m2(ring) -> float:
    """Shoelace area of a lon/lat ring in a local equirectangular frame."""
    pts = np.asarray(ring, dtype=np.float64)
    lat0 = np.radians(pts[:, 1].mean())
    x = np.radians(pts[:, 0]) * np.cos(lat0) * EARTH_RADIUS_M
    y = np.radians(pts[:, 1]) * EARTH_RADIUS_M
    return float(abs(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1])) / 2.0)


# ---------------------------------------------------------------------------
# district_split
# ---------------------------------------------------------------------------

def expect_district_split(points_dir: str, districts_path: str, buildings_path: str) -> dict:
    pts = _read(points_dir)
    lon = pts["lon"].to_numpy()
    lat = pts["lat"].to_numpy()
    pid = pts["point_id"].to_numpy(zero_copy_only=False)
    d = _read(districts_path).to_pylist()
    counts = {}
    anywhere = np.zeros(len(lon), dtype=bool)
    for row in d:
        inside = np.zeros(len(lon), dtype=bool)
        for poly in row["geometry"]:
            rin = _in_rect(lon, lat, _rect(poly[0]))
            for hole in poly[1:]:
                rin &= ~_in_rect(lon, lat, _rect(hole))
            inside |= rin
        counts[row["name"]] = int(inside.sum())
        anywhere |= inside
    left = ~anywhere
    b = _read(buildings_path)
    b_ref = b["ref"].to_numpy(zero_copy_only=False)
    b_lon, b_lat = b["c_lon"].to_numpy(), b["c_lat"].to_numpy()
    # refs sort numerically as strings (fixed width), so argmin over the
    # ref-sorted table breaks distance ties by the lowest ref
    order = np.argsort(b_ref)
    b_ref, b_lon, b_lat = b_ref[order], b_lon[order], b_lat[order]
    nearest = {}
    l_ids, l_lon, l_lat = pid[left], lon[left], lat[left]
    for s in range(0, len(l_ids), 256):
        dist = equirect_m(
            l_lon[s:s + 256, None], l_lat[s:s + 256, None], b_lon[None, :], b_lat[None, :]
        )
        j = np.argmin(dist, axis=1)
        for k, jj in enumerate(j):
            nearest[str(l_ids[s + k])] = [str(b_ref[jj]), float(dist[k, jj])]
    return {"per_district": counts, "leftover": nearest}


def check_district_split(out_dir: str, expect: dict, buildings_path: str) -> list[str]:
    problems = []
    got = {}
    for part in glob.glob(os.path.join(out_dir, "assignments.parquet", "district=*")):
        name = os.path.basename(part)[len("district="):]
        n = sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in glob.glob(os.path.join(part, "*.parquet"))
        )
        # Hive-style partition values escape a few characters as %XX
        got[urllib.parse.unquote(name)] = n
    want = dict(expect["per_district"])
    want["_leftover"] = len(expect["leftover"])
    want = {k: v for k, v in want.items() if v}
    if got != want:
        problems.append(f"district counts differ: got {got}, want {want}")
    fb = _read(os.path.join(out_dir, "fallback.parquet")).to_pylist()
    if len(fb) != len(expect["leftover"]):
        problems.append(f"{len(fb)} fallback rows, want {len(expect['leftover'])}")
    b = _read(buildings_path)
    where = {r: i for i, r in enumerate(b["ref"].to_pylist())}
    b_lon, b_lat = b["c_lon"].to_numpy(), b["c_lat"].to_numpy()
    bad = 0
    for row in fb:
        want_ref, want_d = expect["leftover"].get(row["point_id"], (None, None))
        if want_ref is None:
            bad += 1
            continue
        if row["nearest_ref"] == want_ref:
            continue
        # a different ref is right only at an exact distance tie
        i = where.get(row["nearest_ref"])
        d = np.inf if i is None else float(
            equirect_m(row["lon"], row["lat"], b_lon[i], b_lat[i])
        )
        if not d <= want_d * (1 + 1e-12):
            bad += 1
    if bad:
        problems.append(f"{bad} leftover points with a wrong nearest building")
    return problems


# ---------------------------------------------------------------------------
# caption_dedup
# ---------------------------------------------------------------------------

def _image_id(i: int) -> str:
    return f"img_{i:012d}"


def _hamming_pairs(ids: np.ndarray, h: np.ndarray, max_d: int = 3) -> set:
    """Exact pairs within hamming max_d by pigeonhole over max_d+1 chunks."""
    u = h.astype(np.uint64)
    bits = 64 // (max_d + 1)
    mask = np.uint64((1 << bits) - 1)
    pairs = set()
    for c in range(max_d + 1):
        key = (u >> np.uint64(c * bits)) & mask
        order = np.argsort(key, kind="stable")
        ks = key[order]
        starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
        ends = np.r_[starts[1:], len(ks)]
        for s, e in zip(starts, ends):
            if e - s < 2:
                continue
            g = order[s:e]
            a, b = np.triu_indices(len(g), 1)
            x = u[g[a]] ^ u[g[b]]
            pc = np.zeros(len(x), dtype=np.int64)
            for sh in range(0, 64, 8):
                pc += _POP8[((x >> np.uint64(sh)) & np.uint64(0xFF)).astype(np.int64)]
            keep = pc <= max_d
            for ia, ib in zip(ids[g[a][keep]], ids[g[b][keep]]):
                pairs.add((min(ia, ib), max(ia, ib)))
    return pairs


_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)


def _components(n_nodes: int, edges) -> int:
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    comps = n_nodes
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
            comps -= 1
    return comps


def expect_caption_dedup(images_dir: str, base: int, n: int,
                         image_dup_every: int, caption_dup_every: int) -> dict:
    t = _read(images_dir, ["image_id", "phash"])
    idx = np.array([int(s[4:]) for s in t["image_id"].to_pylist()]) - base
    phash = t["phash"].to_numpy()
    image_planted = [
        (h, h + image_dup_every - 1)
        for h in range(0, n - image_dup_every + 1, image_dup_every)
    ]
    caption_planted = [
        (i - 1, i) for i in range(caption_dup_every, n, caption_dup_every)
    ]
    phash_edges = _hamming_pairs(idx, phash)
    missing = [p for p in image_planted if p not in phash_edges]
    if missing:
        raise ValueError(f"{len(missing)} planted re-encodes beyond hamming 3")
    survivors = _components(n, list(phash_edges) + caption_planted)

    def ids(pairs):
        return [[_image_id(base + a), _image_id(base + b)] for a, b in pairs]

    return {
        "rows": n,
        "survivors": survivors,
        "image_planted": ids(image_planted),
        "caption_planted": ids(caption_planted),
        "phash_edges": len(phash_edges),
    }


def check_caption_dedup(out_dir: str, expect: dict) -> list[str]:
    problems = []
    kept = set(_read(os.path.join(out_dir, "survivors.parquet"), ["image_id"])["image_id"].to_pylist())
    if len(kept) != expect["survivors"]:
        problems.append(f"{len(kept)} survivors, want {expect['survivors']}")
    both = sum(
        1 for a, b in expect["image_planted"] + expect["caption_planted"]
        if a in kept and b in kept
    )
    if both:
        problems.append(f"{both} planted pairs kept both rows")
    # gram hashes live in a 31-bit space, so unplanted rows can share a
    # gram by hash collision: only planted ⊆ flagged is exact
    prof = _read(os.path.join(out_dir, "ngram_profile.parquet"), ["image_id", "dup_fraction"])
    flagged = {
        i for i, f in zip(prof["image_id"].to_pylist(), prof["dup_fraction"].to_pylist())
        if f > 0
    }
    missed = {x for pair in expect["caption_planted"] for x in pair} - flagged
    if prof.num_rows != expect["rows"] or missed:
        problems.append(
            f"ngram profile has {prof.num_rows} rows (want {expect['rows']}), "
            f"{len(missed)} planted captions unflagged"
        )
    return problems


# ---------------------------------------------------------------------------
# municipality_stream
# ---------------------------------------------------------------------------

def latest_snapshot(store: str, stage: str) -> tuple[str | None, set, int]:
    """(snapshot id, committed refs, row count) of a store stage."""
    log = os.path.join(store, stage, "log.json")
    if not os.path.exists(log):
        return None, set(), 0
    with open(log) as f:
        sid = json.load(f)[-1]
    refs = _read(os.path.join(store, stage, sid, "data"), ["ref"])["ref"].to_pylist()
    return sid, set(refs), len(refs)


def check_stream(store: str, stage: str, landed: list[str], before_last) -> list[str]:
    """The final snapshot holds every landed ref exactly once, and the last
    commit added exactly the last file's refs: the previous file, landed
    again beside it, committed nothing."""
    problems = []
    files = [set(_read(path, ["ref"])["ref"].to_pylist()) for path in landed]
    want = set().union(*files)
    _sid, refs, n_rows = latest_snapshot(store, stage)
    if refs != want or n_rows != len(want):
        problems.append(
            f"store holds {n_rows} rows / {len(refs)} refs, want {len(want)} "
            f"({len(want - refs)} missing, {len(refs - want)} extra)"
        )
    _sid, refs_before, n_before = before_last
    if refs - refs_before != files[-1] or n_rows - n_before != len(files[-1]):
        problems.append(
            f"the last increment added {n_rows - n_before} rows, want "
            f"{len(files[-1])}: the replayed file was committed again"
        )
    return problems
