"""Deterministic synthetic fixtures (FIXTURES.md) — no network, no files.

All generators are pure functions of (n, seed): re-generation is exactly
reproducible anywhere. The `images` table has exactly the BASELINE.json
input_hint shape: (image_id string, bytes binary, w int, h int, fmt string,
caption string, phash bigint); its location is DERIVED from image_id via a
stable FNV-1a hash (the table is 'keyed by location' without carrying
lon/lat), with an optional hot-cell fraction to reproduce Oslo-style skew.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

# fixture municipality bbox (Oslo-ish)
BBOX = (10.60, 59.85, 11.00, 60.05)  # minlon, minlat, maxlon, maxlat
HOT_CENTER = (10.75, 59.91)          # the 'Oslo hot cell'

_FNV_OFFSET = np.uint64(14695981039346656037)
_FNV_PRIME = np.uint64(1099511628211)


def fnv1a64(s: str) -> np.uint64:
    """Stable 64-bit hash over a UTF-8 string (no interpreter hash salt):
    FNV-1a core + splitmix64 avalanche finalizer (raw FNV-1a of sequential
    ids is nearly sequential — the finalizer restores uniformity)."""
    h = int(_FNV_OFFSET)
    for b in s.encode("utf-8"):
        h = ((h ^ b) * int(_FNV_PRIME)) & 0xFFFFFFFFFFFFFFFF
    h ^= h >> 30
    h = (h * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    h ^= h >> 27
    h = (h * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    h ^= h >> 31
    return np.uint64(h)


def image_location(image_id: str, hot_frac: float = 0.0) -> tuple[float, float]:
    """loc(image_id) per FIXTURES.md §1: uniform in BBOX from the id hash;
    with probability hot_frac the point lands in a ~500 m hot spot instead."""
    h = int(fnv1a64(image_id))
    u1 = ((h >> 0) & 0xFFFFFFFF) / 2**32
    u2 = ((h >> 32) & 0xFFFFFFFF) / 2**32
    u3 = ((h * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF) >> 40) / 2**24
    minlon, minlat, maxlon, maxlat = BBOX
    if u3 < hot_frac:
        return (
            HOT_CENTER[0] + (u1 - 0.5) * 0.008,
            HOT_CENTER[1] + (u2 - 0.5) * 0.004,
        )
    return (minlon + u1 * (maxlon - minlon), minlat + u2 * (maxlat - minlat))


def fnv1a64_batch(ids: np.ndarray) -> np.ndarray:
    """Vectorized fnv1a64 over an array of str — bit-identical values
    (round 6: the per-row form is a per-BYTE Python loop; at 500k rows
    with_location spent ~11 task-s in it). Ids are widened to a
    fixed-width byte matrix (NUL-padded); the fold runs as max_len
    vectorized passes masked on the padding, so an id holding U+0000
    (the only code point whose UTF-8 form has a 0x00 byte) would hash
    like its NUL-free prefix: such ids raise ValueError instead. A None
    (NULL) id raises ValueError too: the str cast would hash it as the
    id "None". Asserted against the scalar form in
    tests/test_fixture_hash_batch.py."""
    n = len(ids)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    if any(i is None for i in ids):
        raise ValueError("fnv1a64_batch: ids must not be None (NULL)")
    if "\x00" in "".join(map(str, ids)):
        raise ValueError("fnv1a64_batch: ids must not contain NUL (U+0000)")
    # fixed-width bytes view; non-ASCII survives via per-element encode
    fixed = np.char.encode(np.asarray(ids, dtype="U"), "utf-8")
    width = fixed.dtype.itemsize
    mat = np.frombuffer(fixed.tobytes(), dtype=np.uint8).reshape(n, width)
    h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(width):
            col = mat[:, j]
            live = col != 0
            if not live.any():
                break
            hj = (h[live] ^ col[live].astype(np.uint64)) * _FNV_PRIME
            h[live] = hj
        h ^= h >> np.uint64(30)
        h *= np.uint64(0xBF58476D1CE4E5B9)
        h ^= h >> np.uint64(27)
        h *= np.uint64(0x94D049BB133111EB)
        h ^= h >> np.uint64(31)
    return h


def image_locations_batch(
    ids: np.ndarray, hot_frac: float = 0.0
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized image_location — value-identical doubles (the u draws
    are exact integers < 2^32 / 2^24, so float64 division matches the
    scalar form bit for bit)."""
    h = fnv1a64_batch(ids)
    u1 = (h & np.uint64(0xFFFFFFFF)).astype(np.float64) / 2**32
    u2 = (h >> np.uint64(32)).astype(np.float64) / 2**32
    with np.errstate(over="ignore"):
        u3 = ((h * np.uint64(0x9E3779B97F4A7C15)) >> np.uint64(40)).astype(
            np.float64
        ) / 2**24
    minlon, minlat, maxlon, maxlat = BBOX
    lon = minlon + u1 * (maxlon - minlon)
    lat = minlat + u2 * (maxlat - minlat)
    if hot_frac > 0.0:
        hot = u3 < hot_frac
        lon = np.where(hot, HOT_CENTER[0] + (u1 - 0.5) * 0.008, lon)
        lat = np.where(hot, HOT_CENTER[1] + (u2 - 0.5) * 0.004, lat)
    return lon, lat


# ---------------------------------------------------------------------------
# image payload codecs (numpy only — PIL is absent in the sandbox)
# ---------------------------------------------------------------------------

def _pixels_for(image_id: str, w: int, h: int) -> np.ndarray:
    """Deterministic RGB uint8 pixel block from the id hash."""
    seed = int(fnv1a64(image_id)) & 0xFFFFFFFF
    rng = np.random.default_rng(seed)
    base = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    # superimpose a gradient so images aren't pure noise (resize tests)
    gy = np.linspace(0, 64, h, dtype=np.float64)[:, None, None]
    gx = np.linspace(0, 64, w, dtype=np.float64)[None, :, None]
    return ((base.astype(np.float64) * 0.75) + gy * 0.5 + gx * 0.5).astype(np.uint8)


def encode_raw(pix: np.ndarray) -> bytes:
    """fmt='raw': h*w*3 RGB bytes, row-major."""
    return pix.astype(np.uint8).tobytes()


def decode_raw(data: bytes, w: int, h: int) -> np.ndarray:
    return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)


def encode_qraw(pix: np.ndarray) -> bytes:
    """fmt='qraw': 6-bit-quantized raw (lossy; PSNR ≈ 47 dB ≥ 40 dB)."""
    q = (pix.astype(np.uint16) >> 2).astype(np.uint8)
    return q.tobytes()


def decode_qraw(data: bytes, w: int, h: int) -> np.ndarray:
    q = np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3).astype(np.uint16)
    return np.clip(q * 4 + 2, 0, 255).astype(np.uint8)


def encode_bmp(pix: np.ndarray) -> bytes:
    """Uncompressed BMP24 (BITMAPINFOHEADER, bottom-up, BGR, 4-byte rows)."""
    h, w, _ = pix.shape
    row_size = (w * 3 + 3) & ~3
    img_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    rows = bytearray()
    bgr = pix[:, :, ::-1]
    pad = b"\x00" * (row_size - w * 3)
    for y in range(h - 1, -1, -1):
        rows += bgr[y].tobytes() + pad
    return header + info + bytes(rows)


def decode_bmp(data: bytes) -> np.ndarray:
    offset = struct.unpack_from("<I", data, 10)[0]
    w = struct.unpack_from("<i", data, 18)[0]
    h = struct.unpack_from("<i", data, 22)[0]
    bpp = struct.unpack_from("<H", data, 28)[0]
    assert bpp == 24, f"only BMP24 supported, got {bpp}"
    row_size = (w * 3 + 3) & ~3
    out = np.empty((h, w, 3), dtype=np.uint8)
    for y in range(h):
        row = np.frombuffer(data, dtype=np.uint8, count=w * 3, offset=offset + y * row_size)
        out[h - 1 - y] = row.reshape(w, 3)[:, ::-1]
    return out


def decode_image(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    if fmt == "raw":
        return decode_raw(data, w, h)
    if fmt == "qraw":
        return decode_qraw(data, w, h)
    if fmt == "bmp":
        return decode_bmp(data)
    raise NotImplementedError(
        f"format {fmt!r}: real codecs (jpeg/png/webp) need image libraries "
        "not present in this sandbox; plug a decoder into decode_image"
    )


def average_phash(pix: np.ndarray) -> int:
    """8×8 average-hash of the grayscale image → int64 (FIXTURES.md §1)."""
    gray = pix.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    blocks = gray.reshape(8, h // 8, 8, w // 8).mean(axis=(1, 3))
    bits = (blocks > blocks.mean()).astype(np.uint64).ravel()
    val = np.uint64(0)
    for i, b in enumerate(bits):
        val |= np.uint64(b) << np.uint64(63 - i)
    return int(val.astype(np.int64))


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(20.0 * np.log10(255.0) - 10.0 * np.log10(mse))


_CAPTION_TYPES = [
    "house", "garage", "barn", "cabin", "office", "retail", "industrial",
    "school", "hospital", "church", "warehouse", "shed",
]


def caption_for(i: int) -> str:
    """The deterministic caption template for id index i — the single
    source of truth shared by the row builders and
    functions.images.verify_against_oracle (a drifted inline copy would
    silently fail every caption check)."""
    h64 = int(fnv1a64(f"img_{i:012d}"))
    return (
        f"a photo of a {_CAPTION_TYPES[h64 % len(_CAPTION_TYPES)]} "
        f"near oslo #{i % 97}"
    )


def _image_rows_pdf(
    ids,
    hot_frac: float = 0.0,
    with_loc: bool = False,
    pixel_fn=None,
    src_of=None,
    fmt_of=None,
) -> pd.DataFrame:
    """Shared row builder for every images-table corpus (input_hint shape).

    fmt cycles raw/bmp/qraw; sizes from {16,32,64}; caption is a
    deterministic template over the building-type vocabulary; phash is the
    average-hash of the DECODED pixels (so phash is re-derivable from
    bytes). Hooks: `pixel_fn(image_id, w, h)` supplies pixels (default
    `_pixels_for`); `src_of(i)` redirects a row's CONTENT — pixels, size,
    caption — to another id (near-dup planting; the row keeps its own
    image_id and location); `fmt_of(i, h64)` overrides codec choice."""
    rows = []
    sizes = (16, 32, 64)
    fmts = ("raw", "bmp", "qraw")
    pixel_fn = pixel_fn or _pixels_for
    for i in ids:
        image_id = f"img_{i:012d}"
        src = src_of(i) if src_of is not None else i
        src_id = f"img_{src:012d}"
        h64 = int(fnv1a64(src_id))
        w = sizes[h64 % 3]
        hgt = sizes[(h64 >> 8) % 3]
        fmt = fmt_of(i, h64) if fmt_of is not None else fmts[(h64 >> 16) % 3]
        pix = pixel_fn(src_id, w, hgt)
        if fmt == "raw":
            data = encode_raw(pix)
        elif fmt == "bmp":
            data = encode_bmp(pix)
        else:
            data = encode_qraw(pix)
        decoded = decode_image(data, fmt, w, hgt)
        caption = caption_for(src)
        row = {
            "image_id": image_id,
            "bytes": data,
            "w": np.int32(w),
            "h": np.int32(hgt),
            "fmt": fmt,
            "caption": caption,
            "phash": np.int64(average_phash(decoded)),
        }
        if with_loc:
            lon, lat = image_location(image_id, hot_frac)
            row["lon"], row["lat"] = lon, lat
        rows.append(row)
    return pd.DataFrame(rows)


def images_pdf(n: int, hot_frac: float = 0.0, with_loc: bool = False) -> pd.DataFrame:
    """The images table (BASELINE.json input_hint shape), n rows."""
    return _image_rows_pdf(list(range(n)), hot_frac, with_loc)


# ---------------------------------------------------------------------------
# footprints & subdivisions
# ---------------------------------------------------------------------------

def _rect_ring(cx: float, cy: float, w_m: float, h_m: float, angle_deg: float = 0.0,
               jitter_m: float = 0.0, rng: np.random.Generator | None = None) -> list:
    """Closed rectangle ring around (cx, cy), metres → degrees at cy."""
    dlat = 1.0 / 111320.0
    dlon = dlat / np.cos(np.radians(cy))
    corners = np.array(
        [[-w_m / 2, -h_m / 2], [w_m / 2, -h_m / 2], [w_m / 2, h_m / 2],
         [-w_m / 2, h_m / 2]]
    )
    if jitter_m and rng is not None:
        corners = corners + rng.uniform(-jitter_m, jitter_m, corners.shape)
    a = np.radians(angle_deg)
    rot = np.array([[np.cos(a), -np.sin(a)], [np.sin(a), np.cos(a)]])
    corners = corners @ rot.T
    ring = np.stack([cx + corners[:, 0] * dlon, cy + corners[:, 1] * dlat], axis=1)
    ring = np.round(np.vstack([ring, ring[:1]]), 7)
    return ring.tolist()


def _metres_frame(cy: float):
    dlat = 1.0 / 111320.0
    dlon = dlat / np.cos(np.radians(cy))
    return dlon, dlat


def _poly_from_metres(cx: float, cy: float, pts_m: np.ndarray, angle_deg: float = 0.0) -> list:
    dlon, dlat = _metres_frame(cy)
    a = np.radians(angle_deg)
    rot = np.array([[np.cos(a), -np.sin(a)], [np.sin(a), np.cos(a)]])
    pts = np.asarray(pts_m, dtype=np.float64) @ rot.T
    ring = np.round(
        np.stack([cx + pts[:, 0] * dlon, cy + pts[:, 1] * dlat], axis=1), 7
    )
    return ring.tolist()


def building_geometries(n: int, seed: int = 42) -> list[tuple[str, list]]:
    """(ref, rings) footprints exercising every rectify/simplify branch
    (FIXTURES.md §2): clean + jittered + over-jittered rectangles,
    redundant straight-line nodes, short walls, L-shapes, connected
    groups sharing wall vertices, and curved-wall polygons."""
    rng = np.random.default_rng(seed)
    minlon, minlat, maxlon, maxlat = BBOX
    out: list[tuple[str, list]] = []
    i = 0
    serial = 0
    while serial < n:
        cx = float(rng.uniform(minlon + 0.01, maxlon - 0.01))
        cy = float(rng.uniform(minlat + 0.005, maxlat - 0.005))
        w_m, h_m = float(rng.uniform(8, 24)), float(rng.uniform(8, 24))
        angle = float(rng.uniform(0, 180))
        kind = i % 7
        i += 1

        def emit(rings):
            nonlocal serial
            out.append((str(10000000 + serial), rings))
            serial += 1

        if kind == 0:  # clean rectangle → rectifies with zero movement
            pts = np.array([[0, 0], [w_m, 0], [w_m, h_m], [0, h_m], [0, 0]], float)
            emit([_poly_from_metres(cx, cy, pts, angle)])
        elif kind == 1:  # sub-threshold corner jitter (< rectify_margin)
            pts = np.array([[0, 0], [w_m, 0], [w_m, h_m], [0, h_m], [0, 0]], float)
            pts[1:4] += rng.uniform(-0.08, 0.08, (3, 2))
            pts[-1] = pts[0]
            emit([_poly_from_metres(cx, cy, pts, angle)])
        elif kind == 2:  # heavy jitter → NORECTIFY (angles off) or abort
            pts = np.array([[0, 0], [w_m, 0], [w_m, h_m], [0, h_m], [0, 0]], float)
            pts[1:4] += rng.uniform(-1.5, 1.5, (3, 2))
            pts[-1] = pts[0]
            emit([_poly_from_metres(cx, cy, pts, angle)])
        elif kind == 3:  # redundant node mid-wall (straight line, ~2° kink)
            pts = np.array(
                [[0, 0], [w_m / 2, 0.02], [w_m, 0], [w_m, h_m], [0, h_m], [0, 0]],
                float,
            )
            emit([_poly_from_metres(cx, cy, pts, angle)])
        elif kind == 4:  # L-shape (6 square corners)
            pts = np.array(
                [[0, 0], [w_m, 0], [w_m, h_m / 2], [w_m / 2, h_m / 2],
                 [w_m / 2, h_m], [0, h_m], [0, 0]], float
            )
            emit([_poly_from_metres(cx, cy, pts, angle)])
        elif kind == 5:  # connected pair: row houses sharing one wall
            pts_a = np.array([[0, 0], [w_m, 0], [w_m, h_m], [0, h_m], [0, 0]], float)
            pts_b = np.array(
                [[w_m, 0], [2 * w_m, 0], [2 * w_m, h_m], [w_m, h_m], [w_m, 0]], float
            )
            ring_a = _poly_from_metres(cx, cy, pts_a, angle)
            ring_b = _poly_from_metres(cx, cy, pts_b, angle)
            emit([ring_a])
            emit([ring_b])
        else:  # kind == 6: semicircular east end — ~20° same-sign turns
            # (inside the 0.3°..40° curve window, above the 8° angle margin
            # → NORECTIFY + curve branch in simplify)
            r = h_m / 2.0
            arc = [
                [w_m + r * np.sin(t), r - r * np.cos(t)]
                for t in np.linspace(0.0, np.pi, 10)
            ]
            pts = np.array([[0, 0]] + arc + [[0, h_m], [0, 0]], float)
            emit([_poly_from_metres(cx, cy, pts, 0.0)])
    return out[:n]


def buildings_pdf(n: int, seed: int = 42) -> pd.DataFrame:
    """Synthetic footprints table (FIXTURES.md §2)."""
    rng = np.random.default_rng(seed + 1)
    statuses = ["RA", "IG", "MB", "FA", "TB", "MT", "MF", "GR", "IP", "FS"]
    types = ["111", "112", "113", "121", "142", "181", "231", "241", "311", "412"]
    rows = []
    for ref, rings in building_geometries(n, seed):
        rows.append(
            {
                "ref": ref,
                "geometry": rings,
                "geom_type": "Polygon",
                "building_type": types[int(rng.integers(0, len(types)))],
                "status": statuses[int(rng.integers(0, len(statuses)))],
                "date": f"20{rng.integers(10, 24):02d}-{rng.integers(1, 13):02d}-{rng.integers(1, 29):02d}",
                "heritage": bool(rng.random() < 0.05),
                "sefrak": (
                    f"{rng.integers(1000, 9999)}-{rng.integers(1, 99):04d}-{rng.integers(1, 99)}"
                    if rng.random() < 0.1 else None
                ),
                "municipality": "0301",
            }
        )
    return pd.DataFrame(rows)


def subdivisions_pdf(nx: int = 4, ny: int = 4, plain: bool = False) -> pd.DataFrame:
    """Grid of adjacent districts tiling the fixture bbox (FIXTURES.md §5);
    district (1,1) carries a hole, district (0,0) is a 2-part MultiPolygon
    carved out of its own rectangle. plain=True: simple rectangles only
    (used where an ANSI-SQL oracle must mirror the assignment)."""
    minlon, minlat, maxlon, maxlat = BBOX
    dx = (maxlon - minlon) / nx
    dy = (maxlat - minlat) / ny
    rows = []
    for ix in range(nx):
        for iy in range(ny):
            x0, x1 = minlon + ix * dx, minlon + (ix + 1) * dx
            y0, y1 = minlat + iy * dy, minlat + (iy + 1) * dy
            outer = [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
            name = f"{ix}{iy:02d} District"
            if plain:
                geometry = [[outer]]
            elif ix == 1 and iy == 1:
                hx0, hx1 = x0 + dx * 0.4, x0 + dx * 0.6
                hy0, hy1 = y0 + dy * 0.4, y0 + dy * 0.6
                hole = [[hx0, hy0], [hx1, hy0], [hx1, hy1], [hx0, hy1], [hx0, hy0]]
                geometry = [[outer, hole]]
            elif ix == 0 and iy == 0:
                xm = (x0 + x1) / 2
                left = [[x0, y0], [xm, y0], [xm, y1], [x0, y1], [x0, y0]]
                right = [[xm, y0], [x1, y0], [x1, y1], [xm, y1], [xm, y0]]
                geometry = [[left], [right]]
            else:
                geometry = [[outer]]
            rows.append(
                {
                    "name": name,
                    "kind": "bydel",
                    "geometry": geometry,
                    "municipality": "0301",
                }
            )
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# conflation fixture (FIXTURES.md §6)
# ---------------------------------------------------------------------------

def cascade_conflation_pdfs():
    """(osm_pdf, import_pdf) — the removal-cascade corpus where the
    reference's greedy insertion-order matching (building_merge.py:680-735)
    and the order-free mutual-best formulation legitimately disagree:

      import A at x=0 m, import B at x=-7 m,
      OSM O1 (osm_id 1) at x=+2 m (Hausdorff to A = 2 m, to B = 9 m),
      OSM O2 (osm_id 2) at x=-3 m (to A = 3 m, to B = 4 m).

    Greedy: O1 scans first, takes A (its best; A's reverse best is O1)
    and REMOVES it, so O2 then takes B → two matches. Mutual-best: O2's
    rank-1 candidate is A (3 < 4) but A's reverse best is O1, so O2
    matches nothing → one match. Drives conflate_greedy's parity test
    and the conflate_greedy driver query."""
    import math

    lat0 = 59.9
    m_lat = 1.0 / 111_320.0
    m_lon = m_lat / math.cos(math.radians(lat0))

    def square(cx_m: float, side_m: float = 10.0):
        h = side_m / 2.0
        pts = [(cx_m - h, -h), (cx_m + h, -h), (cx_m + h, h), (cx_m - h, h),
               (cx_m - h, -h)]
        ring = [[10.7 + x * m_lon, lat0 + y * m_lat] for x, y in pts]
        return ring, (10.7 + cx_m * m_lon, lat0)

    a_ring, a_c = square(0.0)
    b_ring, b_c = square(-7.0)
    o1_ring, o1_c = square(2.0)
    o2_ring, o2_c = square(-3.0)
    osm_pdf = pd.DataFrame(
        {
            "osm_id": [1, 2],
            "ring": [o1_ring, o2_ring],
            "c_lon": [o1_c[0], o2_c[0]],
            "c_lat": [o1_c[1], o2_c[1]],
            "area": [100, 100],
            "tagged": [False, False],
            "ref_tag": [None, None],
            "tags": [{"building": "yes"}, {"building": "yes"}],
        }
    )
    import_pdf = pd.DataFrame(
        {
            "ref": ["A", "B"],
            "ring": [a_ring, b_ring],
            "c_lon": [a_c[0], b_c[0]],
            "c_lat": [a_c[1], b_c[1]],
            "area": [100, 100],
            "building": ["house", "house"],
        }
    )
    return osm_pdf, import_pdf


def conflation_pdfs(n: int = 64, seed: int = 42):
    """(osm_pdf, import_pdf) exercising every conflation gate: identical,
    small/medium offsets, tagged-margin rejection, far offsets, area-ratio
    violations, already-imported refs (anti-join), multi-valued refs, and
    unmatched buildings on both sides. Bases are ≥ 200 m apart so candidate
    bboxes (±20 m) never span two bases — match results are then
    order-independent and the reference's greedy scan equals mutual-best.
    """
    from .. import geom as G

    rng = np.random.default_rng(seed)
    minlon, minlat, maxlon, maxlat = BBOX
    cols = max(16, int(np.ceil(np.sqrt(n))))  # keep the grid inside BBOX
    step_lat = min(0.0027, (maxlat - minlat - 0.02) / max(n // cols, 1))
    step_lon = min(0.0054, (maxlon - minlon - 0.02) / cols)
    osm_rows, import_rows = [], []
    for i in range(n):
        gx, gy = i % cols, i // cols
        cx = minlon + 0.01 + gx * step_lon
        cy = minlat + 0.01 + gy * step_lat
        w_m, h_m = float(rng.uniform(8, 24)), float(rng.uniform(8, 24))
        angle = float(rng.uniform(0, 180))
        base = _rect_ring(cx, cy, w_m, h_m, angle)
        kind = i % 8
        ref = str(20000000 + i)

        def offset_ring(ring, d_east_m, d_north_m):
            arr = np.asarray(ring, dtype=np.float64)
            dlat = d_north_m / 111320.0
            dlon = d_east_m / (111320.0 * np.cos(np.radians(cy)))
            return np.round(arr + [dlon, dlat], 7).tolist()

        def scale_ring(ring, f):
            arr = np.asarray(ring, dtype=np.float64)
            c = arr[:-1].mean(axis=0)
            out = c + (arr - c) * f
            return np.round(out, 7).tolist()

        def mk_osm(ring, tags, tagged=False):
            arr = np.asarray(ring, dtype=np.float64)
            clon, clat = G.polygon_centre(arr)
            # derive the flag exactly like building_merge.py:444-448 (any
            # tag beyond building/source/addr:*) — ref:bygningsnr counts
            derived = any(
                k not in ("building", "source") and "addr:" not in k for k in tags
            )
            return {
                "osm_id": -(1000 + i),
                "ring": ring,
                "c_lon": clon,
                "c_lat": clat,
                "area": abs(G.polygon_area_merge(arr)),
                "tagged": tagged or derived,
                "ref_tag": tags.get("ref:bygningsnr"),
                "tags": tags,
            }

        def mk_import(ring, ref_value, building="house"):
            arr = np.asarray(ring, dtype=np.float64)
            clon, clat = G.polygon_centre(arr)
            return {
                "ref": ref_value,
                "ring": ring,
                "c_lon": clon,
                "c_lat": clat,
                "area": abs(G.polygon_area_merge(arr)),
                "building": building,
            }

        if kind == 0:  # identical → match, identical flag
            osm_rows.append(mk_osm(base, {"building": "yes"}))
            import_rows.append(mk_import(base, ref))
        elif kind == 1:  # 2 m offset → match
            osm_rows.append(mk_osm(base, {"building": "yes"}))
            import_rows.append(mk_import(offset_ring(base, 2, 1), ref))
        elif kind == 2:  # ~7 m offset, untagged → match under 10 m margin
            osm_rows.append(mk_osm(base, {"building": "yes"}))
            import_rows.append(mk_import(offset_ring(base, 7, 0), ref))
        elif kind == 3:  # ~7 m offset but tagged → needs < 5 m → NO match
            osm_rows.append(
                mk_osm(base, {"building": "house", "name": "X"}, tagged=True)
            )
            import_rows.append(mk_import(offset_ring(base, 7, 0), ref))
        elif kind == 4:  # 30 m offset → outside ±20 m candidate bbox → NO match
            osm_rows.append(mk_osm(base, {"building": "yes"}))
            import_rows.append(mk_import(offset_ring(base, 30, 5), ref))
        elif kind == 5:  # area ratio 0.25 < 0.4 → NO match
            osm_rows.append(mk_osm(base, {"building": "yes"}))
            import_rows.append(mk_import(scale_ring(base, 2.0), ref))
        elif kind == 6:  # OSM already carries the ref (multi-valued) → both skipped
            osm_rows.append(
                mk_osm(base, {"building": "yes", "ref:bygningsnr": ref + ";999"})
            )
            import_rows.append(mk_import(offset_ring(base, 1, 1), ref))
        else:  # kind == 7: unmatched singletons, alternating side
            if (i // 8) % 2 == 0:
                osm_rows.append(mk_osm(base, {"building": "yes"}))
            else:
                import_rows.append(mk_import(base, ref))
    return pd.DataFrame(osm_rows), pd.DataFrame(import_rows)


def dense_random_conflation_pdfs(seed: int = 0, clusters: int = 6, per_cluster: int = 3):
    """(osm_pdf, import_pdf) — randomized removal-interference corpora for
    DIFFERENTIAL testing of the greedy path against the reference
    (building_merge.py:680-735): clusters of mutually-overlapping candidate
    bboxes where several OSM buildings contend for the same imports, so the
    greedy scan order and in-place removal decide both the match set and
    the -debug spray. Cluster anchors sit ≥200 m apart (candidate-graph
    components stay cluster-local); within a cluster per_cluster OSM and
    per_cluster+1 import squares jitter up to ±9 m around the anchor, so
    every in-cluster pair passes the ±2·margin strict bbox test. One
    import per cluster duplicates an OSM ring exactly (sub-1m IDENTICAL
    path); alternate clusters tag one OSM building (5 m tagged margin);
    import sides range wider than OSM sides (area-ratio-gate SIZE path).
    osm_id and ref are ascending in row order so the engine's default scan
    orders equal the reference's insertion orders."""
    from .. import geom as G

    rng = np.random.default_rng(seed)
    minlon, minlat, _, _ = BBOX
    m_lat = 1.0 / 111320.0
    osm_rows, import_rows = [], []
    osm_id = 0
    ref_i = 0
    for c in range(clusters):
        ax = minlon + 0.01 + (c % 4) * 0.006
        ay = minlat + 0.01 + (c // 4) * 0.003
        m_lon = m_lat / np.cos(np.radians(ay))

        def jittered_ring(w_lo, w_hi):
            dx, dy = rng.uniform(-9, 9, 2)
            w, h = rng.uniform(w_lo, w_hi, 2)
            ang = float(rng.uniform(0, 180))
            return _rect_ring(ax + dx * m_lon, ay + dy * m_lat, float(w), float(h), ang)

        rings_o = [jittered_ring(8, 14) for _ in range(per_cluster)]
        for j, ring in enumerate(rings_o):
            arr = np.asarray(ring, dtype=np.float64)
            clon, clat = G.polygon_centre(arr)
            tagged = bool(j == per_cluster - 1 and c % 2)
            tags = {"building": "house", "name": "T"} if tagged else {"building": "yes"}
            osm_id += 1
            osm_rows.append(
                {
                    "osm_id": osm_id,
                    "ring": ring,
                    "c_lon": clon,
                    "c_lat": clat,
                    "area": abs(G.polygon_area_merge(arr)),
                    "tagged": tagged,
                    "ref_tag": None,
                    "tags": tags,
                }
            )
        for j in range(per_cluster + 1):
            ring = rings_o[0] if j == 0 else jittered_ring(6, 16)
            arr = np.asarray(ring, dtype=np.float64)
            clon, clat = G.polygon_centre(arr)
            ref_i += 1
            import_rows.append(
                {
                    "ref": str(50000000 + ref_i),
                    "ring": ring,
                    "c_lon": clon,
                    "c_lat": clat,
                    "area": abs(G.polygon_area_merge(arr)),
                    "building": "house",
                }
            )
    return pd.DataFrame(osm_rows), pd.DataFrame(import_rows)


def city_conflation_pdfs(n: int, urban_frac: float = 0.2, seed: int = 42):
    """(osm_pdf, import_pdf) at CITY scale with the central-Oslo skew
    shape: urban_frac of the buildings pack a dense core at ~25 m pitch
    (hundreds per conflation cell), the rest spread rurally at ~250 m
    pitch (~1 per cell) — a ~100× per-cell density contrast, which is what
    actually stresses the 3×3 cell-block candidate join. Vectorized numpy
    generation (rings built in one rotation-matrix batch), so n=10^6 is
    generated in seconds. Imports: 70%% offset copies (0-8 m, matchable),
    15%% absent (unmatched OSM), 15%% import-only (unmatched imports at
    fresh locations). No tagged buildings, no ref anti-join rows — the
    bench isolates the candidate-join + Hausdorff + mutual-best path.
    """
    rng = np.random.default_rng(seed)
    minlon, minlat, maxlon, maxlat = BBOX
    n_urban = int(n * urban_frac)
    n_rural = n - n_urban

    def grid(count, pitch_m, lon0, lat0):
        cols = max(int(np.ceil(np.sqrt(count))), 1)
        i = np.arange(count)
        lat = lat0 + (i // cols) * (pitch_m / 111320.0)
        lon = lon0 + (i % cols) * (pitch_m / (111320.0 * np.cos(np.radians(lat0))))
        return lon, lat

    u_lon, u_lat = grid(n_urban, 25.0, minlon + 0.02, minlat + 0.02)
    r_lon, r_lat = grid(n_rural, 250.0, minlon + 0.02, minlat + 0.09)
    cx = np.concatenate([u_lon, r_lon])
    cy = np.concatenate([u_lat, r_lat])

    w = rng.uniform(8, 20, n)
    h = rng.uniform(8, 20, n)
    ang = np.radians(rng.uniform(0, 180, n))
    # rectangle corners in metres, rotated, vectorized: (n, 5, 2)
    corners = np.stack(
        [
            np.stack([-w / 2, -h / 2], axis=1),
            np.stack([w / 2, -h / 2], axis=1),
            np.stack([w / 2, h / 2], axis=1),
            np.stack([-w / 2, h / 2], axis=1),
            np.stack([-w / 2, -h / 2], axis=1),
        ],
        axis=1,
    )
    rot = np.stack(
        [
            np.stack([np.cos(ang), -np.sin(ang)], axis=1),
            np.stack([np.sin(ang), np.cos(ang)], axis=1),
        ],
        axis=1,
    )  # (n, 2, 2)
    m_xy = np.einsum("npk,nkj->npj", corners, rot)
    dlat = m_xy[:, :, 1] / 111320.0
    dlon = m_xy[:, :, 0] / (111320.0 * np.cos(np.radians(cy))[:, None])
    rings = np.round(
        np.stack([cx[:, None] + dlon, cy[:, None] + dlat], axis=2), 7
    )  # (n, 5, 2)
    area = np.rint(w * h).astype(np.int64)

    kind = rng.uniform(size=n)
    has_import = kind < 0.85
    has_osm = (kind < 0.70) | (kind >= 0.85)
    off_e = rng.uniform(0, 6, n)
    off_n = rng.uniform(0, 5, n)
    imp_rings = np.round(
        rings
        + np.stack(
            [off_e / (111320.0 * np.cos(np.radians(cy))), off_n / 111320.0], axis=1
        )[:, None, :],
        7,
    )

    ids = np.arange(n)
    osm_pdf = pd.DataFrame(
        {
            "osm_id": -(1000 + ids[has_osm]),
            "ring": [r.tolist() for r in rings[has_osm]],
            "c_lon": cx[has_osm],
            "c_lat": cy[has_osm],
            "area": area[has_osm],
            "tagged": False,
            "ref_tag": None,
            "tags": [{"building": "yes"}] * int(has_osm.sum()),
        }
    )
    icx = imp_rings[:, :-1, 0].mean(axis=1)
    icy = imp_rings[:, :-1, 1].mean(axis=1)
    import_pdf = pd.DataFrame(
        {
            "ref": (20000000 + ids[has_import]).astype(str),
            "ring": [r.tolist() for r in imp_rings[has_import]],
            "c_lon": icx[has_import],
            "c_lat": icy[has_import],
            "area": area[has_import],
            "building": "house",
        }
    )
    return osm_pdf, import_pdf


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over a uint64 array (vectorized, wraps mod 2^64)."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)).astype(np.uint64)
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)).astype(np.uint64)
    return x ^ (x >> np.uint64(31))


def _unif(ids: np.ndarray, stream: int) -> np.ndarray:
    """Deterministic uniforms in [0,1) — a pure function of (id, stream),
    independent of batching/partitioning (task-retry safe)."""
    h = _mix64(ids.astype(np.uint64) * np.uint64(0x2545F4914F6CDD1D) + np.uint64(stream))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def city_conflation_rows_for_ids(ids, n: int, urban_frac: float = 0.2, side=None):
    """The per-id row body of city_conflation_pdfs, as a pure function of
    id (hash-derived uniforms instead of a sequential rng) so generation
    can run IN EXECUTORS over spark.range(n) at any scale. Same skew shape
    and planted-match fractions as city_conflation_pdfs; values differ
    (different random stream) but the conflation ground truth — matches =
    rows with both sides present — is identical by construction.

    Returns (osm_pdf, import_pdf) for exactly these ids; pass side='osm'
    or side='import' to build (and pay for) only that frame — the two
    mapInPandas generators would otherwise each compute and discard half
    the work."""
    ids = np.asarray(ids, dtype=np.int64)
    minlon, minlat, maxlon, maxlat = BBOX
    n_urban = int(n * urban_frac)

    urban = ids < n_urban
    # urban grid at 25 m pitch, rural at 250 m — identical layout to
    # city_conflation_pdfs (position is a pure function of id)
    cols_u = max(int(np.ceil(np.sqrt(n_urban))), 1)
    cols_r = max(int(np.ceil(np.sqrt(n - n_urban))), 1)
    iu = ids
    ir = ids - n_urban
    lat0_u, lon0_u = minlat + 0.02, minlon + 0.02
    lat0_r, lon0_r = minlat + 0.09, minlon + 0.02
    cy = np.where(
        urban,
        lat0_u + (iu // cols_u) * (25.0 / 111320.0),
        lat0_r + (ir // cols_r) * (250.0 / 111320.0),
    )
    cx = np.where(
        urban,
        lon0_u + (iu % cols_u) * (25.0 / (111320.0 * np.cos(np.radians(lat0_u)))),
        lon0_r + (ir % cols_r) * (250.0 / (111320.0 * np.cos(np.radians(lat0_r)))),
    )

    m = len(ids)
    w = _unif(ids, 1) * 12 + 8
    h = _unif(ids, 2) * 12 + 8
    ang = np.radians(_unif(ids, 3) * 180)
    corners = np.stack(
        [
            np.stack([-w / 2, -h / 2], axis=1),
            np.stack([w / 2, -h / 2], axis=1),
            np.stack([w / 2, h / 2], axis=1),
            np.stack([-w / 2, h / 2], axis=1),
            np.stack([-w / 2, -h / 2], axis=1),
        ],
        axis=1,
    )
    rot = np.stack(
        [
            np.stack([np.cos(ang), -np.sin(ang)], axis=1),
            np.stack([np.sin(ang), np.cos(ang)], axis=1),
        ],
        axis=1,
    )
    m_xy = np.einsum("npk,nkj->npj", corners, rot)
    dlat = m_xy[:, :, 1] / 111320.0
    dlon = m_xy[:, :, 0] / (111320.0 * np.cos(np.radians(cy))[:, None])
    rings = np.round(np.stack([cx[:, None] + dlon, cy[:, None] + dlat], axis=2), 7)
    area = np.rint(w * h).astype(np.int64)

    kind = _unif(ids, 4)
    has_import = kind < 0.85
    has_osm = (kind < 0.70) | (kind >= 0.85)

    osm_pdf = None
    if side in (None, "osm"):
        osm_pdf = pd.DataFrame(
            {
                "osm_id": -(1000 + ids[has_osm]),
                "ring": [r.tolist() for r in rings[has_osm]],
                "c_lon": cx[has_osm],
                "c_lat": cy[has_osm],
                "area": area[has_osm],
                "tagged": False,
                "ref_tag": None,
                "tags": [{"building": "yes"}] * int(has_osm.sum()),
            }
        )
        if side == "osm":
            return osm_pdf

    off_e = _unif(ids, 5) * 6
    off_n = _unif(ids, 6) * 5
    imp_rings = np.round(
        rings
        + np.stack(
            [off_e / (111320.0 * np.cos(np.radians(cy))), off_n / 111320.0], axis=1
        )[:, None, :],
        7,
    )
    icx = imp_rings[:, :-1, 0].mean(axis=1)
    icy = imp_rings[:, :-1, 1].mean(axis=1)
    import_pdf = pd.DataFrame(
        {
            "ref": (20000000 + ids[has_import]).astype(str),
            "ring": [r.tolist() for r in imp_rings[has_import]],
            "c_lon": icx[has_import],
            "c_lat": icy[has_import],
            "area": area[has_import],
            "building": "house",
        }
    )
    if side == "import":
        return import_pdf
    return osm_pdf, import_pdf


def documents_rows_for_ids(
    ids, dup_every: int = 10, words_per_doc: int = 120, vocab: int = 5000
) -> pd.DataFrame:
    """Synthetic corpus rows as a pure function of id (splitmix64 word
    draws — batching/partition independent). Every `dup_every`-th doc is a
    near-duplicate of its predecessor: same word sequence with 3 words
    replaced, i.e. a planted pair (id-1, id) at 3-shingle Jaccard ≈ 0.86
    and everything else pairwise-independent (Jaccard ≈ 0). Ground truth
    for near-dup recall is therefore exact: the planted pairs and nothing
    else clear any threshold ≥ 0.5."""
    ids = np.asarray(ids, dtype=np.int64)
    is_dup = (ids % dup_every == 0) & (ids > 0)
    base = np.where(is_dup, ids - 1, ids)
    # words[i, j] = mix64(base_i * K + j) % vocab — row-major per doc
    j = np.arange(words_per_doc, dtype=np.uint64)
    w = (
        _mix64(base.astype(np.uint64)[:, None] * np.uint64(0x9E3779B97F4A7C15) + j[None, :])
        % np.uint64(vocab)
    ).astype(np.int64)
    # dup docs: replace 3 words at id-derived positions with id-derived words
    for slot in range(3):
        pos = (
            _mix64(ids.astype(np.uint64) + np.uint64(slot * 7 + 1))
            % np.uint64(words_per_doc)
        ).astype(np.int64)
        repl = (
            _mix64(ids.astype(np.uint64) + np.uint64(slot * 13 + 101))
            % np.uint64(vocab)
        ).astype(np.int64)
        rows = np.where(is_dup)[0]
        w[rows, pos[rows]] = repl[rows]
    texts = [" ".join(f"w{int(x):04d}" for x in row) for row in w]
    return pd.DataFrame(
        {"doc_id": [f"doc_{int(i):010d}" for i in ids], "text": texts}
    )


def distributed_documents(spark, n: int, dup_every: int = 10):
    """Documents table generated IN EXECUTORS (mapInPandas over
    spark.range(n)) with planted near-duplicates — scales to any n; the
    driver never materializes a row. Planted pair count =
    floor((n-1)/dup_every)."""

    def gen(batches):
        for pdf in batches:
            yield documents_rows_for_ids(pdf["id"].values, dup_every=dup_every)

    return spark.range(n).mapInPandas(gen, schema="doc_id string, text string")


def embeddings_rows_for_ids(
    ids, dim: int = 64, n_clusters: int = 256, noise: float = 0.2
) -> pd.DataFrame:
    """Clustered embedding rows as a pure function of id: vec(id) =
    center(cluster(id)) + small noise, both splitmix64-derived — the
    realistic ANN corpus shape (IVF recall depends on cluster structure).
    Deterministic under any partitioning."""
    ids = np.asarray(ids, dtype=np.int64)
    j = np.arange(dim, dtype=np.uint64)
    cid = (_mix64(ids.astype(np.uint64) + np.uint64(7)) % np.uint64(n_clusters)).astype(
        np.uint64
    )
    centers = (
        _mix64(cid[:, None] * np.uint64(0xD1B54A32D192ED03) + j[None, :])
        >> np.uint64(11)
    ).astype(np.float64) / float(1 << 53) - 0.5
    nz = (
        _mix64(ids.astype(np.uint64)[:, None] * np.uint64(0xA24BAED4963EE407) + j[None, :])
        >> np.uint64(11)
    ).astype(np.float64) / float(1 << 53) - 0.5
    vecs = (centers + noise * nz).astype(np.float32)
    return pd.DataFrame(
        {"emb_id": ids.astype(np.int64), "embedding": [v.tolist() for v in vecs]}
    )


def distributed_embeddings(spark, n: int, dim: int = 64, n_clusters: int = 256):
    """Embeddings table generated IN EXECUTORS (mapInPandas over
    spark.range(n)) — scales to any n; the driver never sees a row."""

    def gen(batches):
        for pdf in batches:
            yield embeddings_rows_for_ids(pdf["id"].values, dim, n_clusters)

    return spark.range(n).mapInPandas(
        gen, schema="emb_id long, embedding array<float>"
    )


def distributed_city_conflation(spark, n: int, urban_frac: float = 0.2):
    """(osm_df, import_df) generated IN EXECUTORS (mapInPandas over
    spark.range(n)) — scales to any n; the driver never materializes a
    row. Expected match count = rows with both sides planted
    (kind<0.70 or kind>=0.85 intersected with kind<0.85 → kind<0.70,
    i.e. ~70% of n)."""

    def gen_osm(batches):
        for pdf in batches:
            osm = city_conflation_rows_for_ids(
                pdf["id"].values, n, urban_frac, side="osm"
            )
            if len(osm):
                yield osm

    def gen_imp(batches):
        for pdf in batches:
            imp = city_conflation_rows_for_ids(
                pdf["id"].values, n, urban_frac, side="import"
            )
            if len(imp):
                yield imp

    rng = spark.range(n)
    return (
        rng.mapInPandas(gen_osm, schema=OSM_CONFLATE_SCHEMA),
        rng.mapInPandas(gen_imp, schema=IMPORT_CONFLATE_SCHEMA),
    )


OSM_CONFLATE_SCHEMA = (
    "osm_id long, ring array<array<double>>, c_lon double, c_lat double, "
    "area long, tagged boolean, ref_tag string, tags map<string,string>"
)
IMPORT_CONFLATE_SCHEMA = (
    "ref string, ring array<array<double>>, c_lon double, c_lat double, "
    "area long, building string"
)


GEOMETRY_POLYGON_T = "array<array<array<double>>>"
GEOMETRY_MULTIPOLYGON_T = "array<array<array<array<double>>>>"

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
)
IMAGES_LOC_SCHEMA = IMAGES_SCHEMA + ", lon double, lat double"
BUILDINGS_SCHEMA = (
    f"ref string, geometry {GEOMETRY_POLYGON_T}, geom_type string, building_type string, "
    "status string, date string, heritage boolean, sefrak string, municipality string"
)
SUBDIVISIONS_SCHEMA = (
    f"name string, kind string, geometry {GEOMETRY_MULTIPOLYGON_T}, municipality string"
)


def spark_images(spark, n: int, hot_frac: float = 0.0, with_loc: bool = False):
    pdf = images_pdf(n, hot_frac, with_loc)
    schema = IMAGES_LOC_SCHEMA if with_loc else IMAGES_SCHEMA
    return spark.createDataFrame(pdf, schema=schema)


def distributed_images(spark, n: int, hot_frac: float = 0.0, with_loc: bool = False):
    """Images table generated IN EXECUTORS (mapInPandas over range(n)) —
    every row is the same pure function of image_id as images_pdf, so the
    two generators are interchangeable; this one scales to any n (the
    driver never materializes a row)."""
    import pandas as pd

    schema = IMAGES_LOC_SCHEMA if with_loc else IMAGES_SCHEMA

    def gen(batches):
        for pdf in batches:
            yield images_pdf_for_ids(pdf["id"].tolist(), hot_frac, with_loc)

    return spark.range(n).mapInPandas(gen, schema=schema)


def images_pdf_for_ids(ids, hot_frac: float = 0.0, with_loc: bool = False) -> pd.DataFrame:
    """images_pdf for an explicit id list — the per-batch generator body."""
    return _image_rows_pdf(ids, hot_frac, with_loc)


def textured_pixels_for(image_id: str, w: int, h: int) -> np.ndarray:
    """Deterministic RGB pixels with i.i.d. random per-phash-block offsets.

    `_pixels_for`'s smooth gradient+noise images concentrate average_phash
    in hamming space (measured: ~58M TRUE hamming≤3 pairs per 500k images —
    a dense corpus where any exact hamming join's output is huge). This
    corpus instead randomizes the 8×8 block means (offset ±48 ≫ the qraw
    quantization error ±2), so its phash is ~uniform in {0,1}^64: chance
    near-pairs are negligible and a planted near-dup signal is measurable.
    """
    # full 64-bit seed (default_rng takes arbitrary ints): a 32-bit seed
    # has birthday collisions at corpus scale (~29 identical-pixel pairs
    # per 500k ids — observed as 9 same-size hamming-0 extras)
    seed = int(fnv1a64(image_id)) ^ 0xA5A5A5A5
    rng = np.random.default_rng(seed)
    noise = rng.integers(0, 256, size=(h, w, 3)).astype(np.float64) * 0.4
    block = rng.uniform(-48.0, 48.0, size=(8, 8))
    up = np.kron(block, np.ones((h // 8, w // 8)))[:, :, None]
    return np.clip(noise + 104.0 + up, 0, 255).astype(np.uint8)


def image_near_dup_pdf_for_ids(ids, dup_every: int = 10, with_loc: bool = False) -> pd.DataFrame:
    """Images-table rows (input_hint shape) over the TEXTURED corpus with
    planted near-duplicates: row i with i % dup_every == dup_every-1
    re-encodes the PIXELS of its block head (i - dup_every + 1) through the
    lossy qraw codec under its own image_id. Heads (i % dup_every == 0)
    always encode losslessly (raw/bmp), so every planted pair is a genuine
    lossy re-encode — bytes differ, decoded pixels are 6-bit-quantized
    (PSNR ≈ 47 dB), and the phash lands within hamming ≤2 of the head's.
    Every row is a pure function of its id, so the generator is
    deterministic under any partitioning / task retry. Planted pairs for
    n rows: (img_{b·k}, img_{b·k + k - 1}) per full block, i.e.
    floor(n / dup_every) pairs at n % dup_every == 0."""

    def src_of(i: int) -> int:
        return i - (dup_every - 1) if dup_every > 1 and i % dup_every == dup_every - 1 else i

    def fmt_of(i: int, h64: int) -> str:
        if dup_every > 1 and i % dup_every == dup_every - 1:
            return "qraw"
        if dup_every > 1 and i % dup_every == 0:
            return ("raw", "bmp")[(h64 >> 16) % 2]  # heads: lossless only
        return ("raw", "bmp", "qraw")[(h64 >> 16) % 3]

    return _image_rows_pdf(
        ids, with_loc=with_loc, pixel_fn=textured_pixels_for,
        src_of=src_of, fmt_of=fmt_of,
    )


def distributed_image_near_dups(
    spark, n: int, dup_every: int = 10, with_loc: bool = False
):
    """image_near_dup_pdf_for_ids generated IN EXECUTORS (mapInPandas over
    range(n)) — rows are a pure function of id, so any partitioning or
    task retry yields identical data; the driver never sees a row."""
    schema = IMAGES_LOC_SCHEMA if with_loc else IMAGES_SCHEMA

    def gen(batches):
        for pdf in batches:
            yield image_near_dup_pdf_for_ids(pdf["id"].tolist(), dup_every, with_loc)

    return spark.range(n).mapInPandas(gen, schema=schema)


def spark_buildings(spark, n: int, seed: int = 42):
    return spark.createDataFrame(buildings_pdf(n, seed), schema=BUILDINGS_SCHEMA)


def spark_subdivisions(spark, nx: int = 4, ny: int = 4):
    return spark.createDataFrame(subdivisions_pdf(nx, ny), schema=SUBDIVISIONS_SCHEMA)
