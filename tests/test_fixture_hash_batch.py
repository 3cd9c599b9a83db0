"""Vectorized fnv1a64 / image_location: bit-identical to the scalar
forms (the derived locations are load-bearing — every assignment count
in the bench depends on them)."""

from __future__ import annotations

import numpy as np
import pytest

from building2osm_spark.sources.fixtures import (
    fnv1a64,
    fnv1a64_batch,
    image_location,
    image_locations_batch,
)


def _ids():
    ids = [f"img_{i:07d}" for i in range(0, 5000, 7)]
    ids += [f"id{i}" for i in range(50)]            # short
    ids += ["x" * 40, "", "a", "img_0000000"]       # extremes incl. empty
    ids += ["påske_øl_42", "日本語id", "naïve-7"]   # non-ASCII UTF-8
    return ids


def test_fnv1a64_batch_bit_identical():
    ids = _ids()
    got = fnv1a64_batch(np.asarray(ids, dtype=object))
    want = np.asarray([fnv1a64(i) for i in ids], dtype=np.uint64)
    assert np.array_equal(got, want)
    assert fnv1a64_batch(np.asarray([], dtype=object)).shape == (0,)


def test_fnv1a64_batch_rejects_nul():
    # the fixed-width fold cannot tell "a", "a\x00" and "a\x00b" apart,
    # while the scalar form gives three different values
    assert len({int(fnv1a64(s)) for s in ("a", "a\x00", "a\x00b")}) == 3
    for bad in (["a", "a\x00"], ["a\x00b"], ["\x00"]):
        with pytest.raises(ValueError, match="NUL"):
            fnv1a64_batch(np.asarray(bad, dtype=object))


def test_fnv1a64_batch_rejects_none():
    # str(None) would hash a NULL id as the id "None"
    assert int(fnv1a64_batch(np.asarray(["None"], dtype=object))[0]) == int(fnv1a64("None"))
    for bad in ([None], ["None", None], [None, "a"]):
        with pytest.raises(ValueError, match="None"):
            fnv1a64_batch(np.asarray(bad, dtype=object))


def test_image_locations_batch_bit_identical():
    ids = _ids()
    for hot_frac in (0.0, 0.3, 1.0):
        lon, lat = image_locations_batch(np.asarray(ids, dtype=object), hot_frac)
        want = [image_location(i, hot_frac) for i in ids]
        assert lon.tolist() == [w[0] for w in want]  # exact, not approx
        assert lat.tolist() == [w[1] for w in want]
