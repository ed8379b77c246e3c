"""Differential tests for the two JVM expressions of the write path against
the Python functions they replace: the Hilbert sort key
(``plans.output.with_hilbert_key`` vs ``geometry.ops.hilbert_index``) and
the geometry-type sniff (``sinks.geoparquet.geometry_type_expr`` vs
``geometry.wkb.geometry_type``)."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from quackosm_spark.geometry import wkb
from quackosm_spark.geometry.ops import hilbert_index
from quackosm_spark.plans.output import with_hilbert_key
from quackosm_spark.sinks.geoparquet import geometry_type_expr

_TOP = (1 << 16) - 1


def _jvm_keys(spark, xs, ys, extent) -> list:
    rows = [(i, None if x is None else float(x), None if y is None else float(y))
            for i, (x, y) in enumerate(zip(xs, ys))]
    df = spark.createDataFrame(rows, "i long, cx double, cy double")
    keyed = with_hilbert_key(df, F.col("cx"), F.col("cy"), extent, "k")
    return [r["k"] for r in keyed.orderBy("i").select("k").collect()]


@pytest.mark.parametrize(
    "extent",
    [
        (7.0, 43.0, 7.5, 43.25),
        (7.2, 43.0, 7.2, 43.25),  # zero span on x
        (7.0, 43.1, 7.5, 43.1),  # zero span on y
        (7.2, 43.1, 7.2, 43.1),  # zero span on both
    ],
)
def test_hilbert_key_matches_hilbert_index(spark, extent):
    rng = np.random.default_rng(5)
    minx, miny, maxx, maxy = extent
    # points inside and outside the extent
    xs = rng.uniform(minx - 0.3, maxx + 0.3, 4000)
    ys = rng.uniform(miny - 0.3, maxy + 0.3, 4000)
    # centroids on 16-bit cell boundaries: the edges, the middle and
    # powers of two of the grid, and one ulp on either side of each
    cells = [0, 1, 2, 255, 256, 32767, 32768, 32769, 65534, _TOP]
    spanx, spany = (maxx - minx) or 1.0, (maxy - miny) or 1.0
    edge_x = [minx + c / _TOP * spanx for c in cells]
    edge_y = [miny + c / _TOP * spany for c in cells]
    edge_x = [np.nextafter(v, d) for v in edge_x for d in (-np.inf, v, np.inf)]
    edge_y = [np.nextafter(v, d) for v in edge_y for d in (-np.inf, v, np.inf)]
    bx, by = (a.ravel() for a in np.meshgrid(edge_x, edge_y))
    xs, ys = np.concatenate([xs, bx, [np.inf, -np.inf]]), np.concatenate([ys, by, [0.0, 0.0]])
    want = hilbert_index(xs, ys, extent)
    assert _jvm_keys(spark, xs, ys, extent) == want.tolist()


def test_hilbert_key_is_null_for_nan_and_null_centroids(spark):
    extent = (0.0, 0.0, 1.0, 1.0)
    xs = [np.nan, 0.5, np.nan, None, 0.5, 0.25]
    ys = [0.5, np.nan, np.nan, 0.5, None, 0.75]
    keys = _jvm_keys(spark, xs, ys, extent)
    assert keys[:5] == [None] * 5
    assert keys[5] == int(hilbert_index(np.array([0.25]), np.array([0.75]), extent)[0])


def _header(type_code: int, little: bool) -> bytes:
    order = b"\x01" if little else b"\x00"
    return order + struct.pack("<I" if little else ">I", type_code) + b"\x00" * 16


def test_geometry_type_expr_matches_geometry_type(spark):
    blobs = []
    for base in range(1, 8):
        # plain, EWKB Z / M / SRID flag bits, ISO Z / M / ZM offsets
        codes = [base, base | 0x80000000, base | 0x40000000, base | 0x20000000,
                 base | 0xE0000000, base + 1000, base + 2000, base + 3000]
        blobs += [_header(code, little) for code in codes for little in (True, False)]
    blobs.append(wkb.dumps({"type": "Polygon", "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 0]]]}))
    df = spark.createDataFrame([(i, b) for i, b in enumerate(blobs)] + [(len(blobs), None)],
                               "i long, geometry binary")
    got = [r["t"] for r in df.orderBy("i").select(geometry_type_expr(F.col("geometry")).alias("t")).collect()]
    assert got == [wkb.geometry_type(b) for b in blobs] + [None]
    assert set(got[:-1]) == set(wkb._WKB_NAME.values())
