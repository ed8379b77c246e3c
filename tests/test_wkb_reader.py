"""``wkb.loads`` against an independent encoder over every geometry type,
dimension, flavour and byte order: Z and M ordinates are read and dropped,
an EWKB SRID is skipped, and the 2D geometry comes back unchanged."""

from __future__ import annotations

import struct

import pytest

from quackosm_spark.geometry import wkb

POLYGON = [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 0.0]],
           [[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 1.0]]]
GEOMETRIES = {
    "Point": {"type": "Point", "coordinates": [1.5, -2.25]},
    "LineString": {"type": "LineString", "coordinates": [[0.0, 1.0], [2.5, 3.0], [4.0, -1.0]]},
    "Polygon": {"type": "Polygon", "coordinates": POLYGON},
    "MultiPoint": {"type": "MultiPoint", "coordinates": [[1.0, 2.0], [3.0, 4.0]]},
    "MultiLineString": {"type": "MultiLineString",
                        "coordinates": [[[0.0, 0.0], [1.0, 1.0]], [[2.0, 2.0], [3.0, 5.0]]]},
    "MultiPolygon": {"type": "MultiPolygon",
                     "coordinates": [POLYGON, [[[9.0, 9.0], [10.0, 9.0], [10.0, 10.0],
                                                [9.0, 9.0]]]]},
    "GeometryCollection": {"type": "GeometryCollection", "geometries": [
        {"type": "Point", "coordinates": [7.0, 8.0]},
        {"type": "LineString", "coordinates": [[0.0, 0.0], [1.0, 2.0]]},
        {"type": "Polygon", "coordinates": POLYGON},
    ]},
}
CODES = {"Point": 1, "LineString": 2, "Polygon": 3, "MultiPoint": 4,
         "MultiLineString": 5, "MultiPolygon": 6, "GeometryCollection": 7}
MEMBER = {"MultiPoint": "Point", "MultiLineString": "LineString",
          "MultiPolygon": "Polygon"}


def _encode(geom, fmt, flavour, dims, top=True) -> bytes:
    """WKB with ``dims`` ("", "Z", "M" or "ZM") extra ordinates per point,
    as ISO type offsets or EWKB flags (``ewkb_srid`` adds an SRID to the
    outermost header)."""
    t = geom["type"]
    code = CODES[t]
    if flavour == "iso":
        code += {"": 0, "Z": 1000, "M": 2000, "ZM": 3000}[dims]
    else:
        code |= (0x80000000 if "Z" in dims else 0) | (0x40000000 if "M" in dims else 0)
        if flavour == "ewkb_srid" and top:
            code |= 0x20000000
    out = bytearray(b"\x01" if fmt == "<" else b"\x00")
    out += struct.pack(fmt + "I", code)
    if code & 0x20000000:
        out += struct.pack(fmt + "I", 4326)

    def point(p):
        extra = [p[0] + p[1] + 0.5] * len(dims)  # z and m values differ from x, y
        return struct.pack(fmt + "d" * (2 + len(dims)), p[0], p[1], *extra)

    def seq(coords):
        return struct.pack(fmt + "I", len(coords)) + b"".join(point(p) for p in coords)

    if t == "Point":
        out += point(geom["coordinates"])
    elif t == "LineString":
        out += seq(geom["coordinates"])
    elif t == "Polygon":
        out += struct.pack(fmt + "I", len(geom["coordinates"]))
        out += b"".join(seq(r) for r in geom["coordinates"])
    else:
        members = geom.get("geometries") or [
            {"type": MEMBER[t], "coordinates": c} for c in geom["coordinates"]]
        out += struct.pack(fmt + "I", len(members))
        out += b"".join(_encode(m, fmt, flavour, dims, top=False) for m in members)
    return bytes(out)


@pytest.mark.parametrize("fmt", ["<", ">"])
@pytest.mark.parametrize("flavour", ["iso", "ewkb", "ewkb_srid"])
@pytest.mark.parametrize("dims", ["", "Z", "M", "ZM"])
@pytest.mark.parametrize("name", sorted(GEOMETRIES))
def test_loads_drops_z_and_m(name, dims, flavour, fmt):
    blob = _encode(GEOMETRIES[name], fmt, flavour, dims)
    assert wkb.loads(blob) == GEOMETRIES[name]
    assert wkb.geometry_type(blob) == name


@pytest.mark.parametrize("name", sorted(GEOMETRIES))
def test_loads_reads_what_dumps_writes(name):
    blob = wkb.dumps(GEOMETRIES[name])
    assert blob == _encode(GEOMETRIES[name], "<", "iso", "")
    assert wkb.loads(blob) == GEOMETRIES[name]


def test_unknown_type_code_is_rejected():
    with pytest.raises(ValueError, match="Unsupported WKB type code"):
        wkb.loads(b"\x01" + struct.pack("<I", 17) + bytes(16))
