"""WKB (ISO well-known binary) encode/decode for GeoJSON-style dicts.

Writes little-endian 2D, matching what GeoParquet 1.1.0 stores; reads
either byte order, ISO or EWKB, and drops Z and M. Used inside
Arrow-vectorized pandas UDFs, so encoding is plain ``struct`` packing per
geometry (geometry counts per row are small; the batch-level vectorization
comes from Arrow moving the rows, not from numpy-vectorizing the packer).
"""

from __future__ import annotations

import struct
from typing import Any

Geometry = dict[str, Any]

_WKB_TYPE = {
    "Point": 1,
    "LineString": 2,
    "Polygon": 3,
    "MultiPoint": 4,
    "MultiLineString": 5,
    "MultiPolygon": 6,
    "GeometryCollection": 7,
}
_WKB_NAME = {v: k for k, v in _WKB_TYPE.items()}


def dumps(geom: Geometry) -> bytes:
    out = bytearray()
    _write(geom, out)
    return bytes(out)


def _write(geom: Geometry, out: bytearray) -> None:
    t = geom["type"]
    out += b"\x01"  # little endian
    out += struct.pack("<I", _WKB_TYPE[t])
    if t == "Point":
        c = geom["coordinates"]
        if not c:
            out += struct.pack("<dd", float("nan"), float("nan"))
        else:
            out += struct.pack("<dd", c[0], c[1])
    elif t == "LineString":
        _write_seq(geom["coordinates"], out)
    elif t == "Polygon":
        rings = geom["coordinates"]
        out += struct.pack("<I", len(rings))
        for ring in rings:
            _write_seq(ring, out)
    elif t in ("MultiPoint", "MultiLineString", "MultiPolygon"):
        member = {"MultiPoint": "Point", "MultiLineString": "LineString",
                  "MultiPolygon": "Polygon"}[t]
        parts = geom["coordinates"]
        out += struct.pack("<I", len(parts))
        for p in parts:
            _write({"type": member, "coordinates": p}, out)
    elif t == "GeometryCollection":
        geoms = geom["geometries"]
        out += struct.pack("<I", len(geoms))
        for g in geoms:
            _write(g, out)
    else:
        raise ValueError(f"Unsupported geometry type: {t}")


def _write_seq(coords: list[list[float]], out: bytearray) -> None:
    out += struct.pack("<I", len(coords))
    for pt in coords:
        out += struct.pack("<dd", pt[0], pt[1])


def loads(data: bytes) -> Geometry:
    """Decode ISO WKB or EWKB (either byte order) to a 2D geometry: Z and M
    ordinates are read and dropped, an EWKB SRID is skipped."""
    geom, _ = _read(memoryview(data), 0)
    return geom


def _header(buf: memoryview, off: int) -> tuple[str, str, int, int]:
    """(struct byte order, type name, ordinates per point, offset after the
    header). The low 16 bits of the type code modulo 1000 name the base
    type; Z and M come from the ISO 1000/2000/3000 offsets or the EWKB flag
    bits."""
    fmt = "<" if buf[off] == 1 else ">"
    (code,) = struct.unpack_from(fmt + "I", buf, off + 1)
    off += 5
    base, iso = (code & 0xFFFF) % 1000, (code & 0xFFFF) // 1000
    if base not in _WKB_NAME:
        raise ValueError(f"Unsupported WKB type code: {code}")
    has_z = bool(code & 0x80000000) or iso in (1, 3)
    has_m = bool(code & 0x40000000) or iso in (2, 3)
    if code & 0x20000000:  # EWKB SRID
        off += 4
    return fmt, _WKB_NAME[base], 2 + has_z + has_m, off


def _read(buf: memoryview, off: int) -> tuple[Geometry, int]:
    fmt, t, dims, off = _header(buf, off)
    if t == "Point":
        x, y = struct.unpack_from(fmt + "dd", buf, off)
        return {"type": t, "coordinates": [x, y]}, off + 8 * dims
    if t == "LineString":
        coords, off = _read_seq(buf, off, fmt, dims)
        return {"type": t, "coordinates": coords}, off
    if t == "Polygon":
        (n,) = struct.unpack_from(fmt + "I", buf, off)
        off += 4
        rings = []
        for _ in range(n):
            ring, off = _read_seq(buf, off, fmt, dims)
            rings.append(ring)
        return {"type": t, "coordinates": rings}, off
    (n,) = struct.unpack_from(fmt + "I", buf, off)
    off += 4
    members = []
    for _ in range(n):
        g, off = _read(buf, off)
        members.append(g)
    if t == "GeometryCollection":
        return {"type": t, "geometries": members}, off
    return {"type": t, "coordinates": [g["coordinates"] for g in members]}, off


def _read_seq(
    buf: memoryview, off: int, fmt: str, dims: int
) -> tuple[list[list[float]], int]:
    (n,) = struct.unpack_from(fmt + "I", buf, off)
    off += 4
    coords = []
    for i in range(n):
        x, y = struct.unpack_from(fmt + "dd", buf, off + i * 8 * dims)
        coords.append([x, y])
    return coords, off + n * 8 * dims


def geometry_type(data: bytes) -> str:
    """Fast WKB type sniff without full decode (for geo metadata, A8). The
    low 16 bits of the type code modulo 1000 name the base type, so EWKB
    flag bits and ISO Z/M/ZM offsets (1000/2000/3000) are tolerated."""
    return _header(memoryview(data), 0)[1]
