"""WKB (ISO well-known binary) encode/decode for GeoJSON-style dicts.

Little-endian, 2D only — matching what GeoParquet 1.1.0 stores. Used inside
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
    geom, _ = _read(memoryview(data), 0)
    return geom


def _read(buf: memoryview, off: int) -> tuple[Geometry, int]:
    little = buf[off] == 1
    fmt = "<" if little else ">"
    (type_code,) = struct.unpack_from(fmt + "I", buf, off + 1)
    type_code &= 0xFF  # tolerate EWKB flag bits / ISO 1000-offsets
    t = _WKB_NAME[type_code % 1000 if type_code >= 1000 else type_code]
    off += 5
    if t == "Point":
        x, y = struct.unpack_from(fmt + "dd", buf, off)
        return {"type": t, "coordinates": [x, y]}, off + 16
    if t == "LineString":
        coords, off = _read_seq(buf, off, fmt)
        return {"type": t, "coordinates": coords}, off
    if t == "Polygon":
        (n,) = struct.unpack_from(fmt + "I", buf, off)
        off += 4
        rings = []
        for _ in range(n):
            ring, off = _read_seq(buf, off, fmt)
            rings.append(ring)
        return {"type": t, "coordinates": rings}, off
    if t in ("MultiPoint", "MultiLineString", "MultiPolygon"):
        (n,) = struct.unpack_from(fmt + "I", buf, off)
        off += 4
        parts = []
        for _ in range(n):
            g, off = _read(buf, off)
            parts.append(g["coordinates"])
        return {"type": t, "coordinates": parts}, off
    if t == "GeometryCollection":
        (n,) = struct.unpack_from(fmt + "I", buf, off)
        off += 4
        geoms = []
        for _ in range(n):
            g, off = _read(buf, off)
            geoms.append(g)
        return {"type": t, "geometries": geoms}, off
    raise ValueError(f"Unsupported WKB type code: {type_code}")


def _read_seq(buf: memoryview, off: int, fmt: str) -> tuple[list[list[float]], int]:
    (n,) = struct.unpack_from(fmt + "I", buf, off)
    off += 4
    coords = []
    for i in range(n):
        x, y = struct.unpack_from(fmt + "dd", buf, off + i * 16)
        coords.append([x, y])
    return coords, off + n * 16


def geometry_type(data: bytes) -> str:
    """Fast WKB type sniff without full decode (for geo metadata, A8). The
    low 16 bits of the type code modulo 1000 name the base type, so EWKB
    flag bits and ISO Z/M/ZM offsets (1000/2000/3000) are tolerated."""
    little = data[0] == 1
    (code,) = struct.unpack_from("<I" if little else ">I", data, 1)
    return _WKB_NAME[(code & 0xFFFF) % 1000]
