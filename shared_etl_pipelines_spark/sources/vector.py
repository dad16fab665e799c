"""Pure-python ESRI Shapefile (.shp/.dbf) reading — the vector-boundary
ingestion path.

The reference's clip/zonal plugins take TIGER boundary shapefiles
directly (``tl_2025_us_state.shp`` with a ``STUSPS`` key,
``tl_2025_us_county.shp`` with ``GEOID``/``NAME`` —
pipelines/prism/county_daily_aggregate.yml:11-13,
pipelines/prism/stage-ts-ppt-day-state.yml:16,31). The engine's geo
operators consume ``operators.geo.Polygon`` values; this module bridges
the two with a dependency-free reader (plus the matching writer for
fixtures), so those pipelines can run on their actual artifacts.

Scope: shape type 5 (Polygon; PolygonZ/M records are read as their XY
rings), one ``Polygon`` per ring. Shapefile winding (outer=CW,
hole=CCW) is surfaced on each part so callers can drop or handle holes;
``read_shapefile`` keeps outer rings only by default — TIGER boundary
files are overwhelmingly hole-free, and the first-containing-polygon
semantics of ``tag_zones`` would otherwise count hole interiors
as inside.

Scale posture: boundary tables are kilobytes-to-megabytes (52 states /
3.2k counties) and are parsed driver-side ONCE, then used exactly like
hand-built polygons. Over integral pixel coordinates ``tag_zones``
resolves each integer point of their joint bounding box on the driver
and ships one array literal (a plain Catalyst lookup, up to
``LATTICE_MAX_POINTS`` points); otherwise the polygons ride inside the
pandas-UDF closure. Either way there is no join, and the data side
stays fully distributed.
"""

from __future__ import annotations

import datetime as _dt
import struct
from typing import Any, Iterable

from shared_etl_pipelines_spark.operators.geo import Polygon

_SHP_POLYGON_TYPES = {5, 15, 25}  # Polygon, PolygonZ, PolygonM


def _ring_area2(ring: list[list[float]]) -> float:
    """Twice the signed area (shoelace); negative = clockwise = outer ring
    in shapefile convention."""
    s = 0.0
    n = len(ring)
    for i in range(n):
        x0, y0 = ring[i]
        x1, y1 = ring[(i + 1) % n]
        s += x0 * y1 - x1 * y0
    return s


def read_shp_rings(data: bytes) -> list[list[tuple[list[list[float]], bool]]]:
    """Parse .shp bytes -> per record, a list of ``(ring, is_outer)``.

    Rings are returned open (the shapefile's closing vertex, which
    duplicates the first, is dropped — ``operators.geo`` closes rings
    implicitly).
    """
    (code,) = struct.unpack_from(">i", data, 0)
    if code != 9994:
        raise ValueError(f"not a shapefile (file code {code})")
    (file_len_words,) = struct.unpack_from(">i", data, 24)
    end = file_len_words * 2
    records: list[list[tuple[list[list[float]], bool]]] = []
    off = 100
    while off < min(end, len(data)):
        _recno, content_words = struct.unpack_from(">ii", data, off)
        off += 8
        (shape_type,) = struct.unpack_from("<i", data, off)
        if shape_type == 0:  # null shape
            records.append([])
        elif shape_type in _SHP_POLYGON_TYPES:
            n_parts, n_points = struct.unpack_from("<ii", data, off + 36)
            parts = struct.unpack_from(f"<{n_parts}i", data, off + 44)
            pts_off = off + 44 + 4 * n_parts
            flat = struct.unpack_from(f"<{2 * n_points}d", data, pts_off)
            rings: list[tuple[list[list[float]], bool]] = []
            for p in range(n_parts):
                lo = parts[p]
                hi = parts[p + 1] if p + 1 < n_parts else n_points
                ring = [[flat[2 * i], flat[2 * i + 1]] for i in range(lo, hi)]
                if len(ring) > 1 and ring[0] == ring[-1]:
                    ring = ring[:-1]
                rings.append((ring, _ring_area2(ring) < 0))
            records.append(rings)
        else:
            raise ValueError(f"unsupported shape type {shape_type} (polygons only)")
        off += content_words * 2
    return records


def read_dbf(data: bytes) -> list[dict[str, Any]]:
    """Parse dBase III (.dbf) bytes -> list of attribute dicts.

    Field types: C -> str (trimmed), N/F -> int/float, L -> bool,
    D -> datetime.date. Deleted records ('*' flag) are skipped.
    """
    n_records, header_size, record_size = struct.unpack_from("<IHH", data, 4)
    fields = []
    off = 32
    while data[off] != 0x0D:
        name = data[off : off + 11].split(b"\0", 1)[0].decode("ascii")
        ftype = chr(data[off + 11])
        flen = data[off + 16]
        fdec = data[off + 17]
        fields.append((name, ftype, flen, fdec))
        off += 32
    out: list[dict[str, Any] | None] = []
    for r in range(n_records):
        base = header_size + r * record_size
        if chr(data[base]) == "*":
            # deleted record: keep a placeholder so attribute rows stay
            # index-aligned with the .shp geometry records (dropping it
            # would shift every later polygon onto the wrong attrs)
            out.append(None)
            continue
        rec: dict[str, Any] = {}
        pos = base + 1
        for name, ftype, flen, fdec in fields:
            raw = data[pos : pos + flen].decode("latin-1").strip()
            pos += flen
            if ftype in ("N", "F"):
                if raw == "":
                    rec[name] = None
                elif ftype == "N" and fdec == 0 and "." not in raw:
                    rec[name] = int(raw)
                else:
                    rec[name] = float(raw)
            elif ftype == "L":
                rec[name] = raw.upper() in ("T", "Y")
            elif ftype == "D":
                rec[name] = (
                    _dt.date(int(raw[:4]), int(raw[4:6]), int(raw[6:8])) if raw else None
                )
            else:
                rec[name] = raw
        out.append(rec)
    return out


def read_shapefile(
    shp_path: str,
    id_field: str | None = None,
    keep_holes: bool = False,
) -> list[Polygon]:
    """Read ``.shp`` + sidecar ``.dbf`` into ``operators.geo.Polygon``s.

    ``id_field`` names the attribute used as ``zone_id`` (the reference's
    ``county_id_field``/``key`` contract — GEOID, STUSPS, ...); defaults
    to the record index. Multi-part records yield one Polygon per outer
    ring, all sharing the record's zone_id and attrs.
    """
    with open(shp_path, "rb") as f:
        shp = f.read()
    dbf_path = shp_path[:-4] + ".dbf" if shp_path.lower().endswith(".shp") else None
    attrs_rows: list[dict[str, Any]] = []
    if dbf_path:
        try:
            with open(dbf_path, "rb") as f:
                attrs_rows = read_dbf(f.read())
        except FileNotFoundError:
            attrs_rows = []
    polys: list[Polygon] = []
    for idx, rings in enumerate(read_shp_rings(shp)):
        attrs = (attrs_rows[idx] or {}) if idx < len(attrs_rows) else {}
        zone = str(attrs.get(id_field, idx)) if id_field else str(idx)
        for ring, is_outer in rings:
            if not is_outer and not keep_holes:
                continue
            polys.append(Polygon(zone_id=zone, ring=ring, attrs=dict(attrs)))
    return polys


# ---------------------------------------------------------------------------
# Minimal writer — fixtures and round-trip tests (TIGER-shaped files
# without shipping TIGER data). Single outer ring per record, dBase III
# C/N fields.
# ---------------------------------------------------------------------------
def write_shapefile(
    base_path: str,
    polygons: Iterable[Polygon],
    fields: list[tuple[str, str, int, int]] | None = None,
) -> None:
    """Write ``<base_path>.shp`` + ``.dbf`` (+ trivial ``.shx``).

    ``fields``: (name, type, length, decimals) dBase descriptors; by
    default one C(32) field per attr key of the first polygon.
    """
    polys = list(polygons)
    if fields is None:
        keys = list(polys[0].attrs) if polys and polys[0].attrs else []
        fields = [(k, "C", 32, 0) for k in keys]

    shp_records = []
    shx_records = []
    for i, p in enumerate(polys):
        ring = list(p.ring)
        if ring and ring[0] != ring[-1]:
            ring = ring + [ring[0]]
        if _ring_area2(ring[:-1]) > 0:  # enforce CW outer winding
            ring = ring[::-1]
        xs = [pt[0] for pt in ring]
        ys = [pt[1] for pt in ring]
        content = struct.pack("<i", 5)
        content += struct.pack("<4d", min(xs), min(ys), max(xs), max(ys))
        content += struct.pack("<ii", 1, len(ring))
        content += struct.pack("<i", 0)
        for x, y in ring:
            content += struct.pack("<2d", x, y)
        shp_records.append((i + 1, content))

    total = 100 + sum(8 + len(c) for _, c in shp_records)
    all_x = [pt[0] for p in polys for pt in p.ring] or [0.0]
    all_y = [pt[1] for p in polys for pt in p.ring] or [0.0]

    def header(file_len_bytes: int) -> bytes:
        h = struct.pack(">i5i", 9994, 0, 0, 0, 0, 0)
        h += struct.pack(">i", file_len_bytes // 2)
        h += struct.pack("<ii", 1000, 5)
        h += struct.pack("<4d", min(all_x), min(all_y), max(all_x), max(all_y))
        h += struct.pack("<4d", 0.0, 0.0, 0.0, 0.0)
        return h

    with open(base_path + ".shp", "wb") as f:
        f.write(header(total))
        for recno, content in shp_records:
            f.write(struct.pack(">ii", recno, len(content) // 2))
            f.write(content)

    with open(base_path + ".shx", "wb") as f:
        f.write(header(100 + 8 * len(shp_records)))
        off_words = 50
        for _recno, content in shp_records:
            f.write(struct.pack(">ii", off_words, len(content) // 2))
            off_words += 4 + len(content) // 2

    record_size = 1 + sum(fl for _, _, fl, _ in fields)
    header_size = 32 + 32 * len(fields) + 1
    with open(base_path + ".dbf", "wb") as f:
        today = _dt.date.today()
        f.write(
            struct.pack(
                "<4BIHH20x",
                0x03, today.year - 1900, today.month, today.day,
                len(polys), header_size, record_size,
            )
        )
        for name, ftype, flen, fdec in fields:
            f.write(
                struct.pack(
                    "<11sc4xBB14x", name.encode("ascii"), ftype.encode("ascii"), flen, fdec
                )
            )
        f.write(b"\x0d")
        for p in polys:
            f.write(b" ")
            for name, ftype, flen, fdec in fields:
                v = p.attrs.get(name, "")
                if ftype == "N":
                    s = ("" if v is None else (f"{v:.{fdec}f}" if fdec else str(int(v)))).rjust(flen)
                else:
                    s = str(v).ljust(flen)
                f.write(s[:flen].encode("latin-1"))


# ----------------------------------------------------------------------
# WKB (Well-Known Binary, OGC SFA part 1 §8) — the geometry encoding
# GeoParquet mandates. 2-D subset: Point / LineString / Polygon /
# MultiPoint / MultiLineString / MultiPolygon, BOTH byte orders (the
# leading flag byte: 0 = big-endian, 1 = little-endian, honored per
# nested geometry header as the spec requires). Z/M flags and
# GeometryCollection refuse loudly.
# ----------------------------------------------------------------------

_WKB_NAMES = {
    1: "Point", 2: "LineString", 3: "Polygon",
    4: "MultiPoint", 5: "MultiLineString", 6: "MultiPolygon",
}


def parse_wkb(blob: bytes) -> dict:
    """Parse one WKB geometry. Returns ``{type, n_points, area,
    bbox}`` — area is the shoelace total over polygon exterior rings
    minus holes (0 for non-areal types)."""
    import struct as _struct

    def rd_geom(p: int) -> tuple[dict, int]:
        if p >= len(blob):
            raise ValueError("wkb: truncated — quarantine")
        order = blob[p]
        if order not in (0, 1):
            raise ValueError(f"wkb: bad byte-order flag {order}")
        e = "<" if order == 1 else ">"
        (gtype,) = _struct.unpack_from(e + "I", blob, p + 1)
        p += 5
        if gtype & 0xFFFFF000:
            raise ValueError(
                f"wkb: Z/M or SRID-flagged type 0x{gtype:08x} unsupported"
            )
        if gtype not in _WKB_NAMES:
            raise ValueError(f"wkb: geometry type {gtype} unsupported")

        def rd_points(n: int, q: int) -> tuple[list, int]:
            if q + 16 * n > len(blob):
                raise ValueError("wkb: coordinates overrun — quarantine")
            pts = [
                _struct.unpack_from(e + "2d", blob, q + 16 * i)
                for i in range(n)
            ]
            return pts, q + 16 * n

        pts: list = []
        area = 0.0
        if gtype == 1:
            pt, p = rd_points(1, p)
            pts += pt
        elif gtype == 2:
            (n,) = _struct.unpack_from(e + "I", blob, p)
            got, p = rd_points(n, p + 4)
            pts += got
        elif gtype == 3:
            (nr,) = _struct.unpack_from(e + "I", blob, p)
            p += 4
            for r in range(nr):
                (n,) = _struct.unpack_from(e + "I", blob, p)
                ring, p = rd_points(n, p + 4)
                pts += ring
                a2 = sum(
                    ring[i][0] * ring[(i + 1) % n][1]
                    - ring[(i + 1) % n][0] * ring[i][1]
                    for i in range(n)
                )
                # exterior ring contributes |area|; holes subtract
                area += abs(a2) / 2.0 if r == 0 else -abs(a2) / 2.0
        else:  # multi-types: each member is a full WKB geometry
            (n,) = _struct.unpack_from(e + "I", blob, p)
            p += 4
            for _ in range(n):
                sub, p = rd_geom(p)
                pts += sub["_pts"]
                area += sub["area"]
        return {
            "type": _WKB_NAMES[gtype],
            "n_points": len(pts),
            "area": area,
            "_pts": pts,
        }, p

    out, end = rd_geom(0)
    if end != len(blob):
        raise ValueError("wkb: trailing bytes — quarantine")
    xs = [pt[0] for pt in out["_pts"]]
    ys = [pt[1] for pt in out["_pts"]]
    out["bbox"] = (min(xs), min(ys), max(xs), max(ys)) if xs else None
    del out["_pts"]
    return out


def encode_wkb_point(x: float, y: float, little: bool = True) -> bytes:
    import struct as _struct

    e = "<" if little else ">"
    return bytes([1 if little else 0]) + _struct.pack(e + "I2d", 1, x, y)


def encode_wkb_linestring(pts: list, little: bool = True) -> bytes:
    import struct as _struct

    e = "<" if little else ">"
    out = bytes([1 if little else 0]) + _struct.pack(e + "II", 2, len(pts))
    for x, y in pts:
        out += _struct.pack(e + "2d", x, y)
    return out


def encode_wkb_polygon(rings: list, little: bool = True) -> bytes:
    import struct as _struct

    e = "<" if little else ">"
    out = bytes([1 if little else 0]) + _struct.pack(e + "II", 3, len(rings))
    for ring in rings:
        out += _struct.pack(e + "I", len(ring))
        for x, y in ring:
            out += _struct.pack(e + "2d", x, y)
    return out
