#!/usr/bin/env python3
"""Rebuild the vendored reference fixtures: three encodings of one small
table per geometry class, the content the spatial specs read.

Per class G in {point, linestring, polygon, multipoint, multilinestring,
multipolygon} it writes, with identical logical rows `(col: int64, geometry)`:

  data-<g>-wkt.csv                 WKT strings (header row, quoted strings,
                                   null = empty field)
  data-<g>-encoding_wkb.parquet    ISO WKB (little-endian) `binary` column
  data-<g>-encoding_native.parquet GeoArrow-native nested column with
                                   separated `struct<x, y>` coordinates

Each parquet file carries the GeoParquet `geo` key-value document
  {"version":"1.1.0","primary_column":"geometry",
   "columns":{"geometry":{"encoding":"WKB"|"<g>","geometry_types":["<G>"]}}}

The schemas, `geo` documents, EMPTY encodings (native POINT EMPTY is
`(NaN, NaN)`, WKB POINT EMPTY is a point with NaN ordinates, every other
EMPTY is a zero-length list) and the point and linestring rows follow
FIXTURES.md §1. For the other four classes FIXTURES.md gives only the row
shapes (part and ring counts, a hole, an EMPTY, a null); their coordinates
are the Wikipedia WKT examples
(https://en.wikipedia.org/wiki/Well-known_text_representation_of_geometry),
a one-part multi taking the first part of the two-part example. They are
not claimed to be coordinate-identical to the reference's own files.

The WKT and WKB encoders below are self-contained: nothing here imports
the Scala code under test, so the fixtures check it independently.

Usage: python3 tools/gen_reference_fixtures.py [out_dir]
       (default: src/test/resources/graft/reference_data)
"""
import json
import math
import os
import struct
import sys

import pyarrow as pa
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

OUT = sys.argv[1] if len(sys.argv) > 1 else "src/test/resources/graft/reference_data"

EMPTY = "EMPTY"  # row marker; None is a null row

# Rows per class, as plain coordinates: point = (x, y); linestring /
# multipoint = [point]; polygon / multilinestring = [[point]];
# multipolygon = [[[point]]].
ROWS = {
    "point": [(30, 10), EMPTY, None, (40, 40)],
    "linestring": [[(30, 10), (10, 30), (40, 40)], EMPTY, None],
    "polygon": [
        [[(30, 10), (40, 40), (20, 40), (10, 20), (30, 10)]],
        [[(35, 10), (45, 45), (15, 40), (10, 20), (35, 10)],
         [(20, 30), (35, 35), (30, 20), (20, 30)]],
        EMPTY, None],
    "multipoint": [
        [(10, 40)],
        [(10, 40), (40, 30), (20, 20), (30, 10)],
        EMPTY, None],
    "multilinestring": [
        [[(10, 10), (20, 20), (10, 40)]],
        [[(10, 10), (20, 20), (10, 40)], [(40, 40), (30, 30), (40, 20), (30, 10)]],
        EMPTY, None],
    "multipolygon": [
        [[[(30, 20), (45, 40), (10, 40), (30, 20)]]],
        [[[(30, 20), (45, 40), (10, 40), (30, 20)]],
         [[(15, 5), (40, 10), (10, 20), (5, 10), (15, 5)]]],
        [[[(40, 40), (20, 45), (45, 30), (40, 40)]],
         [[(20, 35), (10, 30), (10, 10), (30, 5), (45, 20), (20, 35)],
          [(30, 20), (20, 15), (20, 25), (30, 20)]]],
        EMPTY, None],
}

TYPE_NAME = {
    "point": "Point", "linestring": "LineString", "polygon": "Polygon",
    "multipoint": "MultiPoint", "multilinestring": "MultiLineString",
    "multipolygon": "MultiPolygon",
}

# ---------------------------------------------------------------- WKT


def _num(v):
    s = repr(float(v))
    return s[:-2] if s.endswith(".0") else s


def _pt(p):
    return f"{_num(p[0])} {_num(p[1])}"


def _seq(pts):
    return "(" + ", ".join(_pt(p) for p in pts) + ")"


def _poly(rings):
    return "(" + ", ".join(_seq(r) for r in rings) + ")"


def wkt(cls, g):
    if g is None:
        return None
    tag = cls.upper()
    if g is EMPTY:
        return f"{tag} EMPTY"
    body = {
        "point": lambda: "(" + _pt(g) + ")",
        "linestring": lambda: _seq(g),
        "polygon": lambda: _poly(g),
        "multipoint": lambda: "(" + ", ".join("(" + _pt(p) + ")" for p in g) + ")",
        "multilinestring": lambda: _poly(g),
        "multipolygon": lambda: "(" + ", ".join(_poly(p) for p in g) + ")",
    }[cls]()
    return f"{tag} {body}"

# ---------------------------------------------------------------- WKB (ISO, NDR)

WKB_CODE = {"point": 1, "linestring": 2, "polygon": 3, "multipoint": 4,
            "multilinestring": 5, "multipolygon": 6}
PART_CLASS = {"multipoint": "point", "multilinestring": "linestring",
              "multipolygon": "polygon"}


def _hdr(cls):
    return struct.pack("<BI", 1, WKB_CODE[cls])


def _coords(pts):
    return struct.pack("<I", len(pts)) + b"".join(struct.pack("<dd", *p) for p in pts)


def wkb(cls, g):
    if g is None:
        return None
    if cls == "point":
        xy = (math.nan, math.nan) if g is EMPTY else g
        return _hdr(cls) + struct.pack("<dd", *xy)
    parts = [] if g is EMPTY else g
    if cls == "linestring":
        return _hdr(cls) + _coords(parts)
    if cls == "polygon":
        return _hdr(cls) + struct.pack("<I", len(parts)) + b"".join(_coords(r) for r in parts)
    return (_hdr(cls) + struct.pack("<I", len(parts))
            + b"".join(wkb(PART_CLASS[cls], p) for p in parts))

# ---------------------------------------------------------------- GeoArrow native

COORD = pa.struct([pa.field("x", pa.float64(), nullable=False),
                   pa.field("y", pa.float64(), nullable=False)])
NATIVE_TYPE = {
    "point": COORD,
    "linestring": pa.list_(pa.field("item", COORD, nullable=False)),
    "polygon": pa.list_(pa.list_(COORD)),
    "multipoint": pa.list_(COORD),
    "multilinestring": pa.list_(pa.list_(COORD)),
    "multipolygon": pa.list_(pa.list_(pa.list_(COORD))),
}
DEPTH = {"point": 0, "linestring": 1, "multipoint": 1, "polygon": 2,
         "multilinestring": 2, "multipolygon": 3}


def _nest(v, depth):
    if depth == 0:
        return {"x": float(v[0]), "y": float(v[1])}
    return [_nest(c, depth - 1) for c in v]


def native(cls, g):
    if g is None:
        return None
    if g is EMPTY:
        return {"x": math.nan, "y": math.nan} if cls == "point" else []
    return _nest(g, DEPTH[cls])

# ---------------------------------------------------------------- files


def geo_doc(encoding, cls):
    return json.dumps({
        "version": "1.1.0", "primary_column": "geometry",
        "columns": {"geometry": {"encoding": encoding,
                                 "geometry_types": [TYPE_NAME[cls]]}},
    }, separators=(",", ":"))


def write_parquet(path, ids, geom_type, values, geo):
    schema = pa.schema([pa.field("col", pa.int64()), pa.field("geometry", geom_type)],
                       metadata={"geo": geo})
    table = pa.table({"col": pa.array(ids, pa.int64()),
                      "geometry": pa.array(values, geom_type)}, schema=schema)
    pq.write_table(table, path)


def main():
    os.makedirs(OUT, exist_ok=True)
    for cls, rows in ROWS.items():
        ids = list(range(len(rows)))
        base = os.path.join(OUT, f"data-{cls}")
        csv = pa.table({"col": pa.array(ids, pa.int64()),
                        "geometry": pa.array([wkt(cls, g) for g in rows], pa.string())})
        pcsv.write_csv(csv, base + "-wkt.csv")
        write_parquet(base + "-encoding_wkb.parquet", ids, pa.binary(),
                      [wkb(cls, g) for g in rows], geo_doc("WKB", cls))
        write_parquet(base + "-encoding_native.parquet", ids, NATIVE_TYPE[cls],
                      [native(cls, g) for g in rows], geo_doc(cls, cls))
    print(f"wrote {3 * len(ROWS)} files to {OUT}")


if __name__ == "__main__":
    main()
