"""Seeded input generators for the three benchmark workloads.

Everything here is plain numpy / pyarrow: the program under test only ever
sees the files these functions write. Each generator also returns the plain
Python description of its data that :mod:`oracle` computes the expected
query results from, and an ``info`` dict of the properties the costs depend
on (sizes, vertex-count distribution, hot-cell share, ...), which the run
record reports.
"""

from __future__ import annotations

import json
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# WKB encoding (ISO, little endian) -- the benchmark's own, independent of
# the program's codec

_WKB_CODES = {
    "Point": 1, "LineString": 2, "Polygon": 3, "MultiPoint": 4,
    "MultiLineString": 5, "MultiPolygon": 6, "GeometryCollection": 7,
}


def _hdr(tname: str, z: bool) -> bytes:
    return struct.pack("<BI", 1, _WKB_CODES[tname] + (1000 if z else 0))


def _seq(coords: np.ndarray) -> bytes:
    return struct.pack("<I", len(coords)) + np.ascontiguousarray(
        coords, dtype="<f8"
    ).tobytes()


def wkb_polygon(rings: list[np.ndarray]) -> bytes:
    return _hdr("Polygon", False) + struct.pack("<I", len(rings)) + b"".join(
        _seq(r) for r in rings
    )


def wkb_multipolygon(polys: list[list[np.ndarray]]) -> bytes:
    return _hdr("MultiPolygon", False) + struct.pack("<I", len(polys)) + b"".join(
        wkb_polygon(p) for p in polys
    )


def wkb_points(x: np.ndarray, y: np.ndarray) -> pa.Array:
    """Vectorized 2-D point WKB (21 bytes per row) as an Arrow binary array."""
    rec = np.empty(len(x), dtype=[("bo", "u1"), ("t", "<u4"), ("x", "<f8"), ("y", "<f8")])
    rec["bo"], rec["t"], rec["x"], rec["y"] = 1, 1, x, y
    offsets = np.arange(len(x) + 1, dtype=np.int32) * 21
    return pa.Array.from_buffers(
        pa.binary(), len(x), [None, pa.py_buffer(offsets), pa.py_buffer(rec.tobytes())]
    )


# ---------------------------------------------------------------------------
# spatial, point-in-zone join: zones (Polygon / MultiPolygon, 4..256
# vertices, some holes) and points clustered around hot centres over a
# uniform background

PIP_EXTENT = 100.0


def _star_ring(rng, cx, cy, r, n):
    """Simple closed ring: ``n`` vertices at jittered, increasing angles
    around (cx, cy) with radii in [0.6r, r] -- star-shaped, so never
    self-crossing. Angular gaps stay below 1.6 * 2pi/n, so for n >= 8 the
    ring contains the disc of radius 0.6r cos(0.2pi) = 0.485r. Counter-
    clockwise; first vertex repeated at the end."""
    ang = (np.arange(n) + rng.uniform(-0.3, 0.3, n)) * (2 * np.pi / n)
    rad = r * rng.uniform(0.6, 1.0, n)
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def pip_inputs(rng: np.random.Generator, n_zones: int, n_points: int, n_hot: int):
    zones = []  # list of (zid, parts); parts = list of rings lists
    vertex_counts = []
    n_multi = n_holes = 0
    for zid in range(n_zones):
        n_parts = 1 if rng.random() < 0.8 else int(rng.integers(2, 4))
        n_multi += n_parts > 1
        base = rng.uniform(3.0, PIP_EXTENT - 3.0, 2)
        r = rng.uniform(0.4, 1.6)
        parts = []
        for p in range(n_parts):
            # parts sit on a circle 3.2r apart from each other: disjoint
            cx = base[0] + (3.2 * r * np.cos(2.1 * p) if p else 0.0)
            cy = base[1] + (3.2 * r * np.sin(2.1 * p) if p else 0.0)
            nv = int(np.exp(rng.uniform(np.log(4), np.log(256))))
            rings = [_star_ring(rng, cx, cy, r, nv)]
            if nv >= 8 and rng.random() < 0.3:
                # hole: clockwise ring inside the outer ring's 0.485r disc
                hole = _star_ring(rng, cx, cy, 0.4 * r, max(4, nv // 4))[::-1]
                rings.append(hole)
                n_holes += 1
            vertex_counts.append(sum(len(rg) - 1 for rg in rings))
            parts.append(rings)
        zones.append((zid, parts))
    hot = rng.uniform(10.0, PIP_EXTENT - 10.0, (n_hot, 2))
    n_clustered = n_points * 2 // 5
    which = rng.integers(0, n_hot, n_clustered)
    cxy = hot[which] + rng.normal(0.0, 1.5, (n_clustered, 2))
    uxy = rng.uniform(0.0, PIP_EXTENT, (n_points - n_clustered, 2))
    pts = np.clip(np.vstack([cxy, uxy]), 0.0, PIP_EXTENT)
    pts = pts[rng.permutation(n_points)]
    vc = np.asarray(vertex_counts)
    # share of points in the 1x1 cells holding the most points (the 1 %
    # hottest cells): what the cell-id shuffle's skew depends on
    cell = np.floor(pts[:, 0]).astype(int) * 1000 + np.floor(pts[:, 1]).astype(int)
    counts = np.sort(np.bincount(np.unique(cell, return_inverse=True)[1]))[::-1]
    top = max(1, int(round(0.01 * (PIP_EXTENT ** 2))))
    info = {
        "zones": n_zones,
        "points": n_points,
        "zone_multipolygon_share": round(n_multi / n_zones, 4),
        "zone_parts_with_hole_share": round(n_holes / len(vc), 4),
        "vertex_count": {q: int(np.percentile(vc, p)) for q, p in
                         (("min", 0), ("p50", 50), ("p90", 90), ("max", 100))},
        "hot_centres": n_hot,
        "points_clustered_share": round(n_clustered / n_points, 4),
        "points_in_hottest_1pct_cells_share": round(counts[:top].sum() / n_points, 4),
        "encoding": "WKB (zones and points)",
    }
    return zones, pts, info


def write_geoparquet_dir(table: pa.Table, path: str, column: dict, n_files: int) -> None:
    """GeoParquet 1.1 dataset: ``n_files`` parquet files, each carrying the
    ``geo`` footer for the ``geom`` column described by ``column``."""
    geo = json.dumps({"version": "1.1.0", "primary_column": "geom",
                      "columns": {"geom": column}}).encode()
    table = table.replace_schema_metadata({b"geo": geo})
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))


def write_pip(zones, pts, zone_path: str, point_path: str, n_files: int) -> None:
    zwkb = [
        wkb_polygon(parts[0]) if len(parts) == 1 else wkb_multipolygon(parts)
        for _, parts in zones
    ]
    write_geoparquet_dir(
        pa.table({"zid": pa.array([z for z, _ in zones], pa.int64()),
                  "geom": pa.array(zwkb, pa.binary())}),
        zone_path, {"encoding": "WKB", "geometry_types": ["Polygon", "MultiPolygon"]},
        n_files,
    )
    write_geoparquet_dir(
        pa.table({"pid": pa.array(np.arange(len(pts)), pa.int64()),
                  "geom": wkb_points(pts[:, 0], pts[:, 1])}),
        point_path, {"encoding": "WKB", "geometry_types": ["Point"]}, n_files,
    )


# ---------------------------------------------------------------------------
# spatial, GeoParquet SQL: WKT over all seven 2-D types plus Z types, with
# NULL and EMPTY rows (about 1 in 5), coordinates on a 1/8 grid

SQL_TYPES = ("Point", "LineString", "Polygon", "MultiPoint",
             "MultiLineString", "MultiPolygon", "GeometryCollection")
_Z_TYPES = ("Point", "LineString", "Polygon")


def _q8(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size) * 8.0) / 8.0


def _fmt(v: float) -> str:
    return f"{v:.8f}".rstrip("0").rstrip(".")


def _geom(rng, tname: str, z: bool):
    """(wkt body, xy coordinate array) for one random geometry."""
    ox, oy = _q8(rng, 0.0, 990.0, 2)

    def seq(n, closed=False):
        c = np.column_stack([ox + _q8(rng, 0, 8, n), oy + _q8(rng, 0, 8, n)])
        if closed:
            c = np.vstack([c, c[:1]])
        return c

    def txt(c):
        if z:
            zs = _q8(rng, -50, 50, len(c))
            return ", ".join(f"{_fmt(a)} {_fmt(b)} {_fmt(h)}" for (a, b), h in zip(c, zs))
        return ", ".join(f"{_fmt(a)} {_fmt(b)}" for a, b in c)

    if tname == "Point":
        c = seq(1)
        return f"({txt(c)})", c
    if tname == "LineString":
        c = seq(int(rng.integers(2, 9)))
        return f"({txt(c)})", c
    if tname == "Polygon":
        rings = [seq(int(rng.integers(3, 9)), closed=True)]
        if rng.random() < 0.3:
            rings.append(seq(3, closed=True))
        return "(" + ", ".join(f"({txt(r)})" for r in rings) + ")", np.vstack(rings)
    if tname == "MultiPoint":
        c = seq(int(rng.integers(1, 6)))
        return "(" + ", ".join(f"({txt(p[None])})" for p in c) + ")", c
    if tname == "MultiLineString":
        lines = [seq(int(rng.integers(2, 6))) for _ in range(int(rng.integers(1, 4)))]
        return "(" + ", ".join(f"({txt(ln)})" for ln in lines) + ")", np.vstack(lines)
    if tname == "MultiPolygon":
        polys = [seq(int(rng.integers(3, 7)), closed=True) for _ in range(int(rng.integers(1, 4)))]
        return "(" + ", ".join(f"(({txt(p)}))" for p in polys) + ")", np.vstack(polys)
    # GeometryCollection of a point and a line string
    p, ln = seq(1), seq(int(rng.integers(2, 5)))
    return f"(POINT ({txt(p)}), LINESTRING ({txt(ln)}))", np.vstack([p, ln])


def _wkt_tag(tname: str, z: bool) -> str:
    return tname.upper() + (" Z" if z else "")


def sql_inputs(rng: np.random.Generator, n_rows: int, n_native: int):
    """Mixed WKT rows plus a native-encoded Polygon table. Each row of
    ``rows`` is (id, wkt or None, type name, has_z, bbox or None)."""
    rows = []
    n_null = n_empty = n_z = 0
    for i in range(n_rows):
        u = rng.random()
        tname = SQL_TYPES[int(rng.integers(0, len(SQL_TYPES)))]
        if u < 0.1:
            rows.append((i, None, None, False, None))
            n_null += 1
            continue
        z = tname in _Z_TYPES and rng.random() < 0.15
        n_z += z
        if u < 0.2:
            rows.append((i, f"{_wkt_tag(tname, z)} EMPTY", tname, z, None))
            n_empty += 1
            continue
        body, c = _geom(rng, tname, z)
        bbox = (c[:, 0].min(), c[:, 1].min(), c[:, 0].max(), c[:, 1].max())
        rows.append((i, f"{_wkt_tag(tname, z)} {body}", tname, z, bbox))

    polys = []
    for i in range(n_native):
        u = rng.random()
        if u < 0.1:
            polys.append(None)
        elif u < 0.2:
            polys.append([])
        else:
            n = int(rng.integers(3, 9))
            ox, oy = _q8(rng, 0.0, 990.0, 2)
            ring = np.column_stack([ox + _q8(rng, 0, 8, n), oy + _q8(rng, 0, 8, n)])
            rings = [np.vstack([ring, ring[:1]])]
            if rng.random() < 0.3:
                h = np.column_stack([ox + _q8(rng, 0, 8, 3), oy + _q8(rng, 0, 8, 3)])
                rings.append(np.vstack([h, h[:1]]))
            polys.append(rings)
    types = [r[2] for r in rows if r[1] is not None]
    info = {
        "wkt_rows": n_rows,
        "null_share": round(n_null / n_rows, 4),
        "empty_share": round(n_empty / n_rows, 4),
        "z_share": round(n_z / n_rows, 4),
        "type_counts": {t: types.count(t) for t in SQL_TYPES},
        "native_polygon_rows": n_native,
        "native_null_share": round(sum(p is None for p in polys) / n_native, 4),
        "native_empty_share": round(sum(p == [] for p in polys) / n_native, 4),
        "encoding_mix": "WKB (all seven types, written every pass) + a native "
                        "Polygon table (written in set-up)",
    }
    return rows, polys, info


_XY = pa.struct([("x", pa.float64()), ("y", pa.float64())])


def write_sql(rows, polys, wkt_path, native_path, n_files: int) -> None:
    pq.write_table(
        pa.table({
            "id": pa.array([r[0] for r in rows], pa.int64()),
            "wkt": pa.array([r[1] for r in rows], pa.string()),
        }),
        wkt_path,
    )
    ring_t = pa.list_(pa.field("element", _XY, nullable=False))
    poly_t = pa.list_(pa.field("element", ring_t, nullable=False))
    write_geoparquet_dir(
        pa.table({
            "id": pa.array(np.arange(len(polys)), pa.int64()),
            "geom": pa.array(
                [None if p is None else [[{"x": float(a), "y": float(b)} for a, b in r] for r in p]
                 for p in polys], poly_t),
        }),
        native_path, {"encoding": "polygon", "geometry_types": ["Polygon"]}, n_files,
    )


# ---------------------------------------------------------------------------
# corpus_dedup: documents with planted near-duplicate clusters, plus
# embeddings

_STOP = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]
_SYLL = ["ka", "lo", "mi", "ne", "ru", "ta", "zo", "be", "xi", "po", "qu", "se"]


def corpus_inputs(rng: np.random.Generator, n_docs: int, dims: int, dup_share: float):
    vocab = np.array(sorted({
        "".join(rng.choice(_SYLL, int(rng.integers(2, 5)))) for _ in range(6000)
    }))
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    zipf /= zipf.sum()
    docs: list[str] = []
    sources: list[int] = []  # planted source doc id, or -1
    n_orig = int(n_docs * (1.0 - dup_share))
    for _ in range(n_orig):
        n = int(rng.integers(30, 140))
        ws = list(rng.choice(vocab, n, p=zipf))
        for pos in rng.integers(0, n, n // 6):
            ws[pos] = _STOP[int(rng.integers(0, len(_STOP)))]
        txt = " ".join(ws)
        if rng.random() < 0.5:
            txt += rng.choice([".", "!", "?"])
        docs.append(txt)
        sources.append(-1)
    n_variant = 0
    while len(docs) < n_docs:
        src = int(rng.integers(0, n_orig))
        ws = docs[src].split()
        if rng.random() < 0.5:
            # whitespace variant: identical shingles
            txt = "  ".join(ws) if rng.random() < 0.5 else " " + " ".join(ws) + "  "
            n_variant += 1
        else:
            # one or two word substitutions
            for pos in rng.integers(0, len(ws), int(rng.integers(1, 3))):
                ws[pos] = str(rng.choice(vocab))
            txt = " ".join(ws)
        docs.append(txt)
        sources.append(src)
    emb = rng.normal(0.0, 1.0, (n_docs, dims))
    for i, s in enumerate(sources):
        if s >= 0:
            emb[i] = emb[s] + rng.normal(0.0, 0.05, dims)
    emb = emb.astype(np.float32).astype(np.float64)
    info = {
        "documents": n_docs,
        "planted_duplicate_share": round((n_docs - n_orig) / n_docs, 4),
        "whitespace_variant_share_of_duplicates": round(
            n_variant / max(1, n_docs - n_orig), 4),
        "words_per_doc": {"min": 30, "max": 139},
        "vocabulary": int(len(vocab)),
        "embedding_dims": dims,
    }
    return docs, emb, info


def write_corpus(docs, emb, path: str) -> None:
    pq.write_table(
        pa.table({
            "id": pa.array(np.arange(len(docs)), pa.int64()),
            "text": pa.array(docs, pa.string()),
            "emb": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        }),
        path, row_group_size=4096,
    )
