"""Expected query results, computed from the generated inputs with numpy and
plain Python only -- no code of the program under test.

Geometry semantics follow the OGC/PostGIS definitions the program
implements: ``contains(polygon, point)`` is true for interior points
(boundary excluded; random doubles never land on a boundary), and an
envelope is the XY bounding box as a closed 5-vertex polygon.
"""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np

# ---------------------------------------------------------------------------
# spatial: point-in-zone join


class PipOracle:
    """Point-in-zone counts by brute force over each zone's bbox candidates."""

    def __init__(self, zones, pts: np.ndarray) -> None:
        order = np.argsort(pts[:, 0], kind="stable")
        self.xs = pts[order, 0]
        self.ys = pts[order, 1]
        self.parts = []  # (zid, rings as (n, 2) arrays, bbox)
        for zid, parts in zones:
            for rings in parts:
                outer = rings[0]
                bbox = (outer[:, 0].min(), outer[:, 1].min(),
                        outer[:, 0].max(), outer[:, 1].max())
                self.parts.append((zid, rings, bbox))
        self._contains: dict[int, int] | None = None

    def _candidates(self, bbox):
        lo = np.searchsorted(self.xs, bbox[0], "left")
        hi = np.searchsorted(self.xs, bbox[2], "right")
        x, y = self.xs[lo:hi], self.ys[lo:hi]
        keep = (y >= bbox[1]) & (y <= bbox[3])
        return x[keep], y[keep]

    @staticmethod
    def _inside(rings, x, y) -> np.ndarray:
        """Even-odd ray casting over all rings (holes included)."""
        odd = np.zeros(len(x), dtype=bool)
        for ring in rings:
            ax, ay = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
            bx, by = ring[1:, 0][None, :], ring[1:, 1][None, :]
            px, py = x[:, None], y[:, None]
            straddle = (ay > py) != (by > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                xcross = ax + (py - ay) * (bx - ax) / (by - ay)
            odd ^= (np.count_nonzero(straddle & (px < xcross), axis=1) % 2) == 1
        return odd

    def contains_counts(self) -> dict[int, int]:
        if self._contains is None:
            out: dict[int, int] = defaultdict(int)
            for zid, rings, bbox in self.parts:
                x, y = self._candidates(bbox)
                if len(x):
                    out[zid] += int(self._inside(rings, x, y).sum())
            self._contains = {k: v for k, v in out.items() if v}
        return self._contains


# ---------------------------------------------------------------------------
# spatial: GeoParquet SQL


def _fmt(v: float) -> str:
    """DuckDB/PostGIS WKT number format: fixed 8 decimals, trailing zeros
    and a bare trailing dot trimmed."""
    return f"{v:.8f}".rstrip("0").rstrip(".")


def envelope_wkt(bbox) -> str | None:
    if bbox is None:
        return "POLYGON EMPTY"
    x0, y0, x1, y1 = (_fmt(v) for v in bbox)
    return f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"


class SqlOracle:
    """Expected answers for the SQL shapes over each table, plus the
    covering-window count. Tables are dicts of id -> (kind, bbox) where kind
    is None for NULL rows and bbox is None for NULL/EMPTY rows."""

    def __init__(self, rows, polys) -> None:
        self.tables = {
            "wkb": {r[0]: (None if r[1] is None else "ST_" + r[2] + ("Z" if r[3] else ""), r[4])
                    for r in rows},
            "native": {},
        }
        for i, p in enumerate(polys):
            bbox = None
            if p:
                c = np.vstack(p)
                bbox = (c[:, 0].min(), c[:, 1].min(), c[:, 0].max(), c[:, 1].max())
            self.tables["native"][i] = (None if p is None else "ST_Polygon", bbox)

    def envelopes(self, table: str) -> dict:
        return {i: (None if kind is None else envelope_wkt(bbox))
                for i, (kind, bbox) in self.tables[table].items()}

    def summary(self, table: str) -> dict:
        """{geometry type: (rows, extent of its non-empty rows or None)}"""
        out: dict = {}
        for kind, b in self.tables[table].values():
            n, e = out.get(kind, (0, None))
            if b is not None:
                e = b if e is None else (min(e[0], b[0]), min(e[1], b[1]),
                                         max(e[2], b[2]), max(e[3], b[3]))
            out[kind] = (n + 1, e)
        return out

    def window_count(self, window) -> int:
        wx0, wy0, wx1, wy1 = window
        return sum(
            1 for _, b in self.tables["wkb"].values()
            if b is not None and b[0] <= wx1 and b[2] >= wx0 and b[1] <= wy1 and b[3] >= wy0
        )


# ---------------------------------------------------------------------------
# corpus_dedup


_PUNCT = set(".!?,;:")


def text_stats(doc: str) -> tuple[int, float]:
    """(whitespace token count, quality score) per the documented formula:
    0.4 min(tokens/100, 1) + 0.4 distinct-lowercase-words/tokens
    + 0.2 (1 - min(4 punct_ratio, 1))."""
    words = doc.split()
    n = len(words)
    punct = sum(ch in _PUNCT for ch in doc) / len(doc) if doc else 0.0
    distinct = len({w.lower() for w in words}) / n
    q = 0.4 * min(n / 100.0, 1.0) + 0.4 * distinct + 0.2 * (1.0 - min(4.0 * punct, 1.0))
    return n, q


def shingles(doc: str, k: int = 3) -> frozenset:
    w = doc.split()
    if len(w) <= k:
        return frozenset([" ".join(w)])
    return frozenset(" ".join(w[i:i + k]) for i in range(len(w) - k + 1))


def similar_pairs(docs: list[str], threshold: float) -> dict[tuple[int, int], float]:
    """Every pair with word-3-shingle Jaccard >= ``threshold``: an exact
    all-pairs similarity join with prefix filtering (two sets reach the
    threshold only if they share one of the rarest
    ``|A| - ceil(threshold |A|) + 1`` elements of each)."""
    sets = [shingles(d) for d in docs]
    freq: dict[str, int] = defaultdict(int)
    for s in sets:
        for sh in s:
            freq[sh] += 1
    index: dict[str, list[int]] = defaultdict(list)
    cands: set[tuple[int, int]] = set()
    for i, s in enumerate(sets):
        ordered = sorted(s, key=lambda sh: (freq[sh], sh))
        prefix = ordered[: len(ordered) - math.ceil(threshold * len(ordered)) + 1]
        for sh in prefix:
            for j in index[sh]:
                cands.add((j, i))
            index[sh].append(i)
    out = {}
    for a, b in cands:
        sa, sb = sets[a], sets[b]
        j = len(sa & sb) / len(sa | sb)
        if j >= threshold:
            out[(a, b)] = j
    return out


def components(pairs) -> dict[int, int]:
    """{node: smallest node id of its connected component}."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def cosine_topk(emb: np.ndarray, query: np.ndarray, k: int):
    """[(id, score)] of the k most cosine-similar rows, ties by id."""
    scores = (emb @ query) / (np.linalg.norm(emb, axis=1) * np.linalg.norm(query))
    order = np.lexsort((np.arange(len(scores)), -scores))[:k]
    return [(int(i), float(scores[i])) for i in order]
