"""The workloads: seeded set-up and a fixed query mix each.

Every workload reaches the program only through its public functions. A
query is run by the closed loop in :mod:`run`; its result is checked
against :mod:`oracle` after the timed run, so checking costs no measured
time.
"""

from __future__ import annotations

import functools
import glob
import json
import os
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pyarrow.parquet as pq

import inputs
import oracle


@dataclass
class Query:
    kind: str
    rows: int  # input rows (geometries or documents) the query consumes
    run: Callable[[], Any]  # executes the query, returns its raw result
    check: Callable[[Any], bool]
    # DataFrames whose executed plans hold the query's row/byte metrics
    frames: list = field(default_factory=list)


def _collect(q: Query, df):
    q.frames.append(df)
    return df.collect()


class Workload:
    name = ""
    mix: tuple[str, ...] = ()
    # untimed passes before the timed run: the first is cold, and the JIT
    # keeps speeding up the next ones
    warmup_passes = 1
    # timed passes at least; a minimum that outlasts ``--seconds`` keeps
    # the number of samples of each kind, and so the estimators below, the
    # same from run to run and from host state to host state
    min_passes = 2
    # A run holds two or three passes of the mix, too few for a percentile
    # with ten samples beyond it. The tail is read in the middle of the
    # slowest kind's share of the samples: p90 for a five-query mix.
    tail_pct = 90

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        # query parameters come from their own stream of the seed, so the
        # number of queries a run makes never shifts the inputs
        self.params = np.random.default_rng([ctx.seed, 1])

    def path(self, name: str) -> str:
        return os.path.join(self.ctx.data_dir, name)

    def query(self, i: int) -> Query:
        kind = self.mix[i % len(self.mix)]
        return getattr(self, "q_" + kind.split(":")[0])(i, kind)


# ---------------------------------------------------------------------------


class Spatial(Workload):
    """ST_* SQL over WKB and native GeoParquet with a WKT -> WKB GeoParquet
    write each pass, a covering-window read, and a point-in-zone join of
    WKB zones and points."""

    name = "spatial"
    # envelopes twice: sorted by latency the kinds are window < summary <
    # envelopes < write < contains, so the median falls in the middle of
    # the envelopes share, with two samples of it per pass, and p95 on the
    # middle sample of the contains share
    mix = ("write", "envelopes:wkb", "summary:native", "window", "contains",
           "envelopes:wkb")
    tail_pct = 95
    # the second warm-up pass also writes the other of the two WKB paths
    warmup_passes = 2
    # per-query latencies swing with the shared host from one ten-second
    # stretch to the next; a third pass averages over more of them
    min_passes = 3
    N_ZONES, N_POINTS, N_HOT = 100, 10_000, 16
    CELL = 1.5
    N_ROWS, N_NATIVE = 6_000, 6_000

    SQL = {
        "envelopes": "SELECT id, ST_AsText(ST_Envelope(geom)) AS e FROM {v}",
        "summary": "SELECT ST_GeometryType(geom) AS t, count(*) AS n, "
                   "ST_Extent(geom) AS e FROM {v} GROUP BY ST_GeometryType(geom)",
    }

    def setup(self) -> dict:
        from datafusion_spatial_spark.meta import GeometryMeta
        from datafusion_spatial_spark.plans.sql import SpatialSQL
        from datafusion_spatial_spark.sources import geoparquet as gp

        rng = np.random.default_rng([self.ctx.seed, 0])
        zones, pts, pip_info = inputs.pip_inputs(rng, self.N_ZONES, self.N_POINTS, self.N_HOT)
        rows, polys, sql_info = inputs.sql_inputs(rng, self.N_ROWS, self.N_NATIVE)
        # static inputs are written as GeoParquet here, one file per core
        # (a multi-file dataset, so scans and the join refine run in
        # parallel); the program's writer runs in the timed mix
        n_files = self.ctx.nproc
        inputs.write_pip(zones, pts, self.path("zones"), self.path("points"), n_files)
        inputs.write_sql(rows, polys, self.path("wkt.parquet"), self.path("native"), n_files)
        spark = self.ctx.spark
        self.zmeta = GeometryMeta("WKB", ("Polygon", "MultiPolygon"))
        self.pmeta = GeometryMeta("WKB", ("Point",))
        self.wkb_meta = GeometryMeta("WKB")
        self.zones = gp.read_geoparquet(spark, self.path("zones"))
        self.points = gp.read_geoparquet(spark, self.path("points"))
        self.ssql = SpatialSQL(spark)
        self.ssql.register_geoparquet("native", self.path("native"))
        self.wkt = spark.read.parquet(self.path("wkt.parquet"))
        self.pip = oracle.PipOracle(zones, pts)
        self.sql = oracle.SqlOracle(rows, polys)
        self.written = None  # path of the newest WKB file
        return {"pip": pip_info, "sql": sql_info}

    # -- point-in-zone join ---------------------------------------------

    def q_contains(self, i, kind):
        from datafusion_spatial_spark.operators import spatial_join as sj

        q = Query(kind, self.N_ZONES + self.N_POINTS, None,
                  lambda got: got == self.pip.contains_counts())

        def run():
            df = sj.spatial_join(
                self.zones, self.points, "geom", "geom", self.zmeta, self.pmeta,
                "zid", "pid", self.CELL, predicate="contains",
            ).groupBy("zid").count()
            return {r[0]: r[1] for r in _collect(q, df)}

        q.run = run
        return q

    # -- GeoParquet write, SQL reads, window read ------------------------

    def q_write(self, i, kind):
        from datafusion_spatial_spark.functions.scalar import st_geomfromtext
        from datafusion_spatial_spark.meta import with_geo_meta
        from datafusion_spatial_spark.sources import geoparquet as gp

        path = self.path(f"wkb_{(i // len(self.mix)) % 2}")

        def run():
            df = self.wkt.select("id", st_geomfromtext("wkt").alias("geom"))
            gp.write_geoparquet(with_geo_meta(df, "geom", self.wkb_meta), path,
                                covering=True)
            self.written = path
            # the footer, read right away: the next pass overwrites the
            # other path, not this one
            files = sorted(glob.glob(os.path.join(path, "*.parquet")))
            return [json.loads(pq.read_schema(f).metadata[b"geo"]) for f in files]

        def check(footers):
            cols = [f.get("columns", {}).get("geom", {}) for f in footers]
            return bool(cols) and all(
                c.get("encoding") == "WKB" and "bbox" in c.get("covering", {}) for c in cols)

        return Query(kind, self.N_ROWS, run, check)

    def _sql(self, i, kind):
        shape, table = kind.split(":")
        q = Query(kind, self.N_ROWS if table == "wkb" else self.N_NATIVE, None, None)
        sql = self.SQL[shape].format(v=table)

        def run():
            if table == "wkb":
                self.ssql.register_geoparquet("wkb", self.written)
            rows = _collect(q, self.ssql.sql(sql))
            if shape == "envelopes":
                return {r[0]: r[1] for r in rows}
            return {r[0]: (r[1], None if r[2] is None else tuple(r[2])) for r in rows}

        expect = self.sql.envelopes if shape == "envelopes" else self.sql.summary
        q.run = run
        q.check = lambda got: got == expect(table)
        return q

    q_envelopes = q_summary = _sql

    def q_window(self, i, kind):
        from datafusion_spatial_spark.sources import geoparquet as gp

        x0, y0 = self.params.uniform(0.0, 700.0, 2)
        w = (float(x0), float(y0), float(x0 + 300.0), float(y0 + 300.0))
        q = Query(kind, self.N_ROWS, None, lambda got: got == self.sql.window_count(w))
        q.run = lambda: _collect(
            q, gp.read_geoparquet(self.ctx.spark, self.written, window=w).groupBy().count()
        )[0][0]
        return q


# ---------------------------------------------------------------------------


class CorpusDedup(Workload):
    """Text statistics, quality filter, MinHash-LSH near-dup pairs, their
    connected components, and cosine top-k over embeddings."""

    name = "corpus_dedup"
    # dedup twice (its quality threshold varies): sorted by latency the
    # kinds are topk < stats < components < dedup, so the median falls in
    # the middle of the components share and p90 in the dedup share
    mix = ("stats", "dedup", "components", "topk", "dedup")
    N_DOCS, DIMS, DUP_SHARE = 1_200, 32, 0.15
    JACCARD = 0.7
    TOPK = 10

    def setup(self) -> dict:
        rng = np.random.default_rng([self.ctx.seed, 0])
        docs, emb, info = inputs.corpus_inputs(rng, self.N_DOCS, self.DIMS, self.DUP_SHARE)
        inputs.write_corpus(docs, emb, self.path("docs.parquet"))
        self.docs = self.ctx.spark.read.parquet(self.path("docs.parquet"))
        self.texts, self.emb = docs, emb
        self.last_pairs: dict = {}  # pairs the newest dedup query returned
        return info

    @functools.cached_property
    def stats(self):
        return [oracle.text_stats(d) for d in self.texts]

    @functools.cached_property
    def pairs(self):
        return oracle.similar_pairs(self.texts, self.JACCARD - 0.02)

    def q_stats(self, i, kind):
        from datafusion_spatial_spark.operators.text import text_stats

        def run():
            df = text_stats(self.docs, "text", "id").select("id", "n_tokens", "quality")
            return _collect(q, df)

        def check(rows):
            if len(rows) != len(self.stats):
                return False
            for r in rows:
                n, qual = self.stats[r[0]]
                if r[1] != n or abs(r[2] - qual) > 1.5e-6:
                    return False
            return True

        q = Query(kind, self.N_DOCS, run, check)
        return q

    def q_dedup(self, i, kind):
        from datafusion_spatial_spark.operators.corpus import filter_corpus
        from datafusion_spatial_spark.operators.dedup import minhash_lsh_dedup_pairs

        min_q = float(self.params.uniform(0.45, 0.6))
        q = Query(kind, self.N_DOCS, None, None)

        def run():
            kept = filter_corpus(self.docs, "text", min_quality=min_q)
            self.pairs_df = minhash_lsh_dedup_pairs(
                kept, "text", "id", jaccard_threshold=self.JACCARD)
            got = {(r[0], r[1]): r[2] for r in _collect(q, self.pairs_df)}
            self.last_pairs = got
            return got

        def check(got):
            keep = {k for k, (_, qual) in enumerate(self.stats) if qual >= min_q}
            # the program verifies Jaccard over 30-bit shingle hashes, so a
            # rare hash collision may move a value by ~1/|union|: compare
            # within 0.02 and require recall only clear of the threshold
            for pair, j in got.items():
                ref = self.pairs.get(pair)
                if ref is None or abs(ref - j) > 0.02 or not set(pair) <= keep:
                    return False
            want = [p for p, j in self.pairs.items()
                    if j >= self.JACCARD + 0.02 and set(p) <= keep]
            # MinHash-LSH (16 hashes, 4 bands) finds a pair at Jaccard 0.9
            # with probability 0.996; the planted pairs sit at 0.85-1.0
            return sum(p in got for p in want) >= 0.9 * len(want)

        q.run, q.check = run, check
        return q

    def q_components(self, i, kind):
        from datafusion_spatial_spark.operators.dedup import connected_components

        q = Query(kind, self.N_DOCS, None,
                  lambda got: got[1] == oracle.components(got[0]))

        def run():
            # the pairs of the dedup query before this one, which built
            # ``pairs_df``: the reference components are computed from them
            pairs = self.last_pairs
            df = connected_components(self.pairs_df, forest_reduce_passes=1)
            return pairs, {r[0]: r[1] for r in _collect(q, df)}

        q.run = run
        return q

    def q_topk(self, i, kind):
        from datafusion_spatial_spark.operators.simsearch import cosine_topk

        vec = self.params.normal(0.0, 1.0, self.DIMS)
        vec = [float(v) for v in vec]
        q = Query(kind, self.N_DOCS, None, None)
        q.run = lambda: [(r[0], r[1]) for r in _collect(
            q, cosine_topk(self.docs, "emb", "id", vec, k=self.TOPK))]

        def check(got):
            want = oracle.cosine_topk(self.emb, np.asarray(vec), self.TOPK)
            return len(got) == len(want) and all(
                g[0] == w[0] and abs(g[1] - w[1]) < 1e-9 for g, w in zip(got, want))

        q.check = check
        return q


WORKLOADS = {w.name: w for w in (Spatial, CorpusDedup)}
