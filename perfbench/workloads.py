"""The benchmark's workloads, their seeded inputs and their correctness gates.

An operation (op) is one library call plus the action that materialises its
result.  Every op carries a check against an oracle that never calls the
spatial join or the grid: numpy arithmetic for ``pages_pip``, DuckDB over the
same parquet files for ``sql_mix`` and the appends.
"""

from __future__ import annotations

import hashlib
import math
import os
import struct
from dataclasses import dataclass
from typing import Any, Callable

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

WORLD = (-180.0, -85.0, 180.0, 85.0)
HASH_MOD = 2_147_483_647          # keeps checksum sums far from int64 overflow
ICE_BBOX = (-30.0, 30.0, 40.0, 72.0)   # query box of files_scanned_ratio


@dataclass
class Ctx:
    spark: SparkSession
    seed: int
    work_dir: str
    tiny: bool


@dataclass
class Op:
    """One timed operation.  ``prepare`` runs before the clock starts,
    ``call`` + ``action`` are timed, ``check`` runs after it stops and
    returns None when the result is correct, else a message."""
    name: str
    kind: str                                  # "query" or "write"
    call: Callable[[Any], Any]
    action: Callable[[Any], Any]
    check: Callable[[Any], str | None]
    rows_out: Callable[[Any], int]
    input_rows: int
    prepare: Callable[[], Any] = lambda: None


def pages(spark: SparkSession, n: int, tag: str,
          partitions: int | None = None) -> DataFrame:
    """``n`` synthetic geocoded pages whose URLs carry ``tag``, so every
    (seed, op index) gives a distinct, reproducible probe side."""
    from sedona_db_spark.webtext import pages_to_points, synth_pages
    raw = synth_pages(spark, n, partitions).withColumn(
        "url", F.concat(F.col("url"), F.lit(tag)))
    return pages_to_points(raw).select("url", "lon", "lat", "geom")


def _url_hash():
    return F.pmod(F.xxhash64("url"), F.lit(HASH_MOD))


def df_digest(df: DataFrame) -> str:
    """Order-independent digest of a generated DataFrame's rows."""
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(F.pmod(
        F.xxhash64(*df.columns), F.lit(HASH_MOD))).alias("h")).collect()[0]
    return f"{r['n']}:{r['h']}"


def canon(df: pd.DataFrame) -> list[tuple]:
    """Order-independent canonical form of a result: columns by name, every
    value stringified exactly, rows sorted."""
    df = df[sorted(df.columns)]

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, (bytes, bytearray)):
            return bytes(v).hex()
        return str(v)
    rows = [tuple(norm(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort()
    return rows


def _diff(got: list, exp: list) -> str | None:
    if len(got) != len(exp):
        return f"row count {len(got)} != oracle {len(exp)}"
    if got != exp:
        bad = next((g, e) for g, e in zip(got, exp) if g != e)
        return f"value mismatch, first: {bad[0]} != oracle {bad[1]}"
    return None


def _polygon_ring(wkb: bytes) -> list[tuple[float, float]]:
    """Outer ring of a little-endian 2-D WKB polygon, read with ``struct``
    so the oracle shares no code with the engine's decoder."""
    order, gtype, nrings, npts = struct.unpack_from("<BIII", wkb, 0)
    if order != 1 or gtype != 3 or nrings != 1:
        raise ValueError("oracle expects single-ring little-endian polygons")
    xy = struct.unpack_from(f"<{2 * npts}d", wkb, 13)
    return list(zip(xy[0::2], xy[1::2]))


class Appender:
    """The write op: ``icetable.append`` of a small seeded page batch to a
    benchmark-owned table, checked with DuckDB over the new snapshot."""

    def __init__(self, ctx: Ctx, name: str, batch_rows: int):
        from sedona_db_spark.sources import icetable
        self.ctx = ctx
        self.rows = batch_rows
        self.path = os.path.join(ctx.work_dir, f"ice_{name}")
        icetable.create(ctx.spark, self.path,
                        pages(ctx.spark, batch_rows, f"#s{ctx.seed}-init"),
                        geom_col="geom", res=4)

    def _tag(self, i: int) -> str:
        return f"#s{self.ctx.seed}-w{i}"

    def batch(self, i: int) -> DataFrame:
        return pages(self.ctx.spark, self.rows, self._tag(i))

    def op(self, i: int) -> Op:
        from sedona_db_spark.sources import icetable
        spark, tag = self.ctx.spark, self._tag(i)
        batch = self.batch(i)

        def check(res):
            before, after = res
            if after["snapshot_id"] != before["snapshot_id"] + 1:
                return "append did not commit exactly one snapshot"
            if after["rows_total"] != before["rows_total"] + self.rows:
                return (f"snapshot rows {after['rows_total']} != "
                        f"{before['rows_total']} + {self.rows}")
            new = sorted(set(after["files"]) - set(before["files"]))
            n, nd, tagged = duckdb.sql(
                "SELECT count(*), count(DISTINCT url), "
                f"count(*) FILTER (WHERE url LIKE '%{tag}') "
                f"FROM read_parquet({new!r})").fetchone()
            if not n == nd == tagged == self.rows:
                return f"new files hold {n} rows, {nd} urls, {tagged} tagged"
            return None

        return Op(
            name="icetable_append", kind="write",
            prepare=lambda: icetable.scan_files(self.path),
            call=lambda before: (before, icetable.append(spark, self.path,
                                                          batch)),
            action=lambda r: (r[0], icetable.scan_files(self.path)),
            check=check, rows_out=lambda r: self.rows,
            input_rows=self.rows)


class PagesPip:
    """Geocoded pages ``coveredby``-joined to the world region layer: 16x16
    rectangles plus 8 metro 12-gons.  Executor-bound join throughput."""

    name = "pages_pip"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n_pages = 20_000 if ctx.tiny else 500_000

    def setup(self) -> None:
        from sedona_db_spark.sources.fixtures import regions_grid
        self.n_side = 16
        pdf = regions_grid(n_side=self.n_side, bounds=WORLD, metro_hotspots=8)
        self.region_wkbs = list(pdf["geom"])
        self.regions = self.ctx.spark.createDataFrame(pdf)
        self.metros = [(int(r), _polygon_ring(g)) for r, g in
                       zip(pdf["region_id"], pdf["geom"])
                       if int(r) >= self.n_side ** 2]
        self.writer = Appender(self.ctx, self.name, 2_000)

    def _oracle(self, probe: DataFrame) -> tuple[int, int]:
        """(rows, checksum) the join must produce, without joining: numpy
        interval arithmetic over the 3x3 rectangle cells around each point,
        and half-plane tests against each convex metro ring."""
        pdf = probe.select("lon", "lat", _url_hash().alias("h")).toPandas()
        lon, lat = pdf["lon"].to_numpy(), pdf["lat"].to_numpy()
        h = pdf["h"].to_numpy()
        xmin, ymin, xmax, ymax = WORLD
        n = self.n_side
        w, hh = (xmax - xmin) / n, (ymax - ymin) / n
        fi = np.floor((lon - xmin) / w)
        fj = np.floor((lat - ymin) / hh)

        def inside(v, k, lo, step):
            x0 = lo + k * step
            return (k >= 0) & (k < n) & (x0 <= v) & (v <= x0 + step)
        rows, chk = 0, 0
        for di in (-1, 0, 1):
            mi = inside(lon, fi + di, xmin, w)
            for dj in (-1, 0, 1):
                m = mi & inside(lat, fj + dj, ymin, hh)
                rid = ((fi + di) * n + (fj + dj))[m].astype(np.int64)
                rows += int(m.sum())
                chk += int((h[m] * (rid + 1)).sum())
        for rid, ring in self.metros:
            xs, ys = [p[0] for p in ring], [p[1] for p in ring]
            m = ((lon >= min(xs)) & (lon <= max(xs))
                 & (lat >= min(ys)) & (lat <= max(ys)))
            for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
                m &= (bx - ax) * (lat - ay) - (by - ay) * (lon - ax) >= 0.0
            rows += int(m.sum())
            chk += int(h[m].sum()) * (rid + 1)
        return rows, chk

    def _checksum(self, df: DataFrame) -> tuple[int, int]:
        r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(
            _url_hash() * (F.col("region_id") + 1)).alias("h")).collect()[0]
        return int(r["n"]), int(r["h"] or 0)

    def _probe(self, i: int, n: int) -> DataFrame:
        # three splits per core, as a scan of real input yields more splits
        # than cores: a core slowed by a busy neighbour then delays one
        # small task, not a quarter of the join
        spark = self.ctx.spark
        return pages(spark, n, f"?s={self.ctx.seed}&op={i}",
                     3 * spark.sparkContext.defaultParallelism)

    def _join_op(self, i: int, n: int) -> Op:
        from sedona_db_spark.operators import spatial_join
        probe = self._probe(i, n)

        def check(got):
            exp = self._oracle(probe)
            if got != exp:
                return f"(rows, checksum) {got} != oracle {exp}"
            return None

        return Op(
            name="pages_join", kind="query",
            call=lambda _: spatial_join(
                probe, self.regions, "coveredby", "inner", left_geom="geom",
                right_geom="geom", left_lonlat=("lon", "lat")),
            action=self._checksum,
            check=check, rows_out=lambda r: r[0], input_rows=n)

    def inputs_digest(self) -> str:
        h = hashlib.sha256(b"".join(self.region_wkbs))
        h.update(df_digest(self._probe(0, self.n_pages)).encode())
        h.update(df_digest(self.writer.batch(0)).encode())
        return h.hexdigest()

    def probe_inputs(self, i: int) -> dict:
        probe = self._probe(i, self.n_pages)
        return {"geocode": probe, "points": probe,
                "polygons": self.region_wkbs, "ice_path": self.writer.path}

    def warmup_ops(self) -> list[Callable[[], Op]]:
        # full size, and three joins: the join's latency keeps falling over
        # its first ops while the JIT warms; the append settles at once
        return self.pass_ops(-1) + [
            (lambda i=i: self._join_op(i, self.n_pages)) for i in (-2, -3)]

    def pass_ops(self, i: int) -> list[Callable[[], Op]]:
        return [lambda: self._join_op(i, self.n_pages),
                lambda: self.writer.op(i)]


# The demo queries of plans.demo_queries run per sql_mix pass, one join
# path each: kNN, broadcast point-in-polygon through the SQL front end, and
# the exploded polygon x polygon grid path.  Each builds its plan from the
# parquet tables and is checked against its ORACLE_SQL.
SQL_MIX_QUERIES = ["knn_pairs", "sql_pip_pairs", "touches_pairs"]


def write_sf_tables(sf_dir: str, seed: int, n_docs: int) -> None:
    """Seeded stand-ins for the documents and nation tables the demo queries
    read.  Geometry derives from the keys, so the seed moves every document
    point; the nation layer is fixed."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    docs = pa.table({"doc_id": pa.array(
        np.sort(rng.choice(50_000_000, n_docs, replace=False)), pa.int64())})
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(nation, os.path.join(sf_dir, "nation.parquet"))


class SqlMix:
    """Closed loop of passes: two appends to a benchmark-owned ice table
    and the demo queries.  Tiny inputs, many Spark jobs: latency is driver
    planning and scheduling."""

    name = "sql_mix"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n_docs = 500 if ctx.tiny else 5_000

    def setup(self) -> None:
        self.sf_dir = os.path.join(self.ctx.work_dir, "tables")
        write_sf_tables(self.sf_dir, self.ctx.seed, self.n_docs)
        con = duckdb.connect()
        for t in ("documents", "nation"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{self.sf_dir}/{t}.parquet'")
        self.expected = {q: canon(con.sql(self._oracle(q)).df())
                         for q in SQL_MIX_QUERIES}
        con.close()
        self.writer = Appender(self.ctx, self.name, 2_000)

    @staticmethod
    def _builder(q: str):
        from sedona_db_spark.plans import demo_queries as DQ
        # one SQL shape (JOIN ... ON) instead of the registry's three-shape
        # union, so the op is one sql_frontend statement
        return DQ.q_sql_pip_pairs if q == "sql_pip_pairs" else DQ.QUERIES[q]

    @staticmethod
    def _oracle(q: str) -> str:
        from sedona_db_spark.plans import demo_queries as DQ
        return DQ.ORACLE_PIP_PAIRS if q == "sql_pip_pairs" else DQ.ORACLE_SQL[q]

    def _demo_op(self, q: str) -> Op:
        spark, sf = self.ctx.spark, self.sf_dir
        return Op(
            name=q, kind="query",
            call=lambda _: self._builder(q)(spark, sf),
            action=lambda df: df.toPandas(),
            check=lambda pdf: _diff(canon(pdf), self.expected[q]),
            rows_out=len, input_rows=self.n_docs)

    def inputs_digest(self) -> str:
        h = hashlib.sha256()
        for t in ("documents", "nation"):
            with open(os.path.join(self.sf_dir, f"{t}.parquet"), "rb") as f:
                h.update(f.read())
        h.update(df_digest(self.writer.batch(0)).encode())
        return h.hexdigest()

    def probe_inputs(self, i: int) -> dict:
        from sedona_db_spark.plans import demo_queries as DQ
        spark = self.ctx.spark
        polygons = [r["geom"] for r in DQ.nation_rects(
            spark, self.sf_dir).select("geom").collect()]
        return {"geocode": self.writer.batch(i),
                "points": DQ.doc_points(spark, self.sf_dir),
                "polygons": polygons, "ice_path": self.writer.path}

    def warmup_ops(self) -> list[Callable[[], Op]]:
        # one pass, then the queries once more: after one pass the first
        # measured queries still run about a fifth slower than the next;
        # the append settles at once
        return self.pass_ops(-1) + [
            (lambda q=q: self._demo_op(q)) for q in SQL_MIX_QUERIES]

    def pass_ops(self, i: int) -> list[Callable[[], Op]]:
        # two appends interleaved with the reads
        q = [(lambda q=q: self._demo_op(q)) for q in SQL_MIX_QUERIES]
        return ([lambda: self.writer.op(2 * i)] + q[:1]
                + [lambda: self.writer.op(2 * i + 1)] + q[1:])


WORKLOADS = {w.name: w for w in (PagesPip, SqlMix)}
