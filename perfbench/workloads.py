"""The benchmark workloads: seeded input generators, the op each one
runs through the public ``spandex_spark`` API, and an output check that does
not reuse the code under test.

Every workload exposes the same small surface to ``run.py``:

* ``generate(work_dir)`` writes the seeded inputs as parquet with numpy
  and pyarrow only, so it can run while the Spark session starts (set-up);
* ``prepare(spark, span)`` reads them back and builds the layer indexes,
  timing each index build under ``span(name)`` (set-up);
* ``calls()`` lists the op's public calls as ``Call`` objects; each call's
  ``build(span)`` returns the DataFrame, and its ``sink`` consumes every
  output column of it in one Spark action (see ``sink.py``);
* ``check(results, full)`` checks the sink results of one op and returns a
  list of failure messages (empty = correct).  ``full=True`` adds the
  checks that need Spark jobs of their own; the benchmark runs those once,
  on the last op, outside the timed region;
* ``WARMUP_OPS``, the untimed ops set-up ends with.  Ops keep speeding up
  over the first few (JIT, Python workers forked on demand); the warm-up
  puts the timed ones near the flat part.

Ops receive only the generated DataFrames: the seed never reaches
``spandex_spark``.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sink import SinkSpec

EARTH_R = 6_371_008.8  # metres; mean Earth radius, as in spandex_spark.geom


@dataclass
class Call:
    """One public call inside an op: ``layer`` is the traced name
    (``<module>.<function>``); ``build(span)`` constructs the DataFrame,
    timing the construction of any fused layer under ``span(name)``; and
    ``sink`` says how to consume and plan-check it."""
    layer: str
    build: Callable
    sink: SinkSpec
    # layers attributed by plan node inside this call's action:
    # {layer name: regex on the ArrowEvalPython/MapInPandas node string}
    node_layers: dict = field(default_factory=dict)
    # False where the output sums floats in shuffle order, so its checksum
    # may differ between equal runs in the last bits
    exact: bool = True


def _write(table: pa.Table, work_dir: str, name: str, files: int = 1) -> str:
    """Write ``table`` as ``files`` parquet files (one input split each)."""
    path = os.path.join(work_dir, f"{name}.parquet")
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))
    return path


def _haversine(lon1, lat1, lon2, lat2):
    """Independent numpy haversine (metres) for the nearest-feature checks."""
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp = p2 - p1
    dl = np.radians(lon2) - np.radians(lon1)
    h = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2.0 * EARTH_R * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


def _derived_lonlat(keys: np.ndarray):
    """Closed form of sources.grids.derived_points, recomputed in numpy."""
    k = keys.astype(np.int64)
    return (((k * 7919) % 2000) / 100.0 - 10.0,
            ((k * 104729) % 2000) / 100.0 - 10.0)


# the FIXTURES.md gazetteer grid (sources.grids.gazetteer_grid_df), rebuilt
# in numpy for the brute-force nearest checks
GAZ_FID = np.arange(32, dtype=np.int64)
GAZ_LON = -8.0 + (GAZ_FID % 8).astype(np.float64)
GAZ_LAT = -8.0 + 2.0 * (GAZ_FID // 8).astype(np.float64)


def _brute_knn(lon: float, lat: float, k: int):
    """(fids, dists) of the k nearest gazetteer points, (dist, fid) order."""
    d = _haversine(np.full(32, lon), np.full(32, lat), GAZ_LON, GAZ_LAT)
    order = np.lexsort((GAZ_FID, d))[:k]
    return GAZ_FID[order], d[order], d


def _knn_rows_ok(lon, lat, got_fids, got_dists, k) -> bool:
    """Output ranks equal brute force: distances within 1e-9 relative, and
    each fid either the brute-force fid or a tie at that distance (JVM and
    numpy trig may differ by a few ULPs, which can swap exact ties)."""
    want_fids, want_d, all_d = _brute_knn(lon, lat, k)
    if len(got_fids) != len(want_fids):
        return False
    for fid, dist, wf, wd in zip(got_fids, got_dists, want_fids, want_d):
        if not math.isclose(dist, wd, rel_tol=1e-9, abs_tol=1e-6):
            return False
        if fid != wf and not math.isclose(all_d[fid], wd, rel_tol=1e-9,
                                          abs_tol=1e-6):
            return False
    return len(set(got_fids)) == len(got_fids)


def _lineitem_keys(rng, n: int) -> np.ndarray:
    """Distinct lineitem-style keys ``l_orderkey * 8 + l_linenumber`` (the
    key bench.py derives its points from), in seeded order."""
    order = rng.integers(1, 6_000_000, int(n * 1.1) + 16)
    line = rng.integers(1, 8, order.shape[0])
    keys = np.unique(order * 8 + line)
    rng.shuffle(keys)
    return keys[:n]


# ------------------------------------------------------------ pip_knn_stream

_CELL_JOIN = r"(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \[_?cell#"
_NEAREST = r"ArrowEvalPython \[_nearest\("


class PipKnnStream:
    """Lineitem-derived points: the point stream tagged against the 400-zone
    grid through a prebuilt PolygonIndex and fused with the nearest-feature
    column, then kNN (k=3, cells strategy) of distinct queries against the
    32-feature gazetteer."""
    name = "pip_knn_stream"
    WARMUP_OPS = 2
    N_KEYS = 25_000        # lineitem-style keys, fanned out x PTS_MULT
    PTS_MULT = 8
    N_QUERIES = 20_000     # distinct kNN queries
    LEVEL = 11             # bench.py's zone index level
    K = 3
    SAMPLE_MOD = 401

    def __init__(self, seed: int, cpus: int):
        self.seed, self.cpus = seed, cpus
        self.n_points = self.N_KEYS * self.PTS_MULT
        self.rows = self.n_points + self.N_QUERIES

    def generate(self, work_dir: str) -> None:
        rng = np.random.default_rng([self.seed, 1])
        self.offset = int(rng.integers(0, 1 << 20))
        keys = _lineitem_keys(rng, self.N_KEYS + self.N_QUERIES)
        self.keys_path = _write(pa.table({"base": keys[:self.N_KEYS]}),
                                work_dir, "keys")
        self.queries_path = _write(pa.table(
            {"pt_id": keys[self.N_KEYS:] + self.offset}), work_dir, "queries")

    def prepare(self, spark, span) -> None:
        self.spark = spark
        from spandex_spark.operators.knn import nearest_feature_column
        from spandex_spark.operators.tag import PolygonIndex
        from spandex_spark.sources.grids import (derived_points,
                                                 gazetteer_grid_df, zones_df)
        # bench.py's stream: spread the small key table, then fan it out
        base = self.spark.read.parquet(self.keys_path).repartition(self.cpus * 3)
        keyed = base.select("base", F.explode(F.sequence(
            F.lit(0), F.lit(self.PTS_MULT - 1))).alias("rep"))
        self.points = derived_points(keyed.select(
            (F.col("base") * self.PTS_MULT + F.col("rep")
             + F.lit(self.offset)).alias("pt_id")), "pt_id")
        self.queries = derived_points(self.spark.read.parquet(
            self.queries_path).repartition(self.cpus * 3), "pt_id")
        self.features = gazetteer_grid_df(self.spark)
        with span("operators.tag.PolygonIndex"):
            self.index = PolygonIndex(zones_df(self.spark),
                                      poly_id_col="zone_id", level=self.LEVEL)
        with span("operators.knn.nearest_feature_column"):
            self.nearest = nearest_feature_column(self.features,
                                                  feature_id_col="poi_k")

    def key_only(self) -> DataFrame:
        """The stream with only the cell key added (key-only span)."""
        from spandex_spark.functions.cells_sql import cell_of_expr
        return self.points.withColumn(
            "cell", cell_of_expr("`lon`", "`lat`", self.LEVEL))

    def calls(self) -> list[Call]:
        from spandex_spark.operators.knn import knn_join
        from spandex_spark.operators.tag import tag_points

        def fused(span) -> DataFrame:
            with span("operators.tag.tag_points"):
                tagged = tag_points(self.points, None, poly_id_col="zone_id",
                                    point_id_col="pt_id", assume_disjoint=True,
                                    index=self.index)
            with span("operators.knn.nearest_feature_column"):
                nn = self.nearest(F.col("lon"), F.col("lat"))
                return (tagged.withColumn("poi_k", nn["feature_id"])
                        .withColumn("poi_dist_m", nn["dist_m"]))

        zone = F.expr("cast((floor(lat) + 10) * 20 + (floor(lon) + 10) as long)")
        return [
            Call("operators.tag.tag_points", fused, SinkSpec(
                "pt_id", self.SAMPLE_MOD,
                sample_cols=("lon", "lat", "zone_id", "poi_k", "poi_dist_m"),
                extra={"zone_mismatch": F.sum(F.when(
                    F.col("zone_id") == zone, 0).otherwise(1))},
                expect=(_NEAREST, _CELL_JOIN)),
                node_layers={"operators.knn.nearest_feature_column": _NEAREST}),
            Call("operators.knn.knn_join", lambda span: knn_join(
                self.queries, self.features, k=self.K, query_id_col="pt_id",
                feature_id_col="poi_k", strategy="cells", level=7), SinkSpec(
                "pt_id", self.SAMPLE_MOD // 4,
                sample_cols=("pt_id", "rank", "poi_k", "dist_m"),
                expect=(_CELL_JOIN,))),
        ]

    def check(self, res: list[dict], full: bool) -> list[str]:
        pip, knn = res
        errs = []
        if pip["rows"] != self.n_points:
            errs.append(f"tagged rows {pip['rows']} != {self.n_points}")
        if pip["zone_mismatch"]:
            errs.append(f"{pip['zone_mismatch']} zone ids differ from floor "
                        "arithmetic")
        bad = sum(not _knn_rows_ok(s["lon"], s["lat"], [s["poi_k"]],
                                   [s["poi_dist_m"]], 1)
                  for s in pip["sample"])
        if bad or not pip["sample"]:
            errs.append(f"nearest feature wrong on {bad}/{len(pip['sample'])} "
                        "sampled points")
        if knn["rows"] != self.K * self.N_QUERIES:
            errs.append(f"kNN rows {knn['rows']} != {self.K * self.N_QUERIES}")
        by_q: dict[int, list] = {}
        for s in knn["sample"]:
            by_q.setdefault(s["pt_id"], []).append(s)
        bad = 0
        for qid, rows in by_q.items():
            rows.sort(key=lambda s: s["rank"])
            lon, lat = _derived_lonlat(np.array([qid]))
            bad += not ([s["rank"] for s in rows] == list(range(1, self.K + 1))
                        and _knn_rows_ok(float(lon[0]), float(lat[0]),
                                         [s["poi_k"] for s in rows],
                                         [s["dist_m"] for s in rows], self.K))
        if bad or not by_q:
            errs.append(f"kNN wrong on {bad}/{len(by_q)} sampled queries")
        return errs


# ----------------------------------------------------------- parcel_analysis

def _donut_of(x: float, y: float):
    """Closed form of sources.grids.donut_zones_df membership (4-degree
    squares over [-8, 8) with centred 2-degree holes, half-open edges)."""
    if not (-8.0 <= x < 8.0 and -8.0 <= y < 8.0):
        return None
    c, r = math.floor((x + 8.0) / 4.0), math.floor((y + 8.0) / 4.0)
    x0, y0 = c * 4 - 8, r * 4 - 8
    if x0 + 1.0 <= x < x0 + 3.0 and y0 + 1.0 <= y < y0 + 3.0:
        return None
    return int(r * 4 + c)


def _ring_centroid(xs, ys):
    """Area centroid of one ring, written here rather than taken from geom."""
    x2, y2 = np.roll(xs, -1), np.roll(ys, -1)
    cross = xs * y2 - x2 * ys
    a = 0.5 * cross.sum()
    return ((xs + x2) * cross).sum() / (6 * a), ((ys + y2) * cross).sum() / (6 * a)


class ParcelAnalysis:
    """A spandex-style script over a seeded layer of jittered (non-
    rectangular) parcels: tag by holed zones, proportional overlay with the
    zone grid, zonal statistics of the raster over the holed zones."""
    name = "parcel_analysis"
    GRID = 14          # GRID x GRID parcels over [-10.5, 10.5)
    SPAN = (-10.5, 10.5)
    JITTER = 0.2       # node jitter, share of the grid step
    SAMPLE_MOD = 13
    DONUT_PX = 80 * 80 - 40 * 40  # raster pixels (0.05 deg) per donut zone

    def __init__(self, seed: int, cpus: int):
        self.seed, self.cpus = seed, cpus
        self.rows = self.GRID * self.GRID

    def generate(self, work_dir: str) -> None:
        from spandex_spark.fixtures import GEOM_FIELD, gen_raster_tiles
        rng = np.random.default_rng([self.seed, 3])
        n = self.GRID
        step = (self.SPAN[1] - self.SPAN[0]) / n
        g = self.SPAN[0] + step * np.arange(n + 1)
        nx = g[None, :] + rng.uniform(-1, 1, (n + 1, n + 1)) * self.JITTER * step
        ny = g[:, None] + rng.uniform(-1, 1, (n + 1, n + 1)) * self.JITTER * step
        geoms, self.parcels = [], {}
        for i in range(n):
            for j in range(n):
                xs = np.array([nx[i, j], nx[i, j + 1], nx[i + 1, j + 1], nx[i + 1, j]])
                ys = np.array([ny[i, j], ny[i, j + 1], ny[i + 1, j + 1], ny[i + 1, j]])
                self.parcels[i * n + j] = (xs, ys)
                geoms.append({"kind": 3, "xs": xs.tolist(), "ys": ys.tolist(),
                              "ring_offsets": [0, 4],
                              "bbox": {"minx": xs.min(), "miny": ys.min(),
                                       "maxx": xs.max(), "maxy": ys.max()}})
        ids = np.arange(n * n, dtype=np.int64)
        self.parcels_path = _write(pa.table({
            "parcel_id": pa.array(ids),
            "geom": pa.array(geoms, GEOM_FIELD),
            "land_value": pa.array(rng.uniform(500.0, 5000.0, n * n)),
        }), work_dir, "parcels", files=2 * self.cpus)
        self.tiles_path = _write(gen_raster_tiles(), work_dir, "tiles",
                                 files=self.cpus)

    def prepare(self, spark, span) -> None:
        self.spark = spark
        from spandex_spark.sources.grids import donut_zones_df, zones_df
        self.parcels_df = self.spark.read.parquet(self.parcels_path)
        self.tiles = self.spark.read.parquet(self.tiles_path)
        self.donuts = donut_zones_df(self.spark)
        self.zones = zones_df(self.spark)

    def calls(self) -> list[Call]:
        from spandex_spark.operators.overlay import proportion_overlap
        from spandex_spark.operators.tag import tag
        from spandex_spark.operators.zonal import zonal_stats
        pid = ("parcel_id", self.SAMPLE_MOD)
        return [
            Call("operators.tag.tag", lambda span: tag(
                self.parcels_df, self.donuts, poly_id_col="dz_id",
                target_id_col="parcel_id"),
                SinkSpec(*pid, sample_cols=("parcel_id", "dz_id"),
                         expect=(_CELL_JOIN, r"ArrowEvalPython \[_pip\("))),
            Call("operators.overlay.proportion_overlap", lambda span: proportion_overlap(
                self.parcels_df, self.zones, target_id_col="parcel_id",
                overlay_id_col="zone_id", level=8),
                SinkSpec(*pid, sample_cols=("parcel_id", "overlap_area",
                                            "target_area", "proportion_overlap"),
                         expect=(_CELL_JOIN, r"ArrowEvalPython \[_ix_area\(")),
                exact=False),
            Call("operators.zonal.zonal_stats", lambda span: zonal_stats(
                self.tiles, self.donuts, zone_id_col="dz_id", level=7),
                SinkSpec("dz_id", 1, sample_cols=(
                    "dz_id", "px_count", "px_sum", "px_min", "px_max",
                    "px_mean", "px_std"),
                    expect=(r"MapInPandas compute_partials",)),
                exact=False),
        ]

    def check(self, res: list[dict], full: bool) -> list[str]:
        from spandex_spark import geom
        errs = []
        tag_r, ov_r, zs_r = res
        for r, what in ((tag_r, "tag"), (ov_r, "overlay")):
            if r["rows"] != self.rows:
                errs.append(f"{what} rows {r['rows']} != {self.rows}")
        bad = 0
        for s in tag_r["sample"]:
            xs, ys = self.parcels[s["parcel_id"]]
            bad += s["dz_id"] != _donut_of(*_ring_centroid(xs, ys))
        if bad or not tag_r["sample"]:
            errs.append(f"tag wrong on {bad}/{len(tag_r['sample'])} parcels")
        bad = 0
        for s in ov_r["sample"]:
            xs, ys = self.parcels[s["parcel_id"]]
            want_t = geom.rings_area(xs, ys)
            want_o = 0.0
            for zx in range(max(-10, math.floor(xs.min())),
                            min(10, math.floor(xs.max()) + 1)):
                for zy in range(max(-10, math.floor(ys.min())),
                                min(10, math.floor(ys.max()) + 1)):
                    want_o += geom.rings_intersection_area(
                        xs, ys, None, np.array([zx, zx + 1.0, zx + 1.0, zx]),
                        np.array([zy, zy, zy + 1.0, zy + 1.0]))
            ok = (math.isclose(s["target_area"], want_t, rel_tol=1e-9)
                  and math.isclose(s["overlap_area"], want_o, rel_tol=1e-9,
                                   abs_tol=1e-12)
                  and math.isclose(s["proportion_overlap"], want_o / want_t,
                                   rel_tol=1e-9, abs_tol=1e-12))
            bad += not ok
        if bad or not ov_r["sample"]:
            errs.append(f"overlay areas wrong on {bad}/{len(ov_r['sample'])} "
                        "parcels")
        want = self._zonal_expected()
        got = {s["dz_id"]: s for s in zs_r["sample"]}
        if zs_r["rows"] != 16 or sorted(got) != list(range(16)):
            errs.append(f"zonal returned zones {sorted(got)}")
        elif sum(s["px_count"] for s in got.values()) != 16 * self.DONUT_PX:
            errs.append("zonal pixel-count total wrong")
        else:
            bad = sum(not (got[z]["px_count"] == w[0]
                           and math.isclose(got[z]["px_sum"], w[1],
                                            rel_tol=1e-9, abs_tol=1e-9)
                           and math.isclose(got[z]["px_min"], w[2], rel_tol=1e-12)
                           and math.isclose(got[z]["px_max"], w[3], rel_tol=1e-12))
                      for z, w in want.items())
            if bad:
                errs.append(f"zonal stats wrong on {bad}/16 zones")
        return errs

    def _zonal_expected(self) -> dict:
        """Per donut zone (count, sum, min, max) of the FIXTURES.md raster
        v = sin(lon_c) + cos(lat_c) at 0.05-degree pixel centres."""
        if not hasattr(self, "_zonal_want"):
            c = -10.0 + (np.arange(400) + 0.5) * 0.05
            out = {}
            for z in range(16):
                x0, y0 = (z % 4) * 4 - 8, (z // 4) * 4 - 8
                px = c[(c >= x0) & (c < x0 + 4)]
                py = c[(c >= y0) & (c < y0 + 4)]
                lon, lat = np.meshgrid(px, py)
                hole = ((lon >= x0 + 1) & (lon < x0 + 3)
                        & (lat >= y0 + 1) & (lat < y0 + 3))
                v = (np.sin(lon) + np.cos(lat))[~hole]
                out[z] = (v.size, float(v.sum()), float(v.min()), float(v.max()))
            self._zonal_want = out
        return self._zonal_want


# ---------------------------------------------------------------- text_dedup

_VOCAB = ("batch part spark line column order small sort fast value scan hash "
          "slow group agg filter query big key window row table stream merge "
          "data vector index join plan cache disk page shuffle task stage "
          "node edge graph tree leaf root heap list map set bag queue lock "
          "file block chunk frame tile cell grid zone point ring area road "
          "town city port").split()


class TextDedup:
    """Seeded documents: near-duplicate pairs planted by one-word edits,
    unrelated singletons, and one boilerplate cluster larger than
    ``max_bucket``."""
    name = "text_dedup"
    PAIRS = 600         # planted pairs: doc ids 2p and 2p + 1
    SINGLES = 1_200     # documents with no planted duplicate
    CLUSTER = 100       # identical boilerplate documents
    MAX_BUCKET = 64     # minhash_lsh_pairs cap; CLUSTER exceeds it
    NUM_HASHES, BANDS = 64, 16   # bench.py's settings
    SAMPLE_MOD = 31
    MIN_RECALL = 0.98   # planted pairs have Jaccard >= ~0.88 by construction

    def __init__(self, seed: int, cpus: int):
        self.seed, self.cpus = seed, cpus
        self.n_planted = 2 * self.PAIRS
        self.n_docs = self.n_planted + self.SINGLES
        self.rows = self.n_docs + self.CLUSTER

    def generate(self, work_dir: str) -> None:
        rng = np.random.default_rng([self.seed, 4])
        vocab = np.array(_VOCAB)
        texts = []
        for i in range(self.PAIRS + self.SINGLES):
            words = vocab[rng.integers(0, len(vocab), rng.integers(50, 91))]
            texts.append(" ".join(words))
            if i < self.PAIRS:
                # the copy: one word replaced by a different word
                pos = rng.integers(0, words.shape[0])
                old = np.flatnonzero(vocab == words[pos])[0]
                words[pos] = vocab[(old + rng.integers(1, len(vocab))) % len(vocab)]
                texts.append(" ".join(words))
        boiler = " ".join(vocab[rng.integers(0, len(vocab), 40)])
        texts += [boiler] * self.CLUSTER
        order = rng.permutation(len(texts))
        self.docs_path = _write(pa.table({
            "doc_id": pa.array(order.astype(np.int64)),
            "text": pa.array([texts[i] for i in order]),
        }), work_dir, "documents")

    def prepare(self, spark, span) -> None:
        self.spark = spark
        self.docs = self.spark.read.parquet(self.docs_path)

    def calls(self) -> list[Call]:
        from spandex_spark.operators.dedup import minhash_lsh_pairs
        planted = (F.col("id_b") < self.n_planted) & (
            F.floor(F.col("id_a") / 2) == F.floor(F.col("id_b") / 2))
        clus = F.col("id_a") >= self.n_docs
        sink = SinkSpec(
            ("id_a", "id_b"), self.SAMPLE_MOD,
            sample_cols=("id_a", "id_b", "est_jaccard"),
            extra={"planted_found": F.sum(planted.cast("long")),
                   "cluster_pairs": F.sum(clus.cast("long")),
                   "cluster_max_id": F.max(F.when(clus, F.col("id_b"))),
                   "cluster_min_j": F.min(F.when(clus, F.col("est_jaccard")))},
            expect=(r"ArrowEvalPython \[_minhash\(",))
        return [Call("operators.dedup.minhash_lsh_pairs", lambda span: minhash_lsh_pairs(
            self.docs, num_hashes=self.NUM_HASHES, bands=self.BANDS,
            max_bucket=self.MAX_BUCKET), sink)]

    def check(self, res: list[dict], full: bool) -> list[str]:
        r = res[0]
        errs = []
        recall = r["planted_found"] / self.PAIRS
        if recall < self.MIN_RECALL:
            errs.append(f"planted-pair recall {recall:.4f} < {self.MIN_RECALL}")
        cap = self.MAX_BUCKET
        # identical documents share every band bucket; the cap keeps the
        # max_bucket smallest ids, so exactly C(cap, 2) pairs at Jaccard 1
        if (r["cluster_pairs"] != cap * (cap - 1) // 2
                or r["cluster_max_id"] != self.n_docs + cap - 1
                or r["cluster_min_j"] != 1.0):
            errs.append("boilerplate cluster not capped at max_bucket: "
                        f"{r['cluster_pairs']} pairs, max id "
                        f"{r['cluster_max_id']}")
        if full:
            errs += self._check_est_jaccard(r["sample"])
        return errs

    def _check_est_jaccard(self, sample: list[dict]) -> list[str]:
        """Recompute est_jaccard of sampled pairs from the signatures."""
        from spandex_spark.operators.dedup import minhash_signatures
        if not sample:
            return ["no sampled pairs"]
        ids = sorted({s["id_a"] for s in sample} | {s["id_b"] for s in sample})
        sigs = {r["doc_id"]: np.asarray(r["signature"]) for r in
                minhash_signatures(self.docs.filter(F.col("doc_id").isin(ids)),
                                   num_hashes=self.NUM_HASHES).collect()}
        bad = sum(float(np.mean(sigs[s["id_a"]] == sigs[s["id_b"]]))
                  != s["est_jaccard"] for s in sample)
        return [f"est_jaccard differs from signatures on {bad}/{len(sample)} "
                "pairs"] if bad else []


class ParcelText:
    """The polygon script and the text dedup, run back to back as one op:
    every call here shuffles or bbox-explodes, none rides the point key."""
    name = "parcel_text"
    # its first op carries the JVM's cold start and takes ~3 steady ops;
    # one warm-up op leaves the next only ~20% slower, and the median of
    # the three timed ops drops that one
    WARMUP_OPS = 1

    def __init__(self, seed: int, cpus: int):
        self.parts = [ParcelAnalysis(seed, cpus), TextDedup(seed, cpus)]
        self.rows = sum(p.rows for p in self.parts)

    def generate(self, work_dir: str) -> None:
        for p in self.parts:
            p.generate(work_dir)

    def prepare(self, spark, span) -> None:
        for p in self.parts:
            p.prepare(spark, span)

    def calls(self) -> list[Call]:
        return [c for p in self.parts for c in p.calls()]

    def check(self, res: list[dict], full: bool) -> list[str]:
        errs, i = [], 0
        for p in self.parts:
            n = len(p.calls())
            errs += p.check(res[i:i + n], full)
            i += n
        return errs


WORKLOADS = {w.name: w for w in (PipKnnStream, ParcelText)}
