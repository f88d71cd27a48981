"""Steps 2/4/5 — junction detection, snap application, edge splitting, nodes.

- ``endpoint_junction_points`` (A1/A2/A4, reference :2286-2316): endpoint and
  all-vertex multiplicity via groupBy counts; the clustering domain is
  distinct(endpoints ∪ junctions).
- ``build_edges`` (J2 + W2 + F1/F3 + F7-F9 + P5, reference :2465-2599):
  vertices explode with position → left join the snap map (J2, identity for
  non-members) → a second join flags whether the MAPPED vertex is in the snap
  map's key set (the reference's cut-set membership quirk, :2554-2559) →
  regroup per way → Arrow split kernel (shared geodesic/id kernels) →
  min-length filter.
- ``build_nodes`` (A6, reference :2643-2660): distinct snap targets.

The per-vertex joins are plain equi-joins on (lat, lon) — Catalyst/AQE pick
broadcast vs shuffle; the snap map is ~|endpoints| rows, orders of magnitude
smaller than the vertex explosion, so AQE broadcasts it at realistic scales.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..config import EngineConfig
from ..functions.geodesy import geodesic_m
from ..functions.hashing import edge_ids, node_ids
from ..functions.width import width_columns

EDGES_SCHEMA = (
    "id string, from_node_id string, to_node_id string, length_m double, "
    "lats array<double>, lons array<double>, name string, type string, "
    "width_raw string, width_m double, width_source string, original_way_id long, "
    "covering array<bigint>"
)
EDGES_COLUMNS = [c.split()[0] for c in EDGES_SCHEMA.split(", ")]

# Single source of truth for the covering resolution lives in operators.tiles
# so the fused kernel here and the Catalyst with_edge_covering path can never
# drift apart (re-exported for back-compat with existing imports).
from .tiles import COVERING_H3_RES  # noqa: E402


def endpoint_junction_points(ways: DataFrame) -> tuple[DataFrame, DataFrame]:
    """→ (endpoints_df, junctions_df), both (lat, lon) distinct.

    endpoints: first/last vertex of every way (distinct).
    junctions: endpoint-count > 1 ∪ (all-vertex-count > 1 minus the former).
    """
    eps = ways.select(
        F.explode(
            F.array(
                F.struct(
                    F.element_at("lats", 1).alias("lat"), F.element_at("lons", 1).alias("lon")
                ),
                F.struct(
                    F.element_at("lats", -1).alias("lat"), F.element_at("lons", -1).alias("lon")
                ),
            )
        ).alias("p")
    ).select("p.lat", "p.lon")
    ep_counts = eps.groupBy("lat", "lon").count()
    endpoint_junctions = ep_counts.where(F.col("count") > 1).select("lat", "lon")

    all_v = ways.select(
        F.explode(F.arrays_zip(F.col("lats").alias("lat"), F.col("lons").alias("lon"))).alias("p")
    ).select("p.lat", "p.lon")
    interior = (
        all_v.groupBy("lat", "lon")
        .count()
        .where(F.col("count") > 1)
        .select("lat", "lon")
        .join(endpoint_junctions, ["lat", "lon"], "left_anti")
    )
    endpoints = ep_counts.select("lat", "lon")
    junctions = endpoint_junctions.unionByName(interior)
    return endpoints, junctions


def clustering_domain(endpoints: DataFrame, junctions: DataFrame) -> DataFrame:
    return endpoints.unionByName(junctions).distinct()


def clustering_domain_fast(ways: DataFrame) -> DataFrame:
    """distinct(endpoints ∪ junctions) in ONE aggregation.

    Per vertex coordinate, count total occurrences and endpoint occurrences;
    the clustering domain is exactly {coords : ep_count ≥ 1 ∨ total > 1}
    (endpoints, endpoint-junctions ⊆ endpoints, and interior junctions).
    Replaces two groupBys + anti-join + union-distinct with one shuffle —
    set-identical to ``clustering_domain(endpoint_junction_points(ways))``.
    """
    verts = (
        ways.select(
            F.size("lats").alias("n"),
            F.posexplode(
                F.arrays_zip(F.col("lats").alias("lat"), F.col("lons").alias("lon"))
            ).alias("pos", "p"),
        )
        .select(
            F.col("p.lat").alias("lat"),
            F.col("p.lon").alias("lon"),
            ((F.col("pos") == 0) | (F.col("pos") == F.col("n") - 1)).alias("is_ep"),
        )
    )
    counts = verts.groupBy("lat", "lon").agg(
        F.count("*").alias("total"),
        F.sum(F.col("is_ep").cast("int")).alias("ep_count"),
    )
    return counts.where((F.col("ep_count") >= 1) | (F.col("total") > 1)).select("lat", "lon")


def build_edges(ways: DataFrame, snap: DataFrame, config: EngineConfig) -> DataFrame:
    precision = config.coordinate_precision
    hash_length = config.hash_length
    min_len = config.min_fragment_length_m

    # width parse (F7) — pure Catalyst, carried into the kernel
    raw_c, m_c, src_c = width_columns(F.col("tags").getItem("width"))
    ways_w = ways.select(
        "way_id",
        "lats",
        "lons",
        F.coalesce(F.col("tags").getItem("name"), F.lit("")).alias("name"),
        F.coalesce(F.col("tags").getItem("waterway"), F.lit("")).alias("type"),
        raw_c.alias("width_raw"),
        m_c.alias("width_m"),
        src_c.alias("width_source"),
    )

    # J2: per-vertex snap application
    verts = ways_w.select(
        "way_id",
        F.posexplode(F.arrays_zip(F.col("lats").alias("lat"), F.col("lons").alias("lon"))).alias(
            "pos", "p"
        ),
    ).select("way_id", "pos", F.col("p.lat").alias("lat"), F.col("p.lon").alias("lon"))
    mapped = (
        verts.join(snap, ["lat", "lon"], "left")
        .select(
            "way_id",
            "pos",
            F.coalesce("snap_lat", "lat").alias("mlat"),
            F.coalesce("snap_lon", "lon").alias("mlon"),
            (
                F.col("snap_lat").isNotNull()
                & (F.col("snap_lat") == F.col("lat"))
                & (F.col("snap_lon") == F.col("lon"))
            ).alias("unmoved"),
        )
    )
    # cut-set membership of the MAPPED vertex in the ORIGINAL domain-point
    # set D (reference :2554-2559 quirk). Exactly equivalent split — no
    # full-D distinct, no vertex-scale sort-merge join:
    # - an UNMOVED domain vertex maps to itself ∈ D (flag set inline in the
    #   snap join above);
    # - any other vertex's mapped coord is in D only if it is a MOVED
    #   centroid coinciding with some domain coordinate (a non-domain vertex
    #   maps to itself, and itself ∈ D would contradict the left-join miss).
    #   That coincidence set is computed as D ⋉ broadcast(moved centroids) —
    #   bounded by the ε-cluster count, broadcast-safe — and joined back to
    #   the vertices broadcast-wise.
    moved_targets = (
        snap.where((F.col("lat") != F.col("snap_lat")) | (F.col("lon") != F.col("snap_lon")))
        .select(F.col("snap_lat").alias("lat"), F.col("snap_lon").alias("lon"))
        .distinct()
    )
    cut_centroids = (
        snap.select("lat", "lon")
        .join(F.broadcast(moved_targets), ["lat", "lon"], "leftsemi")
        .select(F.col("lat").alias("mlat"), F.col("lon").alias("mlon"))
        .distinct()
        .withColumn("is_ct", F.lit(True))
    )
    flagged = mapped.join(F.broadcast(cut_centroids), ["mlat", "mlon"], "left").select(
        "way_id",
        "pos",
        "mlat",
        "mlon",
        (F.col("unmoved") | F.coalesce("is_ct", F.lit(False))).alias("is_cut"),
    )

    regrouped = (
        flagged.groupBy("way_id")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "mlat", "mlon", "is_cut"))).alias("vs"))
        .select(
            "way_id",
            F.col("vs.mlat").alias("lats_m"),
            F.col("vs.mlon").alias("lons_m"),
            F.col("vs.is_cut").alias("cuts"),
        )
        .join(ways_w.drop("lats", "lons"), "way_id")
    )

    from ..functions.arrow_lists import list_array, list_flat
    from ..functions.tiling import H3_RES_TO_LEVEL, polyline_coverings

    level = H3_RES_TO_LEVEL[COVERING_H3_RES]

    def kernel(batches):
        for batch in batches:
            # ways of ≥2 vertices; every vertex flagged a cut is an edge
            # boundary, and so are both ends of a way
            la, offs = list_flat(batch.column("lats_m"))
            lo, _ = list_flat(batch.column("lons_m"))
            ct, _ = list_flat(batch.column("cuts"))
            lens = np.diff(offs)
            rows = np.flatnonzero(lens >= 2)
            if not rows.size:
                continue
            vert = np.repeat(lens >= 2, lens)
            la, lo, ct = la[vert], lo[vert], ct[vert]
            lens = lens[rows]
            ends = np.cumsum(lens)
            ct[ends - lens] = ct[ends - 1] = True
            # ONE geodesic over every consecutive pair of the batch — the old
            # per-way call paid ~300 µs of Vincenty iteration machinery per
            # way (round-6 cProfile: 87% of this kernel's wall; guide §4.2).
            # geodesic_m is per-element masked, so batched values are
            # bit-identical to per-way slices. Pairs straddling a way
            # boundary are never read — zero them out so a near-antipodal
            # cross-way pair can't drag the whole batch through Vincenty's
            # 200-iteration non-convergence path
            la1, lo1, la2, lo2 = la[:-1].copy(), lo[:-1].copy(), la[1:].copy(), lo[1:].copy()
            for arr in (la1, lo1, la2, lo2):
                arr[ends[:-1] - 1] = 0.0
            seg_all = geodesic_m(la1, lo1, la2, lo2)
            # candidate edges: consecutive cuts of one way; k numbers them
            # per way, min-length drops included
            cut = np.flatnonzero(ct)
            way = np.searchsorted(ends, cut, side="right")
            same = way[1:] == way[:-1]
            s, e, way = cut[:-1][same], cut[1:][same], way[:-1][same]
            first = np.flatnonzero(np.r_[True, way[1:] != way[:-1]])
            k = np.arange(way.shape[0]) - np.repeat(first, np.diff(np.r_[first, way.shape[0]]))
            length = np.array([np.add.reduce(seg_all[a:b]) for a, b in zip(s, e)])
            keep = ~(length < min_len)
            if not keep.any():
                continue
            s, e, way, k, length = s[keep], e[keep], way[keep], k[keep], length[keep]
            src = rows[way]  # input row of each edge
            wids = batch.column("way_id").to_numpy(zero_copy_only=False)[src]
            fids = node_ids(la[s], lo[s], precision, hash_length)
            tids = node_ids(la[e], lo[e], precision, hash_length)
            eids = edge_ids(fids, tids, wids, k, hash_length)
            # edge vertices [s, e] inclusive, gathered flat
            n_v = e - s + 1
            out_offs = np.concatenate([[0], np.cumsum(n_v)])
            idx = np.arange(out_offs[-1]) - np.repeat(out_offs[:-1] - s, n_v)
            e_la, e_lo = la[idx], lo[idx]
            # covering fused into the split kernel: the Catalyst HOF variant
            # (tiles.edge_covering_col, kept for the SQL-checked query) is
            # interpreted per row and measured as the dominant pipeline tail
            # at 1M edges — this is one vectorized pass over the same arrays
            cells, cell_offs = polyline_coverings(e_la, e_lo, out_offs, level)
            take = pa.array(src)
            # from_pandas: a NaN length or width leaves as null
            width_m = batch.column("width_m").take(take).to_numpy(zero_copy_only=False)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(eids), pa.array(fids), pa.array(tids),
                    pa.array(length, from_pandas=True),
                    list_array(e_la, out_offs), list_array(e_lo, out_offs),
                    batch.column("name").take(take), batch.column("type").take(take),
                    batch.column("width_raw").take(take),
                    pa.array(width_m, from_pandas=True),
                    batch.column("width_source").take(take), pa.array(wids),
                    list_array(cells, cell_offs),
                ],
                names=EDGES_COLUMNS,
            )

    return regrouped.mapInArrow(kernel, schema=EDGES_SCHEMA)


def build_nodes(snap: DataFrame, config: EngineConfig) -> DataFrame:
    precision = config.coordinate_precision
    hash_length = config.hash_length

    @pandas_udf("string")
    def _node_id(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(
            node_ids(lat.to_numpy(dtype=float), lon.to_numpy(dtype=float), precision, hash_length)
        )

    uniq = snap.select(
        F.col("snap_lat").alias("lat"), F.col("snap_lon").alias("lon")
    ).distinct()
    return uniq.select(
        _node_id("lat", "lon").alias("id"), "lat", "lon", F.lit("junction").alias("type")
    )
