"""Interleaved-span parser: docs → parsed OSM records.

Spark-first replacement for the reference's osmium PBF scan
(osm_waterway_extractor.py:1368-1418, :2704-2738): instead of a per-object
Python callback (the reference's dominant cost, see BASELINE.md), this is a
declarative plan — ``posexplode(spans)`` → ``kind`` filter (pushed by
Catalyst) → ONE Arrow C++ ndjson batch kernel that parses node AND way
payloads in a single scan (``parse_osm``), with Python-round-exact
coordinate rounding fused in (reference :1579-1583, hoisted to parse time:
rounding is per-coordinate, so rounding node records before geometry
assembly is equivalent and saves a later array rewrite). Relations parse
via ``from_json`` (tiny volume, parsed on demand).

The docs table itself is never mutated: the per-row span-sequence invariant
(kind, text, media_ref, order) holds trivially and is pinned by
``span_sequence`` + tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..functions.geodesy import round_coords

RELATION_JSON_SCHEMA = (
    "id bigint, members array<struct<type:string,ref:bigint,role:string>>, "
    "tags map<string,string>"
)


def explode_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, kind, text, media_ref, offset) — one row per span."""
    return docs.select(
        "doc_id", F.posexplode("spans").alias("pos", "span")
    ).select(
        "doc_id",
        "pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def span_sequence(docs: DataFrame) -> DataFrame:
    """Canonical per-row invariant view: (doc_id, pos, kind, text, media_ref),
    ordered by in-array position. Compared before/after any engine round-trip
    to prove spans survive bit-for-bit (BASELINE.json per-row invariant)."""
    return explode_spans(docs).select("doc_id", "pos", "kind", "text", "media_ref")


OSM_PARSED_SCHEMA = (
    "kind string, node_id long, lat double, lon double, "
    "way_id long, refs array<long>, tags map<string,string>"
)


def _ndjson(texts) -> "pa.Buffer":
    """Span texts → one newline-delimited JSON blob, joined Arrow-side."""
    import pyarrow as pa
    import pyarrow.compute as pc

    one_list = pa.ListArray.from_arrays(pa.array([0, len(texts)], pa.int32()), texts)
    return pc.binary_join(one_list, "\n")[0].as_buffer()


def _tags_map(tbl):
    """The reader's inferred tags struct (one field per observed key) →
    ``map<string,string>``: the non-null (row, field) pairs in row-major
    order, keys and items gathered with ``take``. A way without tags gets
    an empty map."""
    import numpy as np
    import pyarrow as pa

    n = tbl.num_rows
    if "tags" in tbl.schema.names and pa.types.is_struct(tbl.schema.field("tags").type):
        sc = tbl.column("tags").chunk(0)
        names = [f.name for f in sc.type]
        # a key seen only with null values is inferred as the null type
        children = [sc.field(i).cast(pa.string()) for i in range(len(names))]
    else:
        names, children = [], []
    valid = np.zeros((n, len(names)), dtype=bool)
    for j, child in enumerate(children):
        valid[:, j] = child.is_valid().to_numpy(zero_copy_only=False)
    rows, fields = np.nonzero(valid)
    offsets = np.concatenate([[0], np.cumsum(valid.sum(axis=1))]).astype(np.int32)
    keys = pa.array(names, pa.string()).take(fields)
    items = (
        pa.concat_arrays(children).take(fields * n + rows)
        if children
        else pa.array([], pa.string())
    )
    return pa.MapArray.from_arrays(offsets, keys, items)


def _osm_parse_kernel(precision: int):
    """ONE Arrow C++ ndjson pass for BOTH node and way payloads (union
    schema) — replaces the round-1 design of two full span scans (one
    Arrow-kernel scan for nodes + one Jackson from_json scan for ways).
    Node coordinates get Python-round-exact rounding in the same pass.
    Batches in, batches out: the reader's columns leave as they are read."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.json as pajson

    node_schema = pa.schema(
        [("id", pa.int64()), ("lat", pa.float64()), ("lon", pa.float64())]
    )
    node_popts = pajson.ParseOptions(explicit_schema=node_schema)
    way_schema = pa.schema([("id", pa.int64()), ("refs", pa.list_(pa.int64()))])
    # tags keys are open-ended (real OSM) → let Arrow infer the per-batch
    # struct of observed keys, converted to a map column (null fields dropped)
    way_popts = pajson.ParseOptions(
        explicit_schema=way_schema, unexpected_field_behavior="infer"
    )
    # use_threads=False: Arrow's JSON reader otherwise fans each task out over
    # its own host-wide thread pool — N tasks × N-thread pools oversubscribes
    # the machine quadratically and destroys core-count scaling (measured:
    # parse anti-scaled 7× from 8→32 tasks with the default).
    ropts = pajson.ReadOptions(use_threads=False)
    i64, f64 = pa.int64(), pa.float64()
    refs_t, tags_t = pa.list_(i64), pa.map_(pa.string(), pa.string())
    out_schema = pa.schema(
        [("kind", pa.string()), ("node_id", i64), ("lat", f64), ("lon", f64),
         ("way_id", i64), ("refs", refs_t), ("tags", tags_t)]
    )

    def read(batch, kind, popts):
        """The batch's ``kind`` spans as one parsed table, or None."""
        texts = batch.column("text").filter(pc.equal(batch.column("kind"), kind))
        if len(texts):
            tbl = pajson.read_json(
                pa.BufferReader(_ndjson(texts)), read_options=ropts, parse_options=popts
            )
            if tbl.num_rows:
                return tbl.combine_chunks()
        return None

    def coord(tbl, name):
        # from_pandas: a missing coordinate (NaN after to_numpy) stays null
        x = tbl.column(name).to_numpy()
        return pa.array(round_coords(x, precision), from_pandas=True)

    def kernel(batches):
        # node and way batches are yielded SEPARATELY, nodes first
        for batch in batches:
            if (tbl := read(batch, "osm_node", node_popts)) is not None:
                n = tbl.num_rows
                yield pa.RecordBatch.from_arrays(
                    [pa.repeat("osm_node", n), tbl.column("id").chunk(0),
                     coord(tbl, "lat"), coord(tbl, "lon"), pa.nulls(n, i64),
                     pa.nulls(n, refs_t), pa.nulls(n, tags_t)],
                    schema=out_schema,
                )
            if (tbl := read(batch, "osm_way", way_popts)) is not None:
                n = tbl.num_rows
                yield pa.RecordBatch.from_arrays(
                    [pa.repeat("osm_way", n), pa.nulls(n, i64), pa.nulls(n, f64),
                     pa.nulls(n, f64), tbl.column("id").chunk(0),
                     tbl.column("refs").chunk(0), _tags_map(tbl)],
                    schema=out_schema,
                )

    return kernel


def parse_osm(docs: DataFrame, config: EngineConfig) -> DataFrame:
    """docs → union-schema parsed OSM records in ONE span scan: rows with
    ``kind='osm_node'`` carry (node_id, lat, lon); ``kind='osm_way'`` carry
    (way_id, refs, tags). The pipeline materializes this once and derives
    nodes/ways as cheap filters (nodes_from_parsed / ways_from_parsed)."""
    spans = explode_spans(docs).where(
        F.col("kind").isin("osm_node", "osm_way")
    ).select("kind", "text")
    return spans.mapInArrow(
        _osm_parse_kernel(config.coordinate_precision), schema=OSM_PARSED_SCHEMA
    )


def nodes_from_parsed(parsed: DataFrame) -> DataFrame:
    return parsed.where(F.col("kind") == "osm_node").select("node_id", "lat", "lon")


def ways_from_parsed(parsed: DataFrame, config: EngineConfig) -> DataFrame:
    """Way rows + the waterway-type scan filter (reference P1, :1390) and the
    ≥2-refs precursor (P2)."""
    ways = parsed.where(F.col("kind") == "osm_way").select("way_id", "refs", "tags")
    if config.filter_waterway_types:
        ways = ways.where(
            F.col("tags").getItem("waterway").isin(list(config.waterway_types))
        )
    return ways.where(F.size("refs") >= 2)


def parse_nodes(docs: DataFrame, config: EngineConfig) -> DataFrame:
    """osm_node spans → (node_id long, lat double, lon double), rounded."""
    return nodes_from_parsed(parse_osm(docs, config))


def parse_ways(docs: DataFrame, config: EngineConfig) -> DataFrame:
    """osm_way spans → (way_id long, refs array<long>, tags map) filtered."""
    return ways_from_parsed(parse_osm(docs, config), config)


def parse_relations(docs: DataFrame, config: EngineConfig) -> DataFrame:
    """osm_relation spans → (relation_id long, members array<struct>, tags).

    The reference's graph builder consumes only nodes and ways (its osmium
    handler :1368-1418 defines node/way callbacks; relations never feed the
    edge set) — this engine matches that: relations are parsed, preserved and
    countable, but intentionally NOT used in graph assembly (documented
    non-use, BASELINE.json north_star sentence 1)."""
    spans = explode_spans(docs)
    return (
        spans.where(F.col("kind") == "osm_relation")
        .select(F.from_json("text", RELATION_JSON_SCHEMA).alias("r"))
        .select(
            F.col("r.id").alias("relation_id"),
            F.col("r.members").alias("members"),
            F.col("r.tags").alias("tags"),
        )
    )
