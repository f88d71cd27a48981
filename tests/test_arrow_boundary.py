"""The graph kernels' Arrow boundary (functions.arrow_lists): list columns
read as flat NumPy (values, offsets) and built back, and the sorted-run
walker that re-cuts batches so no way or block spans two of them."""

import numpy as np
import pyarrow as pa
import pytest

from osmwaterwayextractor_spark.config import EngineConfig
from osmwaterwayextractor_spark.functions.arrow_lists import (
    list_array,
    list_flat,
    whole_runs,
)


def test_list_flat_sliced_array_reads_its_own_lists():
    arr = pa.array([[1.0], [2.0, 3.0], [], [4.0, 5.0, 6.0], [7.0]])
    values, offsets = list_flat(arr.slice(1, 3))
    assert values.tolist() == [2.0, 3.0, 4.0, 5.0, 6.0]
    assert offsets.tolist() == [0, 2, 2, 5]


def test_list_flat_null_list_reads_empty():
    values, offsets = list_flat(pa.array([[1, 2], None, [], [3]], pa.list_(pa.int64())))
    assert values.tolist() == [1, 2, 3]
    assert offsets.tolist() == [0, 2, 2, 2, 3]
    # a null slot backed by non-empty child values still reads empty
    backed = pa.ListArray.from_arrays(
        pa.array([0, 2, 4, 5], pa.int32()),
        pa.array([1.0, 2.0, 8.0, 9.0, 3.0]),
        mask=pa.array([False, True, False]),
    )
    values, offsets = list_flat(backed)
    assert values.tolist() == [1.0, 2.0, 3.0]
    assert offsets.tolist() == [0, 2, 2, 3]


def test_list_flat_empty_column():
    values, offsets = list_flat(pa.array([], pa.list_(pa.float64())))
    assert values.shape == (0,) and offsets.tolist() == [0]


def test_list_array_round_trips():
    values = np.array([1.5, 2.5, 3.5])
    offsets = np.array([0, 0, 2, 3])
    arr = list_array(values, offsets)
    assert arr.type == pa.list_(pa.float64())
    assert arr.to_pylist() == [[], [1.5, 2.5], [3.5]]
    got_v, got_o = list_flat(arr)
    assert got_v.tolist() == values.tolist() and got_o.tolist() == offsets.tolist()


def _batch(keys):
    return pa.RecordBatch.from_arrays(
        [pa.array(keys, pa.int64()), pa.array(np.arange(len(keys)), pa.int64())],
        names=["k", "row"],
    )


def test_whole_runs_never_splits_a_run():
    keys = [1, 1, 2, 2, 2, 2, 2, 2, 2, 3, 4, 4]
    batches = [_batch(keys[i : i + 3]) for i in range(0, len(keys), 3)]
    batches.insert(2, _batch([]))  # an empty batch is skipped
    out = list(whole_runs(iter(batches), "k"))
    seen = [b.column("k").to_pylist() for b in out]
    assert sum(seen, []) == keys  # every row once, in order
    for i, cur in enumerate(seen):
        assert cur, "no empty batch is yielded"
        if i:
            assert cur[0] != seen[i - 1][-1], "a run spans two batches"
    # the 7-row run of key 2 crossed three input batches and leaves whole
    assert any(b.count(2) == 7 for b in seen)


def test_whole_runs_empty_input():
    assert list(whole_runs(iter([]), "k")) == []
    assert list(whole_runs(iter([_batch([])]), "k")) == []


@pytest.fixture
def tiny_batches(spark):
    """Arrow batches of 7 rows: every way and every ε-block of the
    fixtures below spans several of them."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)

    def run(collect):
        spark.conf.set(key, "7")
        try:
            return collect()
        finally:
            spark.conf.set(key, prev)

    return run


def test_fused_assembly_same_rows_across_batch_boundaries(spark, tiny_batches):
    from osmwaterwayextractor_spark.operators.assemble import assemble_clean_simplify
    from osmwaterwayextractor_spark.sources.docsgen import DocsGenParams, docs_dataframe
    from osmwaterwayextractor_spark.sources.parse import (
        nodes_from_parsed,
        parse_osm,
        ways_from_parsed,
    )

    cfg = EngineConfig(filter_waterway_types=False)
    docs = docs_dataframe(spark, 40, DocsGenParams(seed=5, mega_every=20, mega_refs=300))
    parsed = parse_osm(docs, cfg)
    out = assemble_clean_simplify(ways_from_parsed(parsed, cfg), nodes_from_parsed(parsed), cfg)

    def collect():
        return sorted(
            (r["way_id"], tuple(r["lats"]), tuple(r["lons"]), tuple(sorted(r["tags"].items())))
            for r in out.collect()
        )

    want = collect()
    assert len(want) > 10 and max(len(r[1]) for r in want) > 7
    assert tiny_batches(collect) == want


def test_snap_map_same_rows_across_batch_boundaries(spark, tiny_batches):
    from osmwaterwayextractor_spark.operators.cluster import snap_map

    # chains of 12 points 1 m apart (ε = 6 m): every block holds ≥ 12 rows
    pts = [
        (48.0 + c * 0.01 + i * 9.0e-6, 11.0 + c * 0.013)
        for c in range(15)
        for i in range(12)
    ]
    df = spark.createDataFrame(pts, "lat double, lon double")
    cfg = EngineConfig()

    def collect():
        return sorted(map(tuple, snap_map(df, cfg, spark).collect()))

    want = collect()
    assert len(want) == len(pts)
    assert len({(r[2], r[3]) for r in want}) == 15  # one centroid per chain
    assert tiny_batches(collect) == want
