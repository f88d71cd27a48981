"""The pipeline's one stage boundary (``WaterwayEngine._stage``): every Spark
job a stage causes carries its ``stage-<name>`` description, and durable
stage checkpoints are keyed on every knob their rows depend on."""

import dataclasses

import pytest

from osmwaterwayextractor_spark.config import EngineConfig
from osmwaterwayextractor_spark.plans.checkpoint import Checkpointer
from osmwaterwayextractor_spark.plans.pipeline import WaterwayEngine
from osmwaterwayextractor_spark.sources.docsgen import DocsGenParams, generate_doc

from tests.test_pipeline_parity import _docs_df

DOCS = [generate_doc(i, DocsGenParams(seed=31, mega_every=0)) for i in range(12)]


def _job_descriptions(sc) -> dict[int, str]:
    """Job id → description of every job the status store holds, once the
    listener bus has delivered all events so far."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    out = {}
    for i in range(jobs.size()):
        job = jobs.apply(i)
        desc = job.description()
        out[job.jobId()] = desc.get() if desc.isDefined() else ""
    return out


@pytest.mark.parametrize("durable", [False, True], ids=["ephemeral", "durable"])
def test_every_build_graph_job_is_stage_labelled(spark, tmp_path, durable):
    sc = spark.sparkContext
    docs = _docs_df(spark, DOCS)
    ck = Checkpointer(spark, str(tmp_path / "ckpt")) if durable else None
    before = set(_job_descriptions(sc))
    sc.setLocalProperty("spark.job.description", "outer-harness")
    try:
        WaterwayEngine(EngineConfig(), checkpointer=ck).build_graph(docs, spark)
        # the caller's description is restored
        assert sc.getLocalProperty("spark.job.description") == "outer-harness"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    new = {j: d for j, d in _job_descriptions(sc).items() if j not in before}
    assert new, "build_graph submitted no jobs"
    unlabelled = {j: d for j, d in new.items() if not d.startswith("stage-")}
    assert not unlabelled, unlabelled
    labels = set(new.values())
    assert {"stage-covered", "stage-clustering"} <= labels
    if durable:
        assert {"stage-nodes_tiled", "stage-edges_tiled", "stage-tiles"} <= labels


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_type_filter_change_recomputes_simplified(spark, tmp_path):
    docs = _docs_df(spark, DOCS)
    root = str(tmp_path / "ckpt")
    both = EngineConfig()
    rivers = dataclasses.replace(both, waterway_types=("river",))

    g1 = WaterwayEngine(both, checkpointer=Checkpointer(spark, root)).build_graph(docs, spark)
    ck2 = Checkpointer(spark, root)
    g2 = WaterwayEngine(rivers, checkpointer=ck2).build_graph(docs, spark)
    fresh = WaterwayEngine(rivers).build_graph(docs, spark)

    actions = {e["stage"]: e["action"] for e in ck2.events}
    assert actions["parsed"] == "resumed"  # the filter runs after parsing
    assert actions["simplified"] == "computed"
    assert _ids(g2.edges) == _ids(fresh.edges)
    assert _ids(g2.nodes) == _ids(fresh.nodes)
    # the fixture holds canals, so the rerun must not be the first graph
    assert _ids(g2.edges) != _ids(g1.edges)


def test_resumed_stages_are_not_built(spark, tmp_path, monkeypatch):
    """A rerun on a complete root resumes every stage without building it:
    snap_map's eager jobs (hot-block checkpoint, mapping checkpoint,
    violation probe) must not run for a resumed clustering stage."""
    import osmwaterwayextractor_spark.plans.pipeline as pipeline

    docs = _docs_df(spark, DOCS)
    root = str(tmp_path / "ckpt")
    cfg = EngineConfig()
    g1 = WaterwayEngine(cfg, checkpointer=Checkpointer(spark, root)).build_graph(docs, spark)
    want = (_ids(g1.edges), _ids(g1.nodes))

    def snap_map(*args, **kwargs):
        raise AssertionError("snap_map built for a resumed stage")

    monkeypatch.setattr(pipeline, "snap_map", snap_map)
    ck = Checkpointer(spark, root)
    g2 = WaterwayEngine(cfg, checkpointer=ck).build_graph(docs, spark)
    assert ck.events and {e["action"] for e in ck.events} == {"resumed"}
    assert (_ids(g2.edges), _ids(g2.nodes)) == want
