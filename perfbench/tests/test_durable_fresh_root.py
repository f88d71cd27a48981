"""Each durable run checkpoints under a fresh root, so a second seed never
resumes the first seed's stages (stage dirs are keyed on the config hash
only)."""

import workloads


class SmallDurable(workloads.DurableResume):
    n_docs = 6


def test_seed_b_after_seed_a_reuses_nothing(spark, tmp_path):
    from osmwaterwayextractor_spark.plans.checkpoint import Checkpointer

    a = SmallDurable(spark, str(tmp_path), seed=1)
    result_a = a.run()
    assert result_a["problems"] == []
    assert result_a["stages_resumed"] == 3  # parsed, simplified, intersections

    b = SmallDurable(spark, str(tmp_path), seed=2)
    assert b.root != a.root
    cold_b = Checkpointer(spark, b.root)
    _, graph_b, _ = workloads.build(spark, b.docs, None, cold_b)
    assert cold_b.events and all(e["action"] == "computed" for e in cold_b.events)
    digest_b, problems = workloads.check_graph(graph_b, None, None)
    assert problems == []
    assert digest_b != result_a["digest"]
