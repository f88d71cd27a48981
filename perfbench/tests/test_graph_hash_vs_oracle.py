"""The benchmark's graph check compares the engine with the single-process
oracle on the same inputs."""

import checks
import inputs
import pytest
import workloads


@pytest.mark.parametrize(
    "n_docs,mega_every",
    # the skewed prefix ends on its first mega-way
    [(workloads.GraphSkewed.mega_every + 1, workloads.GraphSkewed.mega_every),
     (workloads.DurableResume.n_docs, 0)],
)
def test_engine_hash_equals_oracle_hash(spark, tmp_path, n_docs, mega_every):
    seed = 7
    path = str(tmp_path / "docs")
    docs = inputs.docs_list(n_docs, workloads.docs_params(seed, mega_every))
    inputs.write_docs(path, docs)
    _, graph, _ = workloads.build(spark, path, None)
    digest, problems = workloads.check_graph(graph, workloads.oracle_digest(docs), None)
    assert problems == []
    assert digest["edges"]["rows"] > 0


def test_check_graph_reports_a_wrong_graph(spark, tmp_path):
    docs = inputs.docs_list(workloads.DurableResume.n_docs, workloads.docs_params(3, 0))
    path = str(tmp_path / "docs")
    inputs.write_docs(path, docs)
    _, graph, _ = workloads.build(spark, path, None)
    other = workloads.oracle_digest(
        inputs.docs_list(workloads.DurableResume.n_docs, workloads.docs_params(4, 0))
    )
    _, problems = workloads.check_graph(graph, other, None)
    assert any("oracle" in p for p in problems)


def test_content_hash_ignores_row_order():
    rows = [("a", 1.0, [1.0, 2.0]), ("b", -0.0, [])]
    assert checks.content_hash(rows) == checks.content_hash(list(reversed(rows)))
    assert checks.content_hash(rows) == checks.content_hash([("a", 1.0, [1.0, 2.0]), ("b", 0.0, [])])
    assert checks.content_hash(rows) != checks.content_hash(rows[:1])
