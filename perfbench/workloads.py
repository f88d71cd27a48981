"""The benchmark's workloads.

Each workload stages its seeded inputs, then runs passes of its job, the
first in the fresh JVM as a batch user runs it. A pass times the part a
user waits for; its output check runs afterwards, untimed.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

import checks
import inputs

DEFAULT_SEED = 42
QUERIES = (
    "agg_stats", "salted_join", "multi_join", "epsilon_pairs", "knn_top1",
    "exact_dedup", "token_count", "langid", "lsh_ann", "minhash_pairs",
)


@dataclass
class Pass:
    wall_s: float
    ops: int
    window: tuple[float, float] = (0.0, 0.0)
    result: object = None
    failed: int = 0
    rows: int = 0
    problems: list[str] = field(default_factory=list)
    digest: object = None


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, expected):
        """``expected`` is what ``expected_output`` returned for the seed."""
        self.spark = spark
        self.work = work
        self.seed = seed
        self.expected = expected
        self.inputs = ""
        self.input_rows = 0

    @classmethod
    def expected_output(cls, seed: int, recorded: dict):
        """What the output check compares with: the digests ``recorded`` in
        expected.json, which hold for the default seed only."""
        return recorded.get(cls.name, {}) if seed == DEFAULT_SEED else {}

    def stage(self, target: str) -> None:
        """Write the seeded inputs under ``target``, use them and count
        their rows in ``input_rows``."""
        raise NotImplementedError

    def measure(self, spans) -> Pass:
        """One timed pass of the job."""
        raise NotImplementedError

    def check(self, p: Pass, reference) -> None:
        """Check the pass's output, untimed; ``reference`` is the first
        pass's digest (None for the first pass itself)."""
        raise NotImplementedError

    def trace_extras(self, spans, ckpt) -> dict:
        """Per-layer numbers only the traced run measures."""
        return {}


# --------------------------------------------------------------------------
# waterway graph


def engine_config():
    from osmwaterwayextractor_spark.config import EngineConfig

    # the generator emits waterway types the default filter would drop
    return EngineConfig(filter_waterway_types=False)


def docs_params(seed: int, mega_every: int):
    from osmwaterwayextractor_spark.sources.docsgen import DocsGenParams

    return DocsGenParams(seed=seed, mega_every=mega_every, mega_refs=20000)


def build(spark, docs_path: str, spans, checkpointer=None) -> tuple[float, object, tuple[float, float]]:
    """Build the graph and compute nodes, edges (every column) and the tile
    rollup to a no-op sink; returns (wall, result, window)."""
    from osmwaterwayextractor_spark.plans.pipeline import WaterwayEngine

    docs = spark.read.parquet(docs_path)
    t0 = time.time()
    g = WaterwayEngine(engine_config(), checkpointer=checkpointer).build_graph(docs, spark)
    t_tail = time.time()
    for df in (g.nodes, g.edges, g.tile_rollup):
        df.write.format("noop").mode("overwrite").save()
    t1 = time.time()
    if spans is not None:
        # the final tile columns, covering and rollup are computed here
        spans.record("operators.tiles.tiles", t_tail, t1)
    return t1 - t0, g, (t0, t1)


def oracle_digest(docs: list[dict]) -> dict:
    """The content digest of ``oracle.run_oracle`` on the same documents:
    what the engine's graph must equal, for any seed."""
    from osmwaterwayextractor_spark.oracle import run_oracle

    cfg = engine_config()
    return checks.graph_digest(checks.graph_rows_from_oracle(run_oracle(docs, cfg), cfg))


def check_graph(graph, expected, reference) -> tuple[dict, list[str]]:
    """``expected`` is the oracle's digest of the inputs (None skips that
    comparison), ``reference`` the first pass's."""
    cfg = engine_config()
    rows = checks.graph_rows_from_spark(graph, cfg)
    digest = checks.graph_digest(rows)
    problems = checks.graph_invariants(rows, cfg)
    if reference is not None and digest != reference:
        problems.append(f"graph differs from the first pass: {digest} vs {reference}")
    if expected is not None and digest != expected:
        problems.append(f"graph differs from the oracle's: {digest} vs {expected}")
    return digest, problems


class GraphSkewed(Workload):
    name = "graph_skewed"
    n_docs = 100
    mega_every = 25

    @classmethod
    def expected_output(cls, seed: int, recorded: dict):
        """The oracle's digest of the seed's documents, for any seed."""
        return oracle_digest(inputs.docs_list(cls.n_docs, docs_params(seed, cls.mega_every)))

    def stage(self, target: str) -> None:
        docs = inputs.docs_list(self.n_docs, docs_params(self.seed, self.mega_every))
        self.input_rows = inputs.write_docs(target, docs)
        self.inputs = target

    def measure(self, spans) -> Pass:
        wall, graph, window = build(self.spark, self.inputs, spans)
        return Pass(wall, 1, window, graph)

    def check(self, p: Pass, reference) -> None:
        p.digest, p.problems = check_graph(p.result, self.expected, reference)
        p.rows = p.digest["edges"]["rows"]
        p.failed = int(bool(p.problems))

    def trace_extras(self, spans, ckpt) -> dict:
        """The durable path, traced only: a cold run with tile-partitioned
        checkpoints on unskewed docs, then a resume after a crash."""
        return DurableResume(self.spark, self.work, self.seed).run(spans, ckpt)


class DurableResume:
    """Cold run with a ``Checkpointer`` on a fresh root, a simulated crash
    that loses every stage after ``intersections``, and a resume whose
    result must equal the cold one."""

    n_docs = 20
    downstream = (
        "clustering_domain", "clustering", "edges", "nodes", "nodes_tiled", "edges_tiled", "tiles",
    )

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        docs = inputs.docs_list(self.n_docs, docs_params(seed, 0))
        self.expected = oracle_digest(docs)
        self.docs = os.path.join(work, f"durable-docs-{seed}")
        inputs.write_docs(self.docs, docs)
        # a fresh root per run: stage dirs are keyed on the config hash only,
        # so a reused root would resume another seed's stages
        self.root = os.path.join(work, f"ckpt-{uuid.uuid4().hex[:8]}")

    def crash(self) -> None:
        for path in glob.glob(os.path.join(self.root, "*")):
            if os.path.basename(path).rsplit("_", 1)[0] in self.downstream:
                shutil.rmtree(path)

    def run(self, spans=None, ckpt=None) -> dict:
        from osmwaterwayextractor_spark.plans.checkpoint import Checkpointer

        cold = Checkpointer(self.spark, self.root)
        cold_s, graph, _ = build(self.spark, self.docs, spans, cold)
        digest, problems = check_graph(graph, self.expected, None)
        files = [os.path.join(d, f) for d, _, fs in os.walk(self.root) for f in fs if f.endswith(".parquet")]
        self.crash()
        resumed = Checkpointer(self.spark, self.root)
        resume_s, graph, window = build(self.spark, self.docs, spans, resumed)
        problems += check_graph(graph, None, digest)[1]
        stages = {e["stage"] for e in resumed.events if e["action"] == "resumed"}
        if "intersections" not in stages or stages & set(self.downstream):
            problems.append(f"resume reused the wrong stages: {sorted(stages)}")
        read_s = sum(
            s.end - s.start
            for s in (ckpt.spans if ckpt else [])
            if window[0] <= s.start <= window[1] and s.detail.get("action") == "resumed"
        )
        partition_dirs = {os.path.dirname(f) for f in files if "=" in os.path.basename(os.path.dirname(f))}
        return {
            "cold_s": cold_s,
            "resume_s": resume_s,
            "write_s": sum(e.get("seconds", 0.0) for e in cold.events if e["action"] == "computed"),
            "read_s": read_s,
            "files_written": len(files),
            "partitions_written": len(partition_dirs),
            "partitions_skipped": sum(e.get("skipped_partitions", 0) for e in resumed.events),
            "stages_resumed": len(stages),
            "digest": digest,
            "problems": problems,
            "ops": 2,
            "failed": int(bool(problems)),
        }


# --------------------------------------------------------------------------
# entry queries


class Queries(Workload):
    name = "queries"
    scale = 0.02

    def stage(self, target: str) -> None:
        os.makedirs(target)
        self.input_rows = sum(inputs.write_tables(target, self.scale, self.seed).values())
        self.inputs = target

    def measure(self, spans) -> Pass:
        from osmwaterwayextractor_spark import entry_queries as EQ

        q = EQ.queries()
        t_lo = time.time()
        wall, results, errors = 0.0, {}, []
        for name in QUERIES:
            t0 = time.time()
            try:
                results[name] = q[name](self.spark, self.inputs).toArrow()
            except Exception as e:  # a failed query counts against the run
                errors.append(f"{name}: {type(e).__name__}: {e}")
                continue
            t1 = time.time()
            wall += t1 - t0
            if spans is not None:
                spans.record(f"entry_queries.{name}", t0, t1)
        p = Pass(wall, len(QUERIES), (t_lo, time.time()), results)
        p.problems, p.failed = errors, len(errors)
        return p

    def check(self, p: Pass, reference) -> None:
        p.result = {name: table.to_pylist() for name, table in p.result.items()}
        p.digest = {
            name: {
                "rows": len(rows),
                "hash": checks.content_hash(tuple(r[c] for c in sorted(r)) for r in rows),
            }
            for name, rows in p.result.items()
        }
        p.rows = sum(d["rows"] for d in p.digest.values())
        for name, rows in p.result.items():
            bad = self._check(name, rows, p.digest[name], reference)
            p.failed += bool(bad)
            p.problems += bad

    def _check(self, name, rows, digest, reference) -> list[str]:
        if reference is not None:
            return [] if reference.get(name) == digest else [f"{name}: differs from the first pass"]
        if self.expected and self.expected.get(name) != digest:
            return [f"{name}: differs from the recorded result {self.expected.get(name)}: {digest}"]
        if name == "minhash_pairs":
            return checks.minhash_problems(rows, self._column_map("documents", "doc_id", "text"))
        if name == "lsh_ann":
            vectors = self._column_map("embeddings", "vec_id", "embedding")
            # the query asks for the neighbours of vec_id < 20
            return checks.lsh_problems(rows, vectors, [v for v in vectors if v < 20])
        return [] if checks.rows_match(rows, self._duckdb(name)) else [f"{name}: differs from DuckDB"]

    def _column_map(self, table: str, key: str, value: str) -> dict:
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(self.inputs, f"{table}.parquet"), columns=[key, value])
        return dict(zip(t.column(key).to_pylist(), t.column(value).to_pylist()))

    def _duckdb(self, name: str) -> list[dict]:
        """The query's SQL twin from ``entry_queries.oracle_sql`` in DuckDB."""
        import duckdb

        from osmwaterwayextractor_spark import entry_queries as EQ

        con = duckdb.connect()
        try:
            for t in inputs.TABLES:
                path = os.path.join(self.inputs, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            return con.execute(EQ.oracle_sql()[name]).fetch_arrow_table().to_pylist()
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (GraphSkewed, Queries)}
