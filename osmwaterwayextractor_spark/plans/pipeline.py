"""End-to-end waterway-graph pipeline (reference build_graph :1433-1523).

``WaterwayEngine.build_graph(docs_df)`` runs these stages:

  parsed (S1) → simplified (J1 assemble + P2-P4/F4 clean+simplify) →
  covered → intersections (J5/F5/W1) → clustering_domain (A1-A4) →
  clustering (J3/A7/A5 snap map) → edges (J2/W2/F1/F3/F7-F9/P5) ∥ nodes (A6)
  → nodes_tiled, edges_tiled, tiles (F14/A10; checkpointed runs only)

Every stage ends at one boundary, ``WaterwayEngine._stage``: its Spark jobs
run under the ``stage-<name>`` job description, and its result is
materialized either by the durable ``plans.checkpoint.Checkpointer`` —
parquet keyed by the stage's parameter-subset hash (reference cache
semantics :1441-1515, :3048-3055) with per-partition lineage manifests, so
reruns skip completed stages — or, without one, to scratch parquet.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from ..config import EngineConfig
from ..operators.cluster import snap_map
from ..operators.edges import build_edges, build_nodes, clustering_domain_fast
from ..operators.geometry_ops import detect_intersections, insert_intersections
from ..operators.tiles import channel_density_rollup, with_edge_cells, with_node_cells


def _parquet_max_abs(path: Optional[str], col: str, max_files: int = 256) -> Optional[float]:
    """max(|col|) from parquet row-group footer statistics — a driver-side
    metadata read that replaces a full Spark aggregation job when a stage
    just materialized to parquet. Returns None (caller falls back to the
    distributed agg) when no path/stats are available, or when the directory
    holds more than ``max_files`` files: footer stats of a *sample* are not
    an upper bound, so past the cap the driver does zero footer I/O rather
    than loop over 10⁵+ files."""
    if not path:
        return None
    import glob
    import os

    import pyarrow.parquet as pq

    mx: Optional[float] = None
    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files or len(files) > max_files:
        return None
    for f in files:
        md = pq.read_metadata(f)
        if col not in md.schema.names:
            return None
        idx = md.schema.names.index(col)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            m = max(abs(float(st.min)), abs(float(st.max)))
            mx = m if mx is None or m > mx else mx
    return mx


@dataclass
class GraphResult:
    nodes: DataFrame
    edges: DataFrame
    tile_rollup: DataFrame


class WaterwayEngine:
    def __init__(self, config: Optional[EngineConfig] = None, checkpointer=None):
        self.config = config or EngineConfig()
        self.checkpointer = checkpointer
        self._scratch: Optional[str] = None
        self._spark: Optional[SparkSession] = None
        self._last_stage_path: Optional[str] = None  # parquet dir of the last stage

    def _stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        durable: bool = True,
        partition_col: Optional[str] = None,
    ) -> DataFrame:
        """End a pipeline stage: build its DataFrame and materialize it —
        or, when the durable Checkpointer will resume the whole stage, read
        it back without building it.

        Every Spark job ``build`` and the materialization submit — eager
        operator work such as snap_map's checkpoints included — runs under
        the ``stage-<name>`` job description (shows in the UI and the event
        log's job/stage Properties), so per-stage task time is attributable
        in event-log analyzers; the caller's description is restored on
        exit.

        The durable Checkpointer owns the stage when there is one and
        ``durable`` is set (``partition_col`` selects its tile-partition
        resume). Otherwise the stage round-trips through scratch parquet:
        plan truncation is mandatory either way — the pipeline's logical
        plan is deep, and every downstream action would re-analyze/optimize
        the whole accumulated tree on the driver (seconds per action).
        Parquet keeps the stage columnar, serialized and OFF the GC's live
        set; ``localCheckpoint`` keeps deserialized row objects in executor
        storage and inflated JVM GC to ~470 task-seconds per 100k-doc run.
        """
        sc = self._spark.sparkContext
        t0 = time.time()
        prev_desc = sc.getLocalProperty("spark.job.description")
        sc.setLocalProperty("spark.job.description", f"stage-{name}")
        try:
            if self.checkpointer is not None and durable:
                path = os.path.join(self.checkpointer._stage_dir(name, self.config), "data")
                # a stage the Checkpointer resumes whole is never built: its
                # eager work (snap_map's checkpoints and probes) would be wasted
                resumed = self.checkpointer.is_complete(
                    name, self.config, partitioned=partition_col is not None
                )
                df = None if resumed else build()
                if partition_col is None:
                    out = self.checkpointer.materialize(name, self.config, df)
                else:
                    out = self.checkpointer.materialize_partitioned(
                        name, self.config, df, partition_col
                    )
            else:
                df = build()
                path = os.path.join(self._scratch_dir(), name)
                # 8 MiB row groups: parquet scans split at row-group
                # granularity, and a stage written from a 16-partition shuffle
                # with skewed/empty partitions otherwise yields a handful of
                # single-row-group files — downstream scans then run 6-9 tasks
                # and idle most cores of a multi-core run in the last wave
                # (round-5 event-log audit: stages with 6 tasks at 0.26
                # utilization). 8 MiB also lets a scan split mega-way row
                # clusters (a 20k-vertex row is ~320 KB — a coarse row group
                # packs enough of them that one split dominates the stage).
                df.write.mode("overwrite").option(
                    "parquet.block.size", str(8 * 1024 * 1024)
                ).parquet(path)
                out = self._spark.read.parquet(path)
        finally:
            # restore the caller's description (ADVICE r5: resetting to None
            # clobbered any label an outer harness had set for its own jobs)
            sc.setLocalProperty("spark.job.description", prev_desc)
        self._last_stage_path = path
        if os.environ.get("OSMWWE_STAGE_TIMING"):
            print(f"[stage] {name}: {time.time() - t0:.2f}s", flush=True)
        return out

    def _scratch_dir(self) -> str:
        """Per-engine scratch root under the first spark.local.dir (tmpfs
        when it points there), removed at process exit."""
        if self._scratch is None:
            import atexit
            import shutil
            import uuid

            base = self._spark.conf.get("spark.local.dir", "/tmp")
            self._scratch = os.path.join(
                base.split(",")[0], f"osmwwe-stages-{uuid.uuid4().hex[:8]}"
            )
            atexit.register(shutil.rmtree, self._scratch, ignore_errors=True)
        return self._scratch

    def _stages_concurrent(
        self, stages: list[tuple[str, Callable[[], DataFrame]]]
    ) -> list[DataFrame]:
        """``_stage`` independent stages from concurrent driver threads so
        their Spark jobs overlap (the round-1 pipeline ran ~40 jobs strictly
        serially — the dominant anti-scaling cost). The durable-checkpoint
        path stays serial: resume semantics over one manifest dir are not
        worth racing."""
        if self.checkpointer is not None:
            return [self._stage(n, build) for n, build in stages]
        from concurrent.futures import ThreadPoolExecutor

        sc = self._spark.sparkContext

        def run(n: str, build: Callable[[], DataFrame]) -> DataFrame:
            # distinct FAIR pool per concurrent stage: under FIFO the second
            # job's tasks only backfill the first job's idle slots; FAIR
            # interleaves them so neither stage's small tail serializes the
            # other (spark.scheduler.mode=FAIR set in spark_session)
            sc.setLocalProperty("spark.scheduler.pool", f"stage-{n}")
            try:
                return self._stage(n, build)
            finally:
                sc.setLocalProperty("spark.scheduler.pool", None)

        with ThreadPoolExecutor(len(stages)) as pool:
            futs = [pool.submit(run, n, build) for n, build in stages]
            return [f.result() for f in futs]

    def build_graph(self, docs: DataFrame, spark: Optional[SparkSession] = None) -> GraphResult:
        # looked up per call in their own modules, where tracing wrappers
        # (perfbench/layers.py OPERATOR_CALLS) install themselves
        from ..operators.assemble import assemble_clean_simplify
        from ..operators.geometry_ops import _covered_for_join
        from ..sources.parse import nodes_from_parsed, parse_osm, ways_from_parsed

        spark = self._spark = spark or docs.sparkSession
        cfg = self.config

        # ONE span scan parses nodes AND ways (union schema); it materializes
        # once and the assembly's consumers (refs, tags, node coords) read it
        # back as cheap stage-scan filters
        parsed = self._stage("parsed", lambda: parse_osm(docs, cfg))
        # assembly + clean + simplify as ONE Arrow pass: the assembled
        # vertex arrays never round-trip JVM↔Python between kernels
        simplified = self._stage(
            "simplified",
            lambda: assemble_clean_simplify(
                ways_from_parsed(parsed, cfg), nodes_from_parsed(parsed), cfg
            ),
        )

        if cfg.enable_intersection_detection:
            # detect feeds insert lazily: insert's left join passes ways with
            # no candidate points through untouched, so the empty-point case
            # needs no isEmpty() driver probe. The covered-segment table is
            # materialized ONCE and fed to both operators: across the
            # composed plan Catalyst's column pruning otherwise builds a
            # second, narrower covered exchange and re-runs the whole
            # scan+explode lineage (round-5 profile: duplicate 52-CPU-s
            # build at 100k docs). It is an exchange-grade internal
            # artifact, not a resumable stage, so it is never handed to the
            # durable Checkpointer, and it is skipped when the intersections
            # stage is already checkpoint-complete (resume must not
            # recompute it).
            covered = None
            if not (
                self.checkpointer is not None
                and self.checkpointer.is_complete("intersections", cfg)
            ):
                covered = self._stage(
                    "covered",
                    lambda: _covered_for_join(simplified, cfg),
                    durable=False,
                )
            intersected = self._stage(
                "intersections",
                lambda: insert_intersections(
                    simplified,
                    detect_intersections(simplified, cfg, covered=covered),
                    cfg,
                    covered=covered,
                ),
            )
        else:
            intersected = simplified

        # the snap domain is consumed 3× inside snap_map (max-lat bound, the
        # block kernel, the final mapping join) — materialize it once instead
        # of recomputing the vertex groupBy per consumer
        domain = self._stage("clustering_domain", lambda: clustering_domain_fast(intersected))
        # max|lat| only bounds the block-grid level (any upper bound gives a
        # coarser-or-equal, still-correct level) — read it from the domain
        # parquet footers driver-side instead of running a Spark agg job
        maxlat = _parquet_max_abs(self._last_stage_path, "lat")
        snap = self._stage(
            "clustering", lambda: snap_map(domain, cfg, spark, max_abs_lat=maxlat)
        )

        # edges and nodes are independent given (intersected, snap) — overlap
        edges, nodes = self._stages_concurrent(
            [
                ("edges", lambda: build_edges(intersected, snap, cfg)),
                ("nodes", lambda: build_nodes(snap, cfg)),
            ]
        )

        def nodes_tiled() -> DataFrame:
            return with_node_cells(nodes, cfg)

        def edges_tiled() -> DataFrame:
            # build_edges emits `covering` from its fused NumPy kernel
            return with_edge_cells(edges, cfg)

        if self.checkpointer is None:
            nodes_t, edges_t = nodes_tiled(), edges_tiled()
            # rollup stays lazy: one map-combinable groupBy over the staged
            # edges — a barrier here would serialize the tail for no reuse gain
            rollup = channel_density_rollup(edges_t, cfg)
        else:
            # Iceberg-style final layout: nodes/edges land partitioned by
            # their coarsest tile cell, resumable at the tile-partition level
            # (north_rule; plans.checkpoint.materialize_partitioned skips
            # already-written <cell>= directories on re-run)
            pcol = f"cell_r{min(cfg.tile_resolutions)}"
            nodes_t = self._stage("nodes_tiled", nodes_tiled, partition_col=pcol)
            edges_t = self._stage("edges_tiled", edges_tiled, partition_col=pcol)
            rollup = self._stage("tiles", lambda: channel_density_rollup(edges_t, cfg))
        return GraphResult(nodes=nodes_t, edges=edges_t, tile_rollup=rollup)


def spark_session(
    app: str = "osmwwe",
    master: str = "local[*]",
    shuffle_partitions: int = 32,
    extra: Optional[dict] = None,
) -> SparkSession:
    """Tuned session: AQE (coalesce + skew join), Arrow enabled."""
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large Arrow batches amortize the per-batch Python costs of the
        # mapInArrow kernels (parse joins each batch's span texts into one
        # ndjson blob — 4096-row batches meant ~2.8k blob+reader setups per
        # 100k docs); the BYTES cap (Spark 4.x) bounds worst-case batches on
        # tables whose rows are 20k-vertex mega-way arrays, which is what the
        # old conservative 4096-row cap was protecting against. Batch size
        # never changes a result: the sorted-run kernels re-cut their input
        # to whole ways/blocks (functions.arrow_lists.whole_runs)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(64 * 1024 * 1024))
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
