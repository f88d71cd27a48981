"""Capture the intersections-stage formatted plans (OPTIMIZATION_r06 §6).

Composes detect_intersections + insert_intersections exactly as the
pipeline does (simplified — built by the pipeline's fused
assemble_clean_simplify — and covered read back from 8 MiB-row-group
scratch parquet) and writes the `.explain("formatted")` output to

  plans/r06/intersections_detect_{before,after}.txt
  plans/r06/intersections_insert_{before,after}.txt

The "before" variant reproduces the round-5 plan shape by dropping the
round-6 shuffle_hash hints for the composition (round 5 placed no join
hints on this stage, so Catalyst picked sort-merge joins); every other hint
still applies. "after" is the shipped code with the shuffle_hash pins.
Explain is driver-only — no jobs run beyond the one-time scratch build, so
this never contaminates a bench session. The /dev/shm scratch is keyed on
a fingerprint of the engine source, the config and the docs parameters, so
scratch built by other code is never reused.

Usage: python scripts/plan_intersections.py [n_docs]   # default 20000
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _explain(spark, df) -> str:
    return spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _fingerprint(*settings) -> str:
    """Short hash of the engine source and ``settings``."""
    import glob
    import hashlib

    h = hashlib.sha256(repr(settings).encode())
    pkg = os.path.join(ROOT, "osmwaterwayextractor_spark")
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    os.environ.setdefault("SPARK_GRAFT_BENCH_MODE", "pipeline")  # AQE off, like the pipeline
    from bench import build_session

    spark = build_session(int(os.environ.get("SPARK_GRAFT_CPUS", "8")))

    from osmwaterwayextractor_spark.config import EngineConfig
    from osmwaterwayextractor_spark.operators.assemble import assemble_clean_simplify
    from osmwaterwayextractor_spark.operators.geometry_ops import (
        _covered_for_join,
        detect_intersections,
        insert_intersections,
    )
    from osmwaterwayextractor_spark.sources.docsgen import DocsGenParams, docs_dataframe
    from osmwaterwayextractor_spark.sources.parse import (
        nodes_from_parsed,
        parse_osm,
        ways_from_parsed,
    )

    cfg = EngineConfig(filter_waterway_types=False)
    params = DocsGenParams(seed=42, mega_every=200, mega_refs=20000)
    scratch = f"/dev/shm/plan-{_fingerprint(cfg, params, n_docs)}"
    simplified_path = f"{scratch}-simplified"
    covered_path = f"{scratch}-covered"
    plan_dir = os.path.join(ROOT, "plans", "r06")
    os.makedirs(plan_dir, exist_ok=True)

    def stage_write(df, path):
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            df.write.mode("overwrite").option(
                "parquet.block.size", str(8 * 1024 * 1024)
            ).parquet(path)
        return spark.read.parquet(path)

    if not os.path.exists(os.path.join(simplified_path, "_SUCCESS")):
        docs = stage_write(docs_dataframe(spark, n_docs, params), f"{scratch}-docs")
        parsed = stage_write(parse_osm(docs, cfg), f"{scratch}-parsed")
        stage_write(
            assemble_clean_simplify(
                ways_from_parsed(parsed, cfg), nodes_from_parsed(parsed), cfg
            ),
            simplified_path,
        )
    simplified = spark.read.parquet(simplified_path)
    covered = stage_write(_covered_for_join(simplified, cfg), covered_path)

    # Patch the CONCRETE class (Spark 4 instances are
    # pyspark.sql.classic.dataframe.DataFrame, which overrides the abstract
    # base's hint — patching pyspark.sql.DataFrame silently does nothing).
    cls = type(simplified)
    real_hint = cls.hint
    for tag in ("after", "before"):
        if tag == "before":
            cls.hint = lambda self, name, *args: (
                self if name == "shuffle_hash" else real_hint(self, name, *args)
            )
        try:
            points = detect_intersections(simplified, cfg, covered=covered)
            staged = insert_intersections(simplified, points, cfg, covered=covered)
            for name, df in (("detect", points), ("insert", staged)):
                with open(
                    os.path.join(plan_dir, f"intersections_{name}_{tag}.txt"), "w"
                ) as f:
                    f.write(_explain(spark, df))
            print(f"[plan] wrote intersections_{{detect,insert}}_{tag}.txt", flush=True)
        finally:
            cls.hint = real_hint
    spark.stop()


if __name__ == "__main__":
    main()
