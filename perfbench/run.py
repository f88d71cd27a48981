"""Benchmark for the waterway engine: one workload per invocation.

    python3 perfbench/run.py --workload graph_skewed --seed 42 --seconds 1 --trace 0

Run from the repository root. The engine is driven only through its public
entry points, in one process on ``local[<cpus>]``, one job at a time (a
closed loop with one client). The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer ones). See
perfbench/README.md for the workloads and every metric.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ProcessPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402
import layers  # noqa: E402
from workloads import QUERIES, WORKLOADS, Pass  # noqa: E402

SETUPS = 7  # set-up is repeated and its median reported
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=1.0,
                    help="start passes until this long has passed (at least one)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _work_dir() -> str:
    """A private scratch dir per run under perfbench/.work; dirs of runs
    whose process is gone (killed runs) are removed first."""
    base = os.path.join(HERE, ".work")
    os.makedirs(base, exist_ok=True)
    for name in os.listdir(base):
        pid = name.rpartition("-")[2]
        if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(work)
    return work


def _start_spark(work: str, trace: bool):
    """Deployment settings only: master, heap, local dir and, when tracing,
    the event log. Every tuning default is the engine's own."""
    from osmwaterwayextractor_spark.plans.pipeline import spark_session

    extra = {
        "spark.driver.memory": f"{host.driver_heap_mb()}m",
        "spark.local.dir": os.path.join(work, "local"),
        # keep the JVM's own temp files inside the run's dir too
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
            }
        )
    spark = spark_session(app="perfbench", master=f"local[{host.cpus()}]", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the context, then the JVM and its Python workers, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        pids = host.descendants(proc.pid)
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        host.wait_gone(pids, timeout_s=30)


def _instrument():
    """Spans around the engine's operator calls and its checkpoint calls."""
    from osmwaterwayextractor_spark.plans.checkpoint import Checkpointer

    spans, ckpt = layers.Spans(), layers.Spans()
    spans.wrap_operators()
    # after the operator spans, so ckpt.restore() must run first
    for attr in ("materialize", "materialize_partitioned"):
        ckpt.wrap(Checkpointer, attr, "plans.checkpoint",
                  describe=lambda args: {"action": args[0].events[-1]["action"]})
    return spans, ckpt


def _one_pass(wl, spans, reference) -> tuple[Pass, host.TreeMeter]:
    t0 = time.time()
    with host.TreeMeter() as meter:
        try:
            p = wl.measure(spans)
        except Exception:  # a pass that raises counts as a failed operation
            p = Pass(time.time() - t0, 1, failed=1, problems=[traceback.format_exc(limit=6)])
    if p.result is not None:
        try:
            wl.check(p, reference)
        except Exception:
            p.failed, p.problems = p.ops, p.problems + [traceback.format_exc(limit=6)]
    return p, meter


def _per_layer(spans, first: Pass, meter: host.TreeMeter, extras: dict, setup: dict,
               work: str, leftover: int, scratch_bytes: int) -> dict:
    jobs = layers.read_jobs(os.path.join(work, "events"))
    totals = layers.layer_totals(jobs, spans.spans, first.window)
    out = {}
    for stage in layers.STAGES:
        for q, _ in layers.STAGE_QUANTITIES:
            out[f"{stage}.{q}"] = totals.get(stage, {}).get(q, 0.0)
    out["plans.pipeline.unattributed_s"] = totals["_pass"]["unattributed_s"]
    out["plans.pipeline.jobs"] = totals["_pass"]["jobs"]
    out["plans.pipeline.scratch_bytes"] = scratch_bytes
    for k in ("cold_s", "resume_s", "write_s", "read_s", "files_written",
              "partitions_written", "partitions_skipped", "stages_resumed"):
        out[f"plans.checkpoint.{k}"] = extras.get(k, 0)
    for q in QUERIES:
        for k in ("wall_s", "task_s"):
            out[f"entry_queries.{q}.{k}"] = totals.get(f"entry_queries.{q}", {}).get(k, 0.0)
    out["setup.launch_s"] = setup["launch_s"]
    out["setup.session_s"] = setup["session_s"]
    out["setup.staging_s"] = setup["staging_s"]
    out["scratch_leftover_bytes"] = leftover
    out["peak_rss_mb"] = meter.peak_rss_mb
    out["trace.job_s"] = first.wall_s
    return out


def _setup(wl_class, args, work: str, recorded: dict):
    """Launch the JVM, then set up ``SETUPS`` times: a new session from
    ``spark_session`` in that JVM and freshly staged inputs. The last
    session and inputs are used."""
    trace = bool(args.trace)
    # the output check's reference (for the graph, the oracle's result,
    # about 10 s) is computed in another process while the JVM launches,
    # which no end-to-end metric times
    with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("fork")) as pool:
        pending = pool.submit(wl_class.expected_output, args.seed, recorded)
        t0 = time.time()
        spark = _start_spark(work, trace)
        setup = {"launch_s": time.time() - t0}
        try:
            expected = pending.result()
        except BaseException:
            _stop_spark(spark)
            raise
    sessions, stagings = [], []
    try:
        for i in range(SETUPS):
            spark.stop()
            t0 = time.time()
            spark = _start_spark(work, trace)
            t1 = time.time()
            wl = wl_class(spark, work, args.seed, expected)
            wl.stage(os.path.join(work, f"inputs-{i}"))
            sessions.append(t1 - t0)
            stagings.append(time.time() - t1)
    except BaseException:
        _stop_spark(spark)
        raise
    setup["session_s"] = statistics.median(sessions)
    setup["staging_s"] = statistics.median(stagings)
    setup["setup_s"] = statistics.median(map(sum, zip(sessions, stagings)))
    print(f"perfbench setup: launch_s={setup['launch_s']:.3f} "
          f"session_s={[round(x, 3) for x in sessions]} staging_s={[round(x, 3) for x in stagings]}",
          flush=True)
    return spark, wl, setup


def _run(args, work: str, recorded: dict, spec: dict) -> dict:
    steal = host.StealMeter()
    trace = bool(args.trace)
    spans = ckpt = None
    local = os.path.join(work, "local")
    spark, wl, setup = _setup(WORKLOADS[args.workload], args, work, recorded)
    try:
        if trace:
            spans, ckpt = _instrument()

        passes, meters = [], []
        t_measure = time.time()
        while not passes or (time.time() - t_measure < args.seconds and not passes[-1].failed):
            p, meter = _one_pass(wl, spans, passes[0].digest if passes else None)
            passes.append(p)
            meters.append(meter)
        scratch_bytes = host.engine_scratch_bytes(local)

        extras: dict = {}
        if trace and not passes[0].failed:
            try:
                extras = wl.trace_extras(spans, ckpt)
            except Exception:
                extras = {"ops": 1, "failed": 1, "problems": [traceback.format_exc(limit=6)]}
    finally:
        _stop_spark(spark)
        if trace:
            ckpt.restore()
            spans.restore()
    leftover = host.dir_bytes(local)

    for i, p in enumerate(passes):
        print(f"perfbench pass {i}: wall_s={p.wall_s:.3f} ops={p.ops} failed={p.failed} "
              f"rows={p.rows} digest={json.dumps(p.digest)}", flush=True)
    problems = [q for p in passes for q in p.problems] + extras.get("problems", [])
    for problem in problems:
        print(f"perfbench problem: {problem}", file=sys.stderr, flush=True)
    if "digest" in extras:
        print(f"perfbench durable digest={json.dumps(extras['digest'])}", flush=True)
    print("perfbench host: " + json.dumps(host.diagnostics(steal)), flush=True)

    attempted = sum(p.ops for p in passes) + extras.get("ops", 0)
    failed = sum(p.failed for p in passes) + extras.get("failed", 0)
    if trace:
        values = _per_layer(spans, passes[0], meters[0], extras, setup, work, leftover, scratch_bytes)
        declared = spec["per_layer"]
    else:
        job_s = statistics.median(p.wall_s for p in passes)
        values = {
            "setup_s": setup["setup_s"],
            "job_s": job_s,
            "cpu_s": statistics.median(m.cpu_s for m in meters),
            "input_rows_per_s": wl.input_rows / job_s,
        }
        declared = spec["end_to_end"]
    # BENCHMARK.json names every metric and its unit; the two must agree
    if {m["name"] for m in declared} != set(values):
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: {sorted({m['name'] for m in declared} ^ set(values))}"
        )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared},
    }


def main(argv=None) -> int:
    args = _parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import osmwaterwayextractor_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from the repository root; engine not importable: {e}",
              file=sys.stderr)
        return 2

    # Python workers import the engine from the checkout; the engine's debug
    # switches stay off so its default code path is measured, and
    # SPARK_LOCAL_DIRS would move Spark's scratch out of the run's dir
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for k in [k for k in os.environ if k.startswith("OSMWWE_") or k == "SPARK_LOCAL_DIRS"]:
        del os.environ[k]

    with open(os.path.join(HERE, "expected.json")) as f:
        recorded = json.load(f)
    with open(SPEC) as f:
        spec = json.load(f)
    work = _work_dir()
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    try:
        result = _run(args, work, recorded, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
