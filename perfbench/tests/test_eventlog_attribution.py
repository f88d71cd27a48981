"""Job attribution over a small generated Spark 4.1 rolling event log."""

import json

import layers


def _job_start(job_id, t_ms, stages, description=None):
    props = {"spark.job.description": description} if description else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": t_ms,
            "Stage IDs": stages, "Properties": props}


def _job_end(job_id, t_ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": t_ms,
            "Job Result": {"Result": "JobSucceeded"}}


def _task(stage_id, run_ms, py_ms=0, py_sent=0, shuffle=0, rows=0):
    acc = [
        {"ID": 1, "Name": "time to run Python workers", "Update": str(py_ms)},
        {"ID": 2, "Name": "data sent to Python workers", "Update": str(py_sent)},
        {"ID": 3, "Name": "data returned from Python workers", "Update": str(py_sent)},
    ]
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage_id, "Stage Attempt ID": 0,
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 1, "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Output Metrics": {"Records Written": rows},
        },
    }


def _write_rolling(tmp_path, events, app="local-1700000000000"):
    """Spark 4.1's rolling layout: eventlog_v2_<app>/events_<n>_<app> parts
    beside an appstatus marker; part 10 sorts after part 2."""
    d = tmp_path / f"eventlog_v2_{app}"
    d.mkdir()
    (d / f"appstatus_{app}").write_text("")
    half = len(events) // 2
    (d / f"events_10_{app}").write_text("\n".join(json.dumps(e) for e in events[half:]) + "\n")
    (d / f"events_2_{app}").write_text("\n".join(json.dumps(e) for e in events[:half]) + "\n")
    return tmp_path


def test_labels_spans_and_unattributed(tmp_path):
    t = 1_700_000_000_000  # ms
    events = [
        # two jobs labelled by the pipeline's own stage description
        _job_start(0, t + 0, [0], "stage-simplified"),
        _task(0, 400, py_ms=300, py_sent=10, shuffle=7, rows=3),
        _task(0, 100, py_ms=50, py_sent=5),
        _job_end(0, t + 1000),
        _job_start(1, t + 1500, [1], "stage-simplified"),
        _task(1, 200),
        _job_end(1, t + 2000),
        # unlabelled, submitted inside the snap_map span -> clustering
        _job_start(2, t + 3000, [2]),
        _task(2, 600),
        _job_end(2, t + 3500),
        # unlabelled and outside every span -> unattributed
        _job_start(3, t + 5000, [3]),
        _task(3, 50),
        _job_end(3, t + 5200),
        # outside the pass window -> ignored
        _job_start(4, t + 20_000, [4], "stage-parsed"),
        _task(4, 999),
        _job_end(4, t + 20_100),
    ]
    jobs = layers.read_jobs(str(_write_rolling(tmp_path, events)))
    assert [j.job_id for j in jobs] == [0, 1, 2, 3, 4]

    spans = layers.Spans()
    s0 = t / 1e3
    spans.record("operators.cluster.clustering", s0 + 2.8, s0 + 3.6)
    totals = layers.layer_totals(jobs, spans.spans, (s0, s0 + 6.0))

    simp = totals["operators.assemble.simplified"]
    assert simp["jobs"] == 2
    assert abs(simp["task_s"] - 0.7) < 1e-6
    assert abs(simp["py_run_s"] - 0.35) < 1e-6
    assert simp["py_bytes"] == 30
    assert simp["shuffle_write_bytes"] == 7
    assert simp["rows_out"] == 3
    assert abs(simp["wall_s"] - 1.5) < 1e-6  # union of the two job intervals
    assert abs(simp["task_skew"] - 400 / 200) < 1e-6

    clus = totals["operators.cluster.clustering"]
    assert clus["jobs"] == 1 and abs(clus["task_s"] - 0.6) < 1e-6
    assert abs(clus["driver_s"] - 0.8) < 1e-6

    assert totals[layers.UNATTRIBUTED]["jobs"] == 1
    assert "sources.parse.parsed" not in totals
    # 6.0 s window minus simplified (1.5 s) and the clustering span (0.8 s)
    assert abs(totals["_pass"]["unattributed_s"] - 3.7) < 1e-6
    assert totals["_pass"]["jobs"] == 4


def test_applications_reuse_ids(tmp_path):
    """Each session of a run is its own application; ids restart in each."""
    t = 1_700_000_000_000
    _write_rolling(tmp_path, [_job_start(0, t, [0]), _task(0, 100), _job_end(0, t + 100)],
                   app="local-1")
    _write_rolling(tmp_path, [_job_start(0, t + 500, [0], "stage-parsed"), _task(0, 300),
                              _task(0, 300), _job_end(0, t + 900)], app="local-2")
    jobs = layers.read_jobs(str(tmp_path))
    assert [(j.description, len(j.tasks)) for j in jobs] == [("", 1), ("stage-parsed", 2)]


def test_wrap_records_spans_and_restores():
    class Owner:
        @staticmethod
        def work(x):
            return x + 1

    spans = layers.Spans()
    original = Owner.__dict__["work"]
    spans.wrap(Owner, "work", "layer.a", describe=lambda args: {"arg": args[0]})
    assert Owner.work(1) == 2
    assert [(s.layer, s.detail) for s in spans.spans] == [("layer.a", {"arg": 1})]
    spans.restore()
    assert Owner.__dict__["work"] is original
