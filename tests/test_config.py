"""EngineConfig: YAML loading against reference-shaped configs and
step-param-hash invalidation semantics (reference :239-334)."""

import dataclasses
import os

from osmwaterwayextractor_spark.config import EngineConfig

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def test_from_reference_yaml():
    cfg = EngineConfig.from_yaml(os.path.join(FIXTURES, "config.yaml"))
    assert cfg.snap_tolerance_m == 6.0
    assert cfg.min_fragment_length_m == 50.0
    assert cfg.coordinate_precision == 5
    assert cfg.waterway_types == ("river", "canal")
    assert cfg.enable_geometry_simplification is True
    assert cfg.simplification_tolerance_m == 5.0
    assert cfg.max_displacement_multiplier == 3.0
    assert cfg.warning_displacement_multiplier == 2.0
    assert cfg.hash_length == 8


def test_from_no_simplify_yaml():
    cfg = EngineConfig.from_yaml(os.path.join(FIXTURES, "test_config_no_simplify.yaml"))
    assert cfg.enable_geometry_simplification is False
    assert cfg.snap_tolerance_m == 5.0
    assert cfg.max_displacement_multiplier == 1.5


def test_step_param_hash_scoping():
    base = EngineConfig()
    # late-stage knob must not invalidate early stages
    late = dataclasses.replace(base, min_fragment_length_m=99.0)
    assert base.step_param_hash("simplified") == late.step_param_hash("simplified")
    assert base.step_param_hash("clustering") == late.step_param_hash("clustering")
    assert base.step_param_hash("edges") != late.step_param_hash("edges")
    # early-stage knob invalidates downstream
    early = dataclasses.replace(base, coordinate_precision=6)
    assert base.step_param_hash("simplified") != early.step_param_hash("simplified")
    assert base.step_param_hash("edges") != early.step_param_hash("edges")
    # parse stage rounds coordinates → precision must invalidate it
    assert base.step_param_hash("parsed") != early.step_param_hash("parsed")
    # ...but snapping knobs must not
    snap = dataclasses.replace(base, snap_tolerance_m=9.0)
    assert base.step_param_hash("parsed") == snap.step_param_hash("parsed")
    assert base.step_param_hash("simplified") == snap.step_param_hash("simplified")


STAGES = tuple(EngineConfig._STEP_PARAMS)


def test_each_stage_keys_contain_its_upstream():
    cfg = EngineConfig()
    for stage, (upstream, _own) in EngineConfig._STEP_PARAMS.items():
        if upstream is not None:
            assert upstream in EngineConfig._STEP_PARAMS, stage
            assert set(cfg.step_params(upstream)) <= set(cfg.step_params(stage)), stage


def _changed(stage, **knobs):
    base = EngineConfig()
    return base.step_param_hash(stage) != dataclasses.replace(base, **knobs).step_param_hash(stage)


def test_type_filter_invalidates_simplified_and_everything_after():
    # ways_from_parsed filters on the type before the fused assembly
    for knobs in ({"waterway_types": ("river",)}, {"filter_waterway_types": False}):
        assert not _changed("parsed", **knobs)
        for stage in STAGES[STAGES.index("simplified"):]:
            assert _changed(stage, **knobs), (stage, knobs)


def test_tiles_rollup_follows_its_edges():
    assert _changed("tiles", snap_tolerance_m=9.0)
    assert _changed("tiles", min_fragment_length_m=99.0)
    assert _changed("tiles", tile_resolutions=(8, 9))


def test_output_invariant_knobs_hash_nowhere():
    # the skew cap, partition count and QA knobs never change a stage's rows
    for knobs in (
        {"intersect_cell_cap": 64},
        {"shuffle_partitions": 8},
        {"distance_validation_samples": 0},
        {"max_unsnapped_near_miss_pct": 5.0},
        {"min_width_parse_success_rate": 0.1},
        {"max_crossing_edges_pct": 50.0},
        {"warning_displacement_multiplier": 2.5},
    ):
        for stage in STAGES:
            assert not _changed(stage, **knobs), (stage, knobs)
