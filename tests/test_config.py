"""Config model tests — field surface from reference config.go:15-61."""

import pytest

from aardappel_spark.config import EngineConfig, StreamSpec

SAMPLE = """\
## comment
src_connection_string: "grpcs://src:2135/db"
dst_connection_string: "grpcs://dst:2135/db"
state_table: "aardappel_state"
instance_id: "orders-replica"
multiple_instances_mode: false

streams:
  - src_topic: "producer1/cf1"         # cdc topic
    consumer: "c1"
    dst_table: "/Root/test/table1_rep"
    problem_strategy: "STOP"
  - src_topic: "producer2/cf1"
    consumer: "c1"
    dst_table: "/Root/test/table2_rep"
    problem_strategy: "continue"

max_expected_heartbeat_interval: 10
log_level: "debug"

cmd_queue:
  path: aardappel_command
  consumer: c1

dead_letter_queue:
  path: aardappel_dlq

key_filter:
  table_path: aardappel_filter
"""


def test_load_reference_shaped_yaml(tmp_path):
    p = tmp_path / "config.yaml"
    p.write_text(SAMPLE)
    cfg = EngineConfig.load(str(p))
    assert cfg.instance_id == "orders-replica"
    assert cfg.max_expected_heartbeat_interval == 10
    assert len(cfg.streams) == 2
    assert cfg.streams[0].problem_strategy == "stop"  # normalized (config.go:64-77)
    assert cfg.streams[1].problem_strategy == "continue"
    assert cfg.streams[0].dst_table == "/Root/test/table1_rep"
    assert cfg.cmd_queue_path == "aardappel_command"
    assert cfg.dead_letter_queue_path == "aardappel_dlq"
    assert cfg.key_filter_table == "aardappel_filter"
    assert cfg.streams[0].mon_tag == "/Root/test/table1_rep"  # default = dst


def test_yaml_without_pyyaml_names_json(tmp_path, monkeypatch):
    import json
    import sys

    p = tmp_path / "config.yaml"
    p.write_text(SAMPLE)
    monkeypatch.setitem(sys.modules, "yaml", None)  # import yaml fails
    with pytest.raises(RuntimeError, match=r"needs PyYAML; a \.json config"):
        EngineConfig.load(str(p))
    # a .json config loads without it
    j = tmp_path / "config.json"
    j.write_text(json.dumps({"instance_id": "x", "streams": []}))
    assert EngineConfig.load(str(j)).instance_id == "x"


def test_unknown_problem_strategy_rejected():
    with pytest.raises(ValueError, match="unknown stream problem strategy"):
        StreamSpec(src_topic="t", dst_table="d", problem_strategy="explode")


def test_empty_path_rejected():
    with pytest.raises(ValueError, match="path is empty"):
        EngineConfig.load("")


def test_per_side_auth_config(tmp_path):
    """config.go:43-50 auth fields: per-side extraction, endpoint
    override plumbed through, None for an unconfigured side, and the
    exactly-one-of rule enforced at provider construction."""
    import json

    import pytest

    from aardappel_spark.auth import (
        AuthConfigError,
        Oauth2TokenExchangeProvider,
        StaticTokenProvider,
        create_auth_provider,
    )
    from aardappel_spark.config import EngineConfig

    creds = tmp_path / "creds.json"
    creds.write_text(
        json.dumps(
            {
                "token-endpoint": "http://file-endpoint",
                "subject-credentials": {
                    "type": "FIXED",
                    "token": "t",
                    "token-type": "urn:ietf:params:oauth:token-type:jwt",
                },
            }
        )
    )
    cfg = EngineConfig.from_dict(
        {
            "src_static_token": "src-token",
            "dst_oauth2_file": str(creds),
            "dst_oauth2_endpoint": "http://override",
        }
    )
    src = create_auth_provider(cfg.auth_config("src"))
    assert isinstance(src, StaticTokenProvider) and src.token() == "src-token"

    dst = create_auth_provider(cfg.auth_config("dst"))
    assert isinstance(dst, Oauth2TokenExchangeProvider)
    assert dst.creds.endpoint == "http://override"  # side endpoint wins

    assert EngineConfig.from_dict({}).auth_config("src") is None
    with pytest.raises(ValueError, match="side must be"):
        cfg.auth_config("both")
    with pytest.raises(AuthConfigError, match="either oauth2_file or static_token"):
        create_auth_provider(
            EngineConfig.from_dict(
                {"src_static_token": "x", "src_oauth2_file": "y"}
            ).auth_config("src")
        )


def test_extra_confs_cannot_override_required(monkeypatch):
    """SPARK_GRAFT_EXTRA_CONFS is a tooling hook for static perf confs;
    correctness-required confs (mapKeyDedupPolicy) must be un-overridable
    — get_spark refuses loudly instead of silently reverting (r8 ADVICE:
    extras were applied before the defaults, so overlapping keys were
    silently clobbered)."""
    import pytest

    from aardappel_spark.session import get_spark

    monkeypatch.setenv(
        "SPARK_GRAFT_EXTRA_CONFS", "spark.sql.mapKeyDedupPolicy=EXCEPTION"
    )
    with pytest.raises(ValueError, match="correctness-required"):
        get_spark("conf-test", master="local[1]")


def test_extra_confs_override_defaults(monkeypatch, spark):
    """A DEFAULT (perf) conf passed via the hook must WIN over the
    built-in default — verified on the builder options, not a live
    session (the session fixture already holds the JVM)."""
    from aardappel_spark import session as S

    monkeypatch.setenv(
        "SPARK_GRAFT_EXTRA_CONFS", "spark.sql.shuffle.partitions=7"
    )
    seen = {}

    class FakeBuilder:
        def appName(self, *_a):
            return self

        def master(self, *_a):
            return self

        def config(self, k, v):
            seen[k] = v
            return self

        def getOrCreate(self):
            raise RuntimeError("stop-before-jvm")

    monkeypatch.setattr(
        S.SparkSession, "builder", FakeBuilder(), raising=False
    )
    import pytest

    with pytest.raises(RuntimeError, match="stop-before-jvm"):
        S.get_spark("conf-test")
    assert seen["spark.sql.shuffle.partitions"] == "7"
    assert seen["spark.sql.mapKeyDedupPolicy"] == "LAST_WIN"
