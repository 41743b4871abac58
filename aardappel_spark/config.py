"""Engine configuration model mirroring the reference's YAML surface
(/root/reference/internal/config/config.go:15-61, cmd/aardappel/config.yaml).

Connection strings point at Spark-readable sources instead of YDB
endpoints (Kafka bootstrap / file directories); everything else keeps
the reference's field names so a user can port a config mechanically.
Problem strategies default to 'stop' and are normalized case-insensitively
(verifyStreamProblemStrategy, config.go:64-77).

A config file is YAML (read with PyYAML) or, by its ``.json`` suffix,
JSON.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

PROBLEM_STRATEGY_STOP = "stop"
PROBLEM_STRATEGY_CONTINUE = "continue"


@dataclass
class StreamSpec:
    src_topic: str
    dst_table: str
    consumer: str = ""
    problem_strategy: str = PROBLEM_STRATEGY_STOP
    mon_tag: str = ""

    def __post_init__(self):
        s = (self.problem_strategy or PROBLEM_STRATEGY_STOP).lower()
        if s not in (PROBLEM_STRATEGY_STOP, PROBLEM_STRATEGY_CONTINUE):
            raise ValueError(f"unknown stream problem strategy '{self.problem_strategy}'")
        self.problem_strategy = s
        if not self.mon_tag:
            self.mon_tag = self.dst_table


@dataclass
class EngineConfig:
    src_connection_string: str = ""
    dst_connection_string: str = ""
    instance_id: str = "0"
    multiple_instances_mode: bool = False
    streams: list[StreamSpec] = field(default_factory=list)
    state_table: str = "aardappel_state"
    max_expected_heartbeat_interval: int = 10
    log_level: str = "info"
    mon_server_listen: str = ""
    cmd_queue_path: str = ""
    cmd_queue_consumer: str = ""
    key_filter_table: str = ""
    dead_letter_queue_path: str = ""
    # per-side auth (config.go:43-50): exactly one of oauth2_file /
    # static_token per side when set; side endpoint overrides the file's
    src_oauth2_file: str = ""
    src_oauth2_endpoint: str = ""
    src_static_token: str = ""
    dst_oauth2_file: str = ""
    dst_oauth2_endpoint: str = ""
    dst_static_token: str = ""

    def auth_config(self, side: str):
        """The side's AuthConfig ('src' or 'dst'), or None when that side
        configures no credentials (anonymous / cluster-level auth).
        Mirrors main.go's per-side CreateYdbDriverAuthOptions calls."""
        from .auth import AuthConfig

        if side not in ("src", "dst"):
            raise ValueError(f"auth side must be 'src' or 'dst', got {side!r}")
        file = getattr(self, f"{side}_oauth2_file")
        token = getattr(self, f"{side}_static_token")
        endpoint = getattr(self, f"{side}_oauth2_endpoint")
        if not file and not token:
            return None
        return AuthConfig(
            credentials_file=file, static_token=token, exchanger_endpoint=endpoint
        )

    @classmethod
    def from_dict(cls, d: dict) -> "EngineConfig":
        streams = [StreamSpec(**s) for s in d.get("streams", [])]
        mon = d.get("mon_server") or {}
        cmd = d.get("cmd_queue") or {}
        kf = d.get("key_filter") or {}
        dlq = d.get("dead_letter_queue") or {}
        return cls(
            src_connection_string=d.get("src_connection_string", ""),
            dst_connection_string=d.get("dst_connection_string", ""),
            instance_id=str(d.get("instance_id", "0")),
            multiple_instances_mode=bool(d.get("multiple_instances_mode", False)),
            streams=streams,
            state_table=d.get("state_table", "aardappel_state"),
            max_expected_heartbeat_interval=int(
                d.get("max_expected_heartbeat_interval", 10)
            ),
            log_level=d.get("log_level", "info"),
            mon_server_listen=mon.get("listen", ""),
            cmd_queue_path=cmd.get("path", ""),
            cmd_queue_consumer=cmd.get("consumer", ""),
            key_filter_table=kf.get("table_path", ""),
            dead_letter_queue_path=dlq.get("path", ""),
            src_oauth2_file=d.get("src_oauth2_file", ""),
            src_oauth2_endpoint=d.get("src_oauth2_endpoint", ""),
            src_static_token=d.get("src_static_token", ""),
            dst_oauth2_file=d.get("dst_oauth2_file", ""),
            dst_oauth2_endpoint=d.get("dst_oauth2_endpoint", ""),
            dst_static_token=d.get("dst_static_token", ""),
        )

    @classmethod
    def load(cls, path: str) -> "EngineConfig":
        if not path:
            raise ValueError("configuration file path is empty")
        text = open(path).read()
        if path.endswith(".json"):
            return cls.from_dict(json.loads(text))
        try:
            import yaml
        except ImportError as e:
            raise RuntimeError(
                f"{path}: reading YAML needs PyYAML; a .json config needs no "
                "dependency"
            ) from e
        return cls.from_dict(yaml.safe_load(text))

