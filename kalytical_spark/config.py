"""Config source (SURVEY.md S11): the reference's env-driven KalyticalConfig
(utils/config.py, attrs used across facade.py:16,28, mq_poller.py:20)
re-expressed as a typed, env-overridable settings object. Spark-side confs
ride on spark.conf; driver-side knobs live here.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


def _env_int(name: str, default: int) -> int:
    """`default` when `name` is unset; a set value that is not an integer
    raises instead of silently becoming the default."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        return int(raw)
    except ValueError:
        raise ValueError(f"{name}={raw!r} is not an integer") from None


@dataclass(frozen=True)
class KalyticalSparkConfig:
    """Operational knobs mirroring the reference's config attributes (values
    the reference leaves unset get deliberate defaults here)."""

    # culler / incubation (job_culler.py:12,22,35)
    incubating_job_culling_interval_s: int = field(
        default_factory=lambda: _env_int("KALYTICAL_CULL_INTERVAL_S", 60)
    )
    incubating_job_age_out_s: int = field(
        default_factory=lambda: _env_int("KALYTICAL_AGE_OUT_S", 20 * 86400)
    )
    # paging defaults (facade.py:86,107)
    running_jobs_page_size: int = field(
        default_factory=lambda: _env_int("KALYTICAL_RUNNING_PAGE", 10)
    )
    history_lookback_s: int = field(
        default_factory=lambda: _env_int("KALYTICAL_HISTORY_LOOKBACK_S", 1000)
    )
    history_max_records: int = field(
        default_factory=lambda: _env_int("KALYTICAL_HISTORY_MAX_RECORDS", 20)
    )
    # stream-source seam (S7/ST1): the reference's SQS poller becomes a
    # config-selected readStream source (streaming/sources.py)
    stream_source: str = field(
        default_factory=lambda: os.environ.get("KALYTICAL_STREAM_SOURCE", "file")
    )
    kafka_bootstrap_servers: str = field(
        default_factory=lambda: os.environ.get(
            "KALYTICAL_KAFKA_BOOTSTRAP", "localhost:9092"
        )
    )
    kafka_topic: str = field(
        default_factory=lambda: os.environ.get(
            "KALYTICAL_KAFKA_TOPIC", "kalytical-lifecycle-events"
        )
    )


def load_config() -> KalyticalSparkConfig:
    return KalyticalSparkConfig()
