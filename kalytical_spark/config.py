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


def load_config() -> KalyticalSparkConfig:
    return KalyticalSparkConfig()
