"""Execution-engine abstraction (SURVEY.md UD1/UD4): the reference's
pluggable engine factory (engine.py:21-36) re-expressed for the Spark
engine. The reference's driver-side retry decorator (UD3,
utils/retry.py:7-18) has no counterpart: no workload, endpoint or
registered query wrapped anything in it, and executor-side retries are
Spark's own spark.task.maxFailures. Submission becomes
a decision-row append to a dispatch ledger DataFrame — the within-engine
analog of pod creation; a real deployment's foreachBatch sink would hand
these rows to spark-submit/K8s.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


class EngineNotImplementedError(NotImplementedError):
    """Unknown engine name in the registry (engine.py:35-36 analog)."""


class JobNotFoundError(KeyError):
    """Abort target unknown to the engine — the reference's 404 when the pod
    is already gone (engine.py:162-169)."""


@dataclass(frozen=True)
class SubmitResult:
    pipeline_uuid: str
    exec_uuid: str
    engine: str
    tracking_id: str


class BaseEngine:
    """Strategy interface: submit/list/abort (engine.py:38-66 analog)."""

    name = "BaseEngine"

    def submit(self, spark: SparkSession, row: dict) -> SubmitResult:
        raise NotImplementedError

    def ledger(self, spark: SparkSession) -> DataFrame:
        raise NotImplementedError

    def submission_count(self, pipeline_uuid: str, source_uuid: str) -> int:
        """Ledger rows submitted so far for (pipeline_uuid, source_uuid),
        read without a Spark job; an engine with no ledger raises."""
        raise NotImplementedError

    def abort(self, spark: SparkSession, tracking_id: str) -> dict:
        """DELETE /pipeline/dispatcher/abort_pipeline analog
        (facade.py:95-98 -> engine.py:162-169: delete pod by tracking id)."""
        raise NotImplementedError


class LocalLedgerEngine(BaseEngine):
    """Records submissions in an in-memory ledger; deterministic tracking ids
    (sha2 of the submission identity — the reference's uuid1()[:8] is
    nondeterministic and excluded from oracle checks, SURVEY.md C1)."""

    name = "LocalLedgerEngine"

    def __init__(self):
        self._rows: list[dict] = []
        self._counts: Counter[tuple[str, str]] = Counter()

    def submit(self, spark: SparkSession, row: dict) -> SubmitResult:
        import hashlib

        ident = f"{row['pipeline_uuid']}|{row['exec_uuid']}|{row.get('retry_count', 0)}"
        tracking = hashlib.sha256(ident.encode()).hexdigest()[:10]
        rec = {
            "pipeline_uuid": row["pipeline_uuid"],
            "exec_uuid": row["exec_uuid"],
            "engine": self.name,
            "tracking_id": tracking,
            "retry_count": int(row.get("retry_count", 0)),
            "source_uuid": row.get("source_uuid", "api_call"),
            "status": "submitted",
        }
        self._rows.append(rec)
        self._counts[rec["pipeline_uuid"], rec["source_uuid"]] += 1
        return SubmitResult(row["pipeline_uuid"], row["exec_uuid"], self.name, tracking)

    def ledger(self, spark: SparkSession) -> DataFrame:
        schema = (
            "pipeline_uuid string, exec_uuid string, engine string, "
            "tracking_id string, retry_count int, source_uuid string, status string"
        )
        return spark.createDataFrame(self._rows, schema=schema)

    def submission_count(self, pipeline_uuid: str, source_uuid: str) -> int:
        return self._counts[pipeline_uuid, source_uuid]

    def abort(self, spark: SparkSession, tracking_id: str) -> dict:
        """Mark the submission aborted (the ledger analog of deleting the
        pod); unknown ids raise, mirroring the reference's 404."""
        for rec in self._rows:
            if rec["tracking_id"] == tracking_id and rec["status"] != "aborted":
                rec["status"] = "aborted"
                return {"operation_result": True}
        raise JobNotFoundError(tracking_id)


_REGISTRY: dict[str, type[BaseEngine]] = {
    "LocalLedgerEngine": LocalLedgerEngine,
}


def engine_factory(name: str) -> BaseEngine:
    """Strategy lookup (engine.py:21-36): unknown names raise, like the
    reference's NotImplementedError branch."""
    try:
        return _REGISTRY[name]()
    except KeyError as exc:
        raise EngineNotImplementedError(f"engine not registered: {name}") from exc
