"""Dry-run execution plan (O8, ref: generateExecutionPlan,
dbsync.go:347-400 and ExecutionPlan.String() 160-250).

The plan is built from the diff with :meth:`DiffResult.counts` for
totals — one ``groupBy(_kind)`` aggregate over the classified change
frame — and an **ordered** ``limit(n)`` per leg for samples (ordering
before limit keeps reports deterministic — the reference sorts
everywhere for the same reason). Nothing else is materialized on the
driver, so a dry-run against a 100 TB table costs one classification
join, one aggregate and three top-n reads of the changed rows; with
the diff pinned (the syncer's path) the join runs once and every
later read hits the pin.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import functions as F

from mydatasyncer_spark.operators.diff import BEFORE_COL, DiffResult

SAMPLE_ROWS = 10


@dataclass
class ExecutionPlan:
    """Per-table dry-run report (ref: ExecutionPlan, dbsync.go:145-157)."""

    table: str
    mode: str
    primary_key: str
    sync_columns: list[str]
    timestamp_columns: list[str] = field(default_factory=list)
    immutable_columns: list[str] = field(default_factory=list)
    file_count: int = 0
    db_count: int = 0
    insert_count: int = 0
    update_count: int = 0
    delete_count: int = 0
    insert_samples: list[dict] = field(default_factory=list)
    update_samples: list[dict] = field(default_factory=list)
    delete_samples: list[dict] = field(default_factory=list)

    def render(self) -> str:
        lines = [
            f"=== DRY RUN: {self.table} (mode={self.mode}) ===",
            f"file records: {self.file_count}, db records: {self.db_count}",
            f"sync columns: {', '.join(self.sync_columns)}",
        ]
        if self.timestamp_columns:
            lines.append(
                f"timestamp columns (set to now): {', '.join(self.timestamp_columns)}"
            )
        if self.immutable_columns:
            lines.append(
                f"immutable columns (never updated): {', '.join(self.immutable_columns)}"
            )
        lines.append(
            f"plan: {self.insert_count} inserts, {self.update_count} updates, "
            f"{self.delete_count} deletes"
        )
        for label, samples in (
            ("INSERT", self.insert_samples),
            ("UPDATE", self.update_samples),
            ("DELETE", self.delete_samples),
        ):
            for s in samples:
                lines.append(f"  {label}: {s}")
        return "\n".join(lines)


def build_plan(
    table: str,
    mode: str,
    primary_key: str,
    sync_columns: list[str],
    diff: DiffResult,
    file_count: int,
    db_count: int,
    timestamp_columns: list[str] | None = None,
    immutable_columns: list[str] | None = None,
    sample_rows: int = SAMPLE_ROWS,
) -> ExecutionPlan:
    def sample(df, drop_before=False):
        if drop_before and BEFORE_COL in df.columns:
            df = df.drop(BEFORE_COL)
        return [
            r.asDict() for r in df.orderBy(primary_key).limit(sample_rows).collect()
        ]

    counts = diff.counts()
    update_samples = [
        r.asDict(recursive=True)
        for r in diff.to_update.orderBy(primary_key).limit(sample_rows).collect()
    ]
    return ExecutionPlan(
        table=table,
        mode=mode,
        primary_key=primary_key,
        sync_columns=sync_columns,
        timestamp_columns=list(timestamp_columns or []),
        immutable_columns=list(immutable_columns or []),
        file_count=file_count,
        db_count=db_count,
        insert_count=counts["insert"],
        update_count=counts["update"],
        delete_count=counts["delete"],
        insert_samples=sample(diff.to_insert),
        update_samples=update_samples,
        delete_samples=sample(diff.to_delete),
    )
