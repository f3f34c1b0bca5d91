"""Quarantine (poison-row) routing — the distributed analog of the
reference's ReturnType.{Success, TransientError, FatalError} handler
contract (Abstractions/Pipeline/ReturnType.cs;
InProcessPipelineOrchestrator.cs:188-194: transient errors are retried,
fatal errors move the message to a poison queue and processing continues).

On Spark, transient failures are the task retry domain
(spark.task.maxFailures); FATAL rows — rows that would fail on every retry,
like a document whose user tags carry a key with ':'/'=' that
TagCollection.ValidateKey rejects (TagCollection.cs:180-198) — must not
kill the stage. They are split out by predicate BEFORE the failing
operation and appended to a `quarantine` table carrying
(step, execution_id, reason, key, detail), then the stage proceeds with
the clean rows. The quarantine table is append-only and snapshot-committed
like every other catalog table, so re-runs are idempotent per execution.
"""

from __future__ import annotations

import threading
from typing import Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

QUARANTINE_TABLE = "quarantine"
# steps that run concurrently may quarantine at once; the table commit's
# read-manifest/write-manifest sequence is not atomic
_WRITE_LOCK = threading.Lock()

# TagCollection.ValidateKey: ':' and '=' are reserved
INVALID_TAG_KEY_RE = "[:=]"


def invalid_tag_keys_condition(tags_col: str = "tags") -> Column:
    """True when any tag key fails TagCollection.ValidateKey."""
    return F.exists(
        F.map_keys(F.col(tags_col)), lambda k: k.rlike(INVALID_TAG_KEY_RE)
    )


def invalid_tag_keys_detail(tags_col: str = "tags") -> Column:
    """Comma-joined offending keys (for the quarantine `detail` column)."""
    return F.array_join(
        F.filter(
            F.map_keys(F.col(tags_col)), lambda k: k.rlike(INVALID_TAG_KEY_RE)
        ),
        ",",
    )


def split_fatal_rows(
    df: DataFrame, condition: Column
) -> Tuple[DataFrame, DataFrame]:
    """(clean, fatal): one predicate evaluated both ways — Catalyst folds
    the two filters into the same scan, no extra pass."""
    return df.filter(~F.coalesce(condition, F.lit(False))), df.filter(
        F.coalesce(condition, F.lit(False))
    )


def quarantine_rows(
    fatal: DataFrame,
    step: str,
    execution_id: str,
    reason: str,
    key_col: str = "doc_id",
    detail: Column | None = None,
) -> DataFrame:
    """Project fatal rows onto the quarantine schema."""
    return fatal.select(
        F.lit(step).alias("step"),
        F.lit(execution_id).alias("execution_id"),
        F.lit(reason).alias("reason"),
        F.col(key_col).cast("string").alias("key"),
        (detail if detail is not None else F.lit("")).alias("detail"),
    )


def write_quarantine(catalog, quarantined: DataFrame) -> int:
    """Append to the quarantine table (snapshot commit), idempotently.

    A crash after this write but before the step's ledger commit re-runs the
    step on resume; a plain append would then duplicate quarantine rows.
    Anti-join against the existing table on (step, execution_id, key) so a
    re-run of the same execution is a no-op for already-quarantined keys."""
    spark = quarantined.sparkSession
    with _WRITE_LOCK:
        if catalog.exists(QUARANTINE_TABLE):
            existing = catalog.read(spark, QUARANTINE_TABLE).select(
                "step", "execution_id", "key"
            )
            quarantined = quarantined.join(
                existing, ["step", "execution_id", "key"], "left_anti"
            )
        return catalog.append(quarantined, QUARANTINE_TABLE)


def route_fatal_rows(
    catalog,
    df: DataFrame,
    condition: Column,
    step: str,
    execution_id: str,
    reason: str,
    key_col: str = "doc_id",
    detail: Column | None = None,
) -> DataFrame:
    """Quarantine `df`'s fatal rows (if any) and return the clean rows the
    step proceeds with."""
    clean, fatal = split_fatal_rows(df, condition)
    quarantined = quarantine_rows(
        fatal, step, execution_id, reason, key_col=key_col, detail=detail
    )
    if not quarantined.isEmpty():
        write_quarantine(catalog, quarantined)
    return clean
