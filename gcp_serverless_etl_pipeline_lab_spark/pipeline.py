"""Q5 — the orchestrated end-to-end run.

Reference DAG (`composer/sales_etl_dag.py:118-119`):
sensor → ETL → quality gate → summary report (+ alert on failure).
Here that's one driver function: transform → gate (Q1) → report (A4);
the file-arrival sensor (S4) is the streaming pickup in
``streaming.file_stream``. The DAG's retry policy (Q3,
`sales_etl_dag.py:27-28`: retries=2, retry_delay=5 min) and failure
alerting (Q4, `sales_etl_dag.py:109-119`: a trigger_rule='one_failed'
task) are available via ``run_sales_etl_with_policy``.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

from .operators.transform import split_clean_errors
from .operators.validate import annotate
from .plans.quality import quality_gate
from .plans.reports import summary_report
from .sinks import write_dead_letter, write_warehouse
from .sources.text_csv import read_raw_lines


@dataclass
class PipelineResult:
    clean: DataFrame
    errors: DataFrame
    summary: DataFrame
    # the persisted annotated intermediate (split_clean_errors cache), kept
    # so callers that are done with clean/errors can release executor
    # memory instead of leaking one MEMORY_AND_DISK copy per run
    annotated: DataFrame | None = None

    def unpersist(self) -> None:
        if self.annotated is not None:
            self.annotated.unpersist()


def run_sales_etl(
    spark: SparkSession,
    input_path: str,
    warehouse_path: str | None = None,
    dead_letter_path: str | None = None,
    stable_multifile: bool = False,
    run_id: str | None = None,
) -> PipelineResult:
    """The full reference pipeline: scan → validate/clean/derive →
    (warehouse, dead-letter) → quality gate → summary report.
    ``stable_multifile`` pins first-wins dedup to (file name, line) order
    when ``input_path`` is a multi-file glob (see sources.text_csv).
    ``run_id`` scopes the dead-letter write to a retry-idempotent
    ``run=<id>`` directory (sinks.write_dead_letter) — the warehouse side
    needs no equivalent because version-and-flip is already idempotent
    under re-attempts (a retry writes a fresh snapshot and flips)."""
    raw = read_raw_lines(spark, input_path, stable_multifile=stable_multifile)
    annotated = annotate(raw)
    clean, errors = split_clean_errors(annotated)
    if warehouse_path:
        write_warehouse(clean, warehouse_path)
    if dead_letter_path:
        write_dead_letter(errors, dead_letter_path, run_id=run_id)
    quality_gate(clean)
    return PipelineResult(
        clean=clean, errors=errors, summary=summary_report(clean), annotated=annotated
    )


_T = TypeVar("_T")


def with_retry(
    fn: Callable[[], _T],
    retries: int = 2,
    retry_delay_s: float = 300.0,
    on_failure: Callable[[Exception], None] | None = None,
) -> _T:
    """Q3+Q4: run ``fn`` with up to ``retries`` re-attempts spaced
    ``retry_delay_s`` apart (reference default_args: retries=2,
    retry_delay=5 min, `composer/sales_etl_dag.py:27-28`). When the final
    attempt fails, ``on_failure`` fires with the exception — the analogue
    of the DAG's trigger_rule='one_failed' alert task
    (`sales_etl_dag.py:109-119`) — and the exception propagates. Alert
    hook errors are swallowed so a broken alert channel can't mask the
    root failure."""
    attempt = 0
    while True:
        try:
            return fn()
        except Exception as exc:
            attempt += 1
            if attempt > retries:
                if on_failure is not None:
                    try:
                        on_failure(exc)
                    except Exception:
                        pass
                raise
            time.sleep(retry_delay_s)


def run_sales_etl_with_policy(
    spark: SparkSession,
    input_path: str,
    warehouse_path: str | None = None,
    dead_letter_path: str | None = None,
    retries: int = 2,
    retry_delay_s: float = 300.0,
    on_failure: Callable[[Exception], None] | None = None,
) -> PipelineResult:
    """The reference DAG's operational envelope around ``run_sales_etl``:
    retry transient failures (Q3), alert once on terminal failure (Q4).
    One ``run_id`` is minted up front and shared by every attempt, so a
    retry after a partial dead-letter write overwrites its own ``run=``
    directory instead of appending duplicate error rows."""
    import uuid

    run_id = uuid.uuid4().hex
    return with_retry(
        lambda: run_sales_etl(
            spark,
            input_path,
            warehouse_path=warehouse_path,
            dead_letter_path=dead_letter_path,
            run_id=run_id,
        ),
        retries=retries,
        retry_delay_s=retry_delay_s,
        on_failure=on_failure,
    )
