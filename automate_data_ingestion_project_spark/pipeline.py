"""Config-driven ETL orchestration (SURVEY.md §2.11 D1-D6, §3.1 redesign).

The reference fans out a Dagster DynamicOut branch per (scope, code) —
119 graph branches, each doing extract → transform → load on a pandas
frame (``/root/reference/scripts/etl.py:13-66``), with per-op
try/except forwarding ``None`` so one failed code doesn't kill the rest
(etl.py:27-55, P8).

Idiomatic Spark collapses the fan-out: the per-code boundary only
matters at FETCH time (the API is the flaky, sequential resource).
After fetch, everything is one lazy plan per scope:

    for each scope:                       (D1 work-list from YAML, D5)
        per code: fetch  → guard/skip     (P8 isolation, D6 logging)
        union all code payloads           (unionByName, drift-safe)
        normalize_wide ONCE               (one scan + one shuffle)
        upsert into src_<scope>           (L1, schema-reconciled)

Each code's payload is an Arrow-backed local relation (``read_api``),
so the union is a union of in-JVM ``LocalTableScan``s: no Python worker
re-runs a page scan in any of the upsert's jobs, and the reshape melts
through one ``stack`` expression rather than one ``Column`` per value
column.

At 100 TB the per-scope union is the difference between 119 tiny jobs
(scheduler-bound) and one job whose parallelism comes from partitions.

Logging is stdlib ``logging`` (reference uses loguru, D6) — structured
per-code outcomes land in the returned report as data, not just logs.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

from .ingest.rest import FetchFn, default_http_fetch, read_api
from .io.lakehouse import upsert_auto
from .operators.reshape import normalize_wide
from .schemas import TableSchema

try:
    import yaml
except ImportError:  # pragma: no cover
    yaml = None

logger = logging.getLogger("automate_data_ingestion_project_spark.pipeline")

# scope → (id_vars, uid_cols) — ref extract_load.py:143-150,171-193
SCOPE_ID_VARS = {
    "region": ["annee", "reg", "libreg"],
    "departement": ["annee", "dep", "libdep"],
}
SCOPE_UID_COLS = {
    "region": ["annee", "reg", "cod"],
    "departement": ["annee", "dep", "cod"],
}


@dataclass
class ScopeReport:
    scope: str
    codes_ok: list[str] = field(default_factory=list)
    codes_failed: dict[str, str] = field(default_factory=dict)
    rows_upserted: int = 0


def load_pipeline_config(text: str) -> dict:
    """D5 — YAML work-list, reference-compatible shape
    (``args.scope.{region,departement}: [codes]``, config.yaml:5-8)."""
    if yaml is None:  # pragma: no cover
        raise ImportError("pyyaml is required for pipeline config")
    return yaml.safe_load(text)


def run_pipeline(
    spark: SparkSession,
    config: dict,
    warehouse_paths: dict[str, str],
    metrics: list[str],
    fetch: FetchFn = default_http_fetch,
    schemas: dict[str, TableSchema] | None = None,
) -> list[ScopeReport]:
    """D1-D4 — execute the full work-list with per-code isolation.

    ``warehouse_paths``: scope → parquet table path.
    ``schemas``: optional scope → declared TableSchema for reconciled
    writes (L2); without it the upsert aligns to the existing table.
    """
    reports: list[ScopeReport] = []
    scope_cfg = config.get("args", {}).get("scope", {})
    for scope, codes in scope_cfg.items():
        report = ScopeReport(scope=scope)
        payloads: list[DataFrame] = []
        for code in codes:
            code = str(code)
            try:
                payloads.append(read_api(spark, scope, code, fetch=fetch))
                report.codes_ok.append(code)
                logger.info("fetched scope=%s code=%s", scope, code)
            except Exception as e:  # P8: isolate, continue the batch
                report.codes_failed[code] = str(e)
                logger.error("extract failed scope=%s code=%s: %s", scope, code, e)
        if payloads:
            wide = reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), payloads
            )
            table = normalize_wide(
                wide, SCOPE_ID_VARS[scope], metrics, SCOPE_UID_COLS[scope]
            )
            schema = (schemas or {}).get(scope)
            backend = upsert_auto(
                spark,
                table,
                warehouse_paths[scope],
                keys=["uid"],
                target_schema=schema.to_struct_type() if schema else None,
            )
            report.rows_upserted = (
                spark.read.format(backend).load(warehouse_paths[scope]).count()
            )
            logger.info(
                "upserted scope=%s rows=%d backend=%s (codes ok=%d failed=%d)",
                scope,
                report.rows_upserted,
                backend,
                len(report.codes_ok),
                len(report.codes_failed),
            )
        reports.append(report)
    return reports
