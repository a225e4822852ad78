"""Config-driven table-sync job — the reference's end-to-end lifecycle
(SURVEY.md §3.2), runnable as a module:

    python -m hdc_dataengineering_sqlsync_spark.sync_job --config job.json

Config (JSON)::

    {
      "state_path": "/path/state.json",
      "tables": [
        {"name": "orders",
         "pk": ["o_orderkey"],
         "source_path": "/src/orders.parquet",
         "target_path": "/tgt/orders.parquet",
         "version_col": null}
      ]
    }

Per table the job reads the source, drift-checks its schema against the
target and loads the last sync watermark. Then, by mode:

- initial copy (no target yet): stage the source, check the staged parquet
  footers hold every source row, swap the staging directory into place.
- snapshot: count, stage, validate, swap. One payload-free diff job over
  (pk, digest) of both sides counts I/U/D, the source rows and the
  duplicated source keys. The merged target of a snapshot sync IS the
  source, so the source itself is staged, in the target's column order.
  The sync is rejected before the swap when a source key is duplicated or
  the staged footers' row count differs from the source's; the old target
  then stays in place. An empty diff stages and swaps nothing.
- incremental (``version_col`` set and state exists): pull only rows past
  the watermark, diff them against the target rows they touch, materialize
  the changeset, merge it into the target, stage and swap.

The watermark advances last, and only when the sync validated. Exactly the
change-tracking sync loop of an MS-SQL CHANGETABLE-based utility,
re-expressed over parquet + Spark; the JDBC transport (sources/jdbc.py)
slots in at the read/write boundary when a database is reachable.

Scale notes: a snapshot sync is two source scans: the counting job (one
PK-keyed shuffle of pk + digest per row, operators/diff.py::diff_counts)
and the write, which needs no shuffle. Validation reads parquet footers,
not rows. The incremental changeset is materialized once
(operators/merge.py). The atomic directory swap is the local stand-in for
a table-format commit (Iceberg/Delta snapshot swap) on a real deployment.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdc_dataengineering_sqlsync_spark.operators.diff import diff_counts, snapshot_diff
from hdc_dataengineering_sqlsync_spark.operators.merge import (
    materialize_changeset,
    merge_apply,
)
from hdc_dataengineering_sqlsync_spark.operators.schema_drift import SchemaDrift, detect_drift
from hdc_dataengineering_sqlsync_spark.operators.state import StateStore, SyncState
from hdc_dataengineering_sqlsync_spark.registry import parquet_rows


@dataclass
class TableSyncConfig:
    name: str
    pk: list[str]
    source_path: str
    target_path: str
    version_col: str | None = None  # monotone change-version column for CDC pulls


@dataclass
class SyncReport:
    table: str
    mode: str  # "initial_copy" | "snapshot" | "incremental"
    op_counts: dict[str, int] = field(default_factory=dict)
    drift: SchemaDrift | None = None
    validated: bool = False
    new_version: int | None = None


def _atomic_swap_write(df: DataFrame, target_path: str, expect_rows: int | None = None) -> bool:
    """Write df to a staging dir, then swap it into place. The merged plan
    reads the OLD target lazily, so writing over it in place would corrupt
    the input mid-scan; staging + swap is also what makes a crashed sync
    leave the previous target intact.

    With ``expect_rows``, the staged parquet footers must hold exactly that
    many rows; otherwise the staging dir is removed, the target is left as
    it was, and False is returned."""
    staging = target_path.rstrip("/") + "__staging"
    df.write.mode("overwrite").parquet(staging)
    if expect_rows is not None and parquet_rows(staging) != expect_rows:
        shutil.rmtree(staging)
        return False
    if os.path.exists(target_path):
        shutil.rmtree(target_path)
    os.replace(staging, target_path)
    return True


def _current_version(source: DataFrame, version_col: str) -> int:
    row = source.agg(F.max(F.col(version_col).cast("long")).alias("v")).collect()[0]
    return int(row["v"] if row["v"] is not None else 0)


def sync_table(spark: SparkSession, cfg: TableSyncConfig, store: StateStore) -> SyncReport:
    source = spark.read.parquet(cfg.source_path)
    state = store.get(cfg.name)
    new_version = _current_version(source, cfg.version_col) if cfg.version_col else (
        (state.last_version + 1) if state else 1
    )

    if not os.path.exists(cfg.target_path):
        # first run: full snapshot copy (the reference's initial sync)
        n = parquet_rows(cfg.source_path)
        validated = _atomic_swap_write(source, cfg.target_path, n)
        if validated:
            store.put(SyncState(cfg.name, new_version))
        return SyncReport(cfg.name, "initial_copy", {"I": n}, None, validated, new_version)

    target = spark.read.parquet(cfg.target_path)
    drift = detect_drift(source.schema, target.schema)
    if drift.is_drifted:
        # structural drift needs an operator decision (migrate vs fail);
        # report and stop rather than silently merging mismatched schemas
        return SyncReport(cfg.name, "snapshot", {}, drift, validated=False)

    if cfg.version_col and state is not None:
        # CDC pull: only rows whose change-version is past the watermark —
        # the CHANGETABLE(CHANGES ..., @last_version) analog. Deletes are
        # invisible to a pure version filter (as in real change tracking a
        # delete arrives as a tombstone row); periodic snapshot diffs catch
        # any residue.
        mode = "incremental"
        delta = source.where(F.col(cfg.version_col).cast("long") > state.last_version)
        changes = materialize_changeset(
            snapshot_diff(delta, target.join(delta.select(*cfg.pk), cfg.pk, "left_semi"),
                          pk=cfg.pk)
        )
        op_counts = {
            r["change_op"]: r["n"]
            for r in changes.groupBy("change_op").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        _atomic_swap_write(merge_apply(target, changes, pk=cfg.pk), cfg.target_path)
        validated = True  # incremental: full validation deferred to next snapshot diff
    else:
        # snapshot: the merged target IS the source, so the source itself is
        # staged; it replaces the target only if the checks below pass
        mode = "snapshot"
        expect = diff_counts(source, target, pk=cfg.pk).collect()[0]
        op_counts = {op: expect[op] for op in ("I", "U", "D") if expect[op]}
        validated = expect["duplicate_keys"] == 0
        if validated and op_counts:
            validated = _atomic_swap_write(
                source.select(*target.columns), cfg.target_path, expect["source_rows"]
            )
    if validated:
        store.put(SyncState(cfg.name, new_version))
    return SyncReport(cfg.name, mode, op_counts, None, validated, new_version)


def run_sync(spark: SparkSession, config: dict) -> list[SyncReport]:
    store = StateStore(config["state_path"])
    return [
        sync_table(spark, TableSyncConfig(**tbl), store) for tbl in config["tables"]
    ]


def main() -> None:  # pragma: no cover - thin CLI shell over run_sync
    ap = argparse.ArgumentParser(description="Run a config-driven table sync")
    ap.add_argument("--config", required=True, help="path to job JSON")
    args = ap.parse_args()
    with open(args.config) as f:
        config = json.load(f)
    from hdc_dataengineering_sqlsync_spark.session import get_session

    spark = get_session(app_name="sync_job")
    for report in run_sync(spark, config):
        print(json.dumps(report.__dict__, default=lambda o: o.__dict__))


if __name__ == "__main__":  # pragma: no cover
    main()
