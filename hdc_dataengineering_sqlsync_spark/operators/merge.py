"""Changeset apply (MERGE/upsert without Delta Lake) — SURVEY.md §2.8 & §4.

Spark has no MERGE INTO against plain parquet, so the merge is expressed as
  kept    = target ANTI JOIN (keys with op in {I, U, D})  -- drop all changed keys
  applied = kept UNION ALL (changeset rows with op in {I, U})
which is exactly the relational algebra an insert-or-replace MERGE executes.
Anti-joining the I keys too makes the apply IDEMPOTENT: re-running the same
changeset after a partial failure replaces rather than duplicates the
inserted rows. ``unionByName`` keeps column order/type alignment
(SURVEY.md §7 known-hard #2).

Scale: the anti join and the union are both keyed on the PK; with the
changeset typically << target, Catalyst/AQE broadcasts the changeset side of
the anti join — no shuffle of the big table. At the real-DB boundary the
same changeset drives a JDBC foreachBatch MERGE (sources/jdbc.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hdc_dataengineering_sqlsync_spark.operators.diff import CHANGE_OP


def merge_apply(target: DataFrame, changeset: DataFrame, pk: list[str]) -> DataFrame:
    """Apply an I/U/D changeset (from ``snapshot_diff`` with payload) to
    target; returns the merged table with target's column order.

    Use this form when the changeset arrives independently of the target
    snapshot (CDC batches, foreachBatch micro-batches). Materialize the
    changeset (cache/checkpoint) before calling when it is the output of an
    expensive diff — both branches below reference it.
    """
    cols = target.columns
    # anti-join ALL changed keys, including I: on a fresh target the I keys
    # aren't present (no-op), but on retry-after-partial-apply they are, and
    # keeping them while unioning the upserts would duplicate rows. This is
    # exactly MERGE's insert-or-replace semantics, and it makes the apply
    # idempotent (tests/test_operators.py::test_merge_apply_is_idempotent).
    changed_keys = changeset.where(F.col(CHANGE_OP).isin("I", "U", "D")).select(*pk)
    # a join on ``pk`` moves the key columns first; select restores the order
    kept = target.join(changed_keys, pk, "left_anti").select(*cols)
    upserts = changeset.where(F.col(CHANGE_OP).isin("I", "U")).select(*cols)
    return kept.unionByName(upserts)


def materialize_changeset(changeset: DataFrame) -> DataFrame:
    """Drop no-op rows and materialize the changeset once (localCheckpoint).

    ``merge_apply`` references the changeset from two branches (anti-join
    keys, upsert rows); without materialization Spark recomputes the upstream
    diff join per branch. A changeset is small relative to the tables it came
    from, so pinning it is the scale-correct move (at 100 TB: persist to
    storage / a checkpoint dir; locally: executor block manager). Measured
    1.58s -> 0.98s on the sf0.1 diff->merge roundtrip.
    """
    return changeset.where(F.col(CHANGE_OP) != "=").localCheckpoint(eager=False)
