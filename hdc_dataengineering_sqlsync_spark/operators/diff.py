"""Snapshot diff — the core sync operator (SURVEY.md §2.8).

Semantics (source-of-truth perspective, matching SQL Server change-tracking's
I/U/D operations): for each primary key,

  I  key in source, missing from target      (target needs insert)
  U  key in both, row digest differs         (target needs update)
  D  key in target, missing from source      (target needs delete)
  =  key in both, digests equal              (no-op)

Both sides are digested over ONE named column list (the source's columns,
unless ``compare_cols`` names them), so a target whose columns are stored in
another order still compares row for row.

Scale: one full-outer shuffle join keyed on the PK; both sides are reduced to
(pk, digest, payload) before the join, so the shuffle carries one hash per
row, not N comparison columns. At 100 TB the join is the unavoidable cost;
everything else is map-side. ``diff_counts`` is the payload-free form for a
caller that needs only the counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hdc_dataengineering_sqlsync_spark.functions.digests import row_digest, row_digest_fast

CHANGE_OP = "change_op"
_SRC_DIGEST = "_src_digest"
_TGT_DIGEST = "_tgt_digest"
_SRC_ROWS = "_src_rows"


def _change_op() -> Column:
    """I/U/D/= from the two digest columns of a full-outer join (a missing
    side has a NULL digest)."""
    src_present = F.col(_SRC_DIGEST).isNotNull()
    tgt_present = F.col(_TGT_DIGEST).isNotNull()
    return (
        F.when(src_present & ~tgt_present, "I")
        .when(~src_present & tgt_present, "D")
        .when(F.col(_SRC_DIGEST) != F.col(_TGT_DIGEST), "U")
        .otherwise("=")
    )


def snapshot_diff(
    source: DataFrame,
    target: DataFrame,
    pk: list[str],
    compare_cols: list[str] | None = None,
    keep_source_payload: bool = True,
    cross_engine_digest: bool = False,
) -> DataFrame:
    """Classify every PK as I/U/D/= between source and target.

    Returns columns: pk..., change_op, and (when ``keep_source_payload``)
    the source's non-pk columns — exactly what ``merge.merge_apply`` needs
    to apply the changeset.

    The digest is ``row_digest_fast`` (xxhash64 over raw values — no string
    rendering, ~2x cheaper) unless ``cross_engine_digest`` asks for the
    md5-canonical-string form whose VALUE reproduces in other engines.
    """
    digest = row_digest if cross_engine_digest else row_digest_fast
    cols = compare_cols or source.columns
    non_pk = [c for c in source.columns if c not in pk]
    s = source.withColumn(_SRC_DIGEST, digest(source, cols))
    t = target.select(
        *[F.col(c).alias(f"_t_{c}") for c in pk],
        digest(target, cols).alias(_TGT_DIGEST),
    )
    cond = [s[k] == t[f"_t_{k}"] for k in pk]
    joined = s.join(t, cond, "full_outer")
    # PK comes from whichever side has the row (D rows have no source pk).
    pk_cols = [F.coalesce(s[k], t[f"_t_{k}"]).alias(k) for k in pk]
    payload = non_pk if keep_source_payload else []
    return joined.select(*pk_cols, _change_op().alias(CHANGE_OP), *payload)


def diff_counts(source: DataFrame, target: DataFrame, pk: list[str]) -> DataFrame:
    """One row: the I, U and D counts of ``snapshot_diff(source, target)``,
    the source's row count (``source_rows``) and the number of PKs the
    source holds more than once (``duplicate_keys``).

    No payload crosses the shuffle, only (pk, digest). The source side is
    grouped by PK into a row count and a digest before the full-outer join;
    the join reuses that aggregate's PK partitioning, so the duplicate check
    adds no exchange. A duplicated key is classified by its largest digest;
    a caller that cares rejects it through ``duplicate_keys``.
    """
    cols = source.columns
    s = source.groupBy(*pk).agg(
        F.count(F.lit(1)).alias(_SRC_ROWS), F.max(row_digest_fast(source, cols)).alias(_SRC_DIGEST)
    )
    t = target.select(*pk, row_digest_fast(target, cols).alias(_TGT_DIGEST))
    op = _change_op()
    return s.join(t, pk, "full_outer").agg(
        *[F.count(F.when(op == o, 1)).alias(o) for o in ("I", "U", "D")],
        F.coalesce(F.sum(_SRC_ROWS), F.lit(0)).alias("source_rows"),
        F.count(F.when(F.col(_SRC_ROWS) > 1, 1)).alias("duplicate_keys"),
    )


def diff_summary(diff: DataFrame) -> DataFrame:
    """change_op -> count, the validation view of a diff."""
    return diff.groupBy(CHANGE_OP).agg(F.count(F.lit(1)).alias("n")).orderBy(CHANGE_OP)
