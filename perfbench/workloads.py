"""The three closed-loop workloads: one client, one op at a time.

Each workload generates its inputs from the seed (``gen``), warms up, then
runs ops. ``op`` times only the call into the program; preparing the next
input and checking the output happen outside the timed region, and every
check failure is returned as a problem string.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

import gen
from hdc_dataengineering_sqlsync_spark import sync_job
from hdc_dataengineering_sqlsync_spark.functions.digests import row_digest_fast
from hdc_dataengineering_sqlsync_spark.operators import diff as diff_module
from hdc_dataengineering_sqlsync_spark.operators.diff import snapshot_diff
from hdc_dataengineering_sqlsync_spark.operators.merge import materialize_changeset, merge_apply
from hdc_dataengineering_sqlsync_spark.operators.state import StateStore
from hdc_dataengineering_sqlsync_spark.plans import CATALOG
from hdc_dataengineering_sqlsync_spark.sync_job import SyncReport, TableSyncConfig, sync_table
from hdc_dataengineering_sqlsync_spark.testing import compare_results, duckdb_result, type_mismatches
from spans import Tracer

# Query.bench qids whose inputs are all in the generated star schema and
# whose op stays under a second at sf0.1. Left out (see README.md): the bench
# qids over documents/embeddings/events, and the four heavy ones whose
# run-to-run spread would set loose bounds for every workload.
CATALOG_QIDS = (
    "agg_pricing_summary",
    "agg_rollup",
    "dq_join_fanout_audit",
    "fn_hash_digest",
    "join_full_outer_diff",
    "join_multiway_chain",
    "sort_limit_topk",
    "sync_merge_apply",
    "sync_partition_digest",
    "sync_snapshot_diff",
    "win_topk_per_group",
)


@dataclass
class OpResult:
    label: str
    seconds: float
    rows: int
    problems: list[str]
    span_id: str | None = None  # top-level trace span of this op, when traced
    attrs: dict = field(default_factory=dict)


def noop(df: DataFrame) -> None:
    """Force a plan to completion without collecting or writing anything."""
    df.write.format("noop").mode("overwrite").save()


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under a file or directory."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def check_sync(report: SyncReport, mode: str, counts: dict[str, int], target: str, pk: list[str], want_hash: str) -> list[str]:
    """Target equals the expected snapshot, op counts equal the generator's,
    and the sync validated itself."""
    problems = []
    if report.mode != mode:
        problems.append(f"mode {report.mode!r}, expected {mode!r}")
    if report.op_counts != counts:
        problems.append(f"op_counts {report.op_counts}, expected {counts}")
    if not report.validated:
        problems.append("sync reported validated=False")
    if gen.canonical_hash(pq.read_table(target), pk) != want_hash:
        problems.append("target content differs from the expected snapshot")
    return problems


class _Sync:
    """What the two sync workloads share."""

    name = ""
    round_size = 2
    balanced = False
    warm_ops = 0  # op times fall by 10-20% over the first few ops while the JVM compiles
    pk: list[str] = []
    mode = ""

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.target = os.path.join(work, "target")
        self.store = StateStore(os.path.join(work, "state.json"))

    def trace_targets(self) -> list[tuple[object, str, str]]:
        return [
            (sync_job, "snapshot_diff", "diff.plan"),
            (sync_job, "materialize_changeset", "merge.checkpoint_plan"),
            (sync_job, "merge_apply", "merge.plan"),
            (sync_job, "detect_drift", "schema_drift"),
            (sync_job, "_current_version", "sync_job.version_scan"),
            (sync_job, "_atomic_swap_write", "sources.write"),
            (StateStore, "get", "state.get"),
            (StateStore, "put", "state.put"),
            (diff_module, "row_digest_fast", "digests.plan"),
            (DataFrameReader, "parquet", "sources.read"),
        ]

    def at_boundary(self) -> bool:
        return True

    # subclass hooks
    def _next(self) -> tuple[TableSyncConfig, dict[str, int], str, int]:
        """Prepare the next source; return (config, expected counts, expected
        target hash, source rows)."""
        raise NotImplementedError

    def _diff_inputs(self, spark: SparkSession, cfg: TableSyncConfig) -> tuple[DataFrame, DataFrame]:
        raise NotImplementedError

    def _sync(self, spark: SparkSession, cfg: TableSyncConfig) -> tuple[SyncReport, float]:
        t0 = time.perf_counter()
        report = sync_table(spark, cfg, self.store)
        return report, time.perf_counter() - t0

    def warm_up(self, spark: SparkSession) -> list[OpResult]:
        """The initial full copy, then ``warm_ops`` checked syncs."""
        cfg, _, want, rows = self._next()
        report, seconds = self._sync(spark, cfg)
        problems = check_sync(report, "initial_copy", {"I": rows}, self.target, self.pk, want)
        first = OpResult("initial_copy", seconds, rows, problems)
        return [first, *(self.op(spark, None) for _ in range(self.warm_ops))]

    def op(self, spark: SparkSession, tracer: Tracer | None) -> OpResult:
        cfg, counts, want, rows = self._next()
        label = os.path.basename(cfg.source_path)
        if tracer is None or not tracer.enabled:
            report, seconds = self._sync(spark, cfg)
            problems = check_sync(report, self.mode, counts, self.target, self.pk, want)
            return OpResult(label, seconds, rows, problems)
        with tracer.span("op") as top:
            top.attrs["scan_bytes"] = tree_bytes(cfg.source_path)[0] + tree_bytes(self.target)[0]
            with tracer.span("decompose"):
                self._decompose(spark, tracer, cfg, top.attrs)
            with tracer.span("sync_table"):
                report, seconds = self._sync(spark, cfg)
        top.attrs["write_bytes"], top.attrs["files_written"] = tree_bytes(self.target)
        top.attrs["changed"] = sum(counts.values())
        problems = check_sync(report, self.mode, counts, self.target, self.pk, want)
        return OpResult(label, seconds, rows, problems, top.id, top.attrs)

    def _decompose(self, spark: SparkSession, tracer: Tracer, cfg: TableSyncConfig, attrs: dict) -> None:
        """Call each layer sync_table calls, on the same pre-sync inputs, and
        force every plan it returns to a noop sink inside its own span."""
        source, target = self._diff_inputs(spark, cfg)
        with tracer.span("sources.scan"):
            noop(source)
            noop(target)
        with tracer.span("digests"):
            noop(source.select(row_digest_fast(source)))
            noop(target.select(row_digest_fast(target)))
        with tracer.span("diff"):
            d = snapshot_diff(source, target, pk=self.pk)
            noop(d)
        with tracer.span("merge.checkpoint"):
            changes = materialize_changeset(d)
            changes.count()
        with tracer.span("merge.apply"):
            noop(merge_apply(spark.read.parquet(self.target), changes, pk=self.pk))
        attrs["rows_compared"] = source.count() + target.count()


class SyncSnapshot(_Sync):
    """Snapshot-mode syncs of lineitem, alternating sources A and B."""

    name = "sync_snapshot"
    pk = gen.LINEITEM_PK
    mode = "snapshot"
    warm_ops = 4

    def generate(self) -> None:
        pair = gen.snapshot_pair(gen.lineitem_table(self.seed), self.seed)
        self.paths = [os.path.join(self.work, "A.parquet"), os.path.join(self.work, "B.parquet")]
        gen.write_parquet(pair.a, self.paths[0])
        gen.write_parquet(pair.b, self.paths[1])
        self._tables = (pair.a, pair.b)
        self._counts = (pair.counts_b_to_a, pair.counts_a_to_b)
        self._rows = (pair.a.num_rows, pair.b.num_rows)
        self._hashes: list[str | None] = [None, None]
        self._i = 0

    def _next(self):
        k = self._i % 2
        self._i += 1
        if self._hashes[k] is None:
            self._hashes[k] = gen.canonical_hash(self._tables[k], self.pk)
        cfg = TableSyncConfig("lineitem", list(self.pk), self.paths[k], self.target)
        return cfg, self._counts[k], self._hashes[k], self._rows[k]

    def _diff_inputs(self, spark, cfg):
        return spark.read.parquet(cfg.source_path), spark.read.parquet(self.target)


class SyncIncremental(_Sync):
    """CDC-mode syncs of orders: each op pulls one ~400-row version batch."""

    name = "sync_incremental"
    pk = gen.ORDERS_PK
    mode = "incremental"
    warm_ops = 24

    def generate(self) -> None:
        self.stream = gen.CdcStream(self.seed)
        self._source = None

    def _next(self):
        counts = self.stream.step() if self._source else {}
        old = self._source
        self._source = os.path.join(self.work, f"orders_v{self.stream.version}.parquet")
        gen.write_parquet(self.stream.table, self._source)
        if old:
            os.remove(old)
        want = gen.canonical_hash(self.stream.table, self.pk)
        cfg = TableSyncConfig("orders", list(self.pk), self._source, self.target, gen.VERSION_COL)
        return cfg, counts, want, self.stream.table.num_rows

    def _diff_inputs(self, spark, cfg):
        # the incremental branch of sync_table: version-filtered delta against
        # the target rows it touches
        last = self.store.get(cfg.name).last_version
        delta = spark.read.parquet(cfg.source_path).where(F.col(cfg.version_col).cast("long") > last)
        target = spark.read.parquet(self.target).join(delta.select(*self.pk), self.pk, "left_semi")
        return delta, target


def _multiset(rows: list) -> tuple[int, int]:
    """Order-insensitive fingerprint of a collected result."""
    acc = 0
    for r in rows:
        try:
            h = hash(tuple(r))
        except TypeError:
            h = hash(repr(tuple(r)))
        acc = (acc + h) & 0xFFFFFFFFFFFFFFFF
    return len(rows), acc


class CatalogMix:
    """Whole passes over CATALOG_QIDS, each query collected to the driver."""

    name = "catalog_mix"
    round_size = len(CATALOG_QIDS)
    balanced = True

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.data = os.path.join(work, "data")
        self._i = 0
        self._verified: dict[str, tuple[int, int]] = {}

    def trace_targets(self) -> list[tuple[object, str, str]]:
        return [(DataFrameReader, "parquet", "sources.read")]

    def generate(self) -> None:
        missing = [q for q in CATALOG_QIDS if q not in CATALOG or not CATALOG[q].bench]
        if missing:
            raise KeyError(f"not bench qids of the catalog: {missing}")
        gen.write_star_schema(gen.star_schema(self.seed), self.data)

    def at_boundary(self) -> bool:
        return self._i % len(CATALOG_QIDS) == 0

    def warm_up(self, spark: SparkSession) -> list[OpResult]:
        """Two passes: the first checked against the oracle, the second held
        to the first's results."""
        return self.verify(spark) + [self.op(spark, None) for _ in CATALOG_QIDS]

    def verify(self, spark: SparkSession) -> list[OpResult]:
        """One pass checking every qid's result against its DuckDB oracle over
        the same files; the fingerprint of each verified result is what later
        ops are held to."""
        con = duckdb.connect()
        try:
            for table in gen.STAR_TABLES:
                path = os.path.join(self.data, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
            out = []
            for qid in CATALOG_QIDS:
                q = CATALOG[qid]
                t0 = time.perf_counter()
                df = q.fn(spark, self.data)
                rows = df.collect()
                seconds = time.perf_counter() - t0
                cols = list(df.columns)
                dc, dr, dtypes = duckdb_result(con, q.oracle)
                problems = type_mismatches(df.schema, dc, dtypes) + compare_results(
                    cols, [tuple(r) for r in rows], dc, dr
                )
                if not problems:
                    self._verified[qid] = _multiset(rows)
                out.append(OpResult(qid, seconds, len(rows), problems))
            return out
        finally:
            con.close()

    def op(self, spark: SparkSession, tracer: Tracer | None) -> OpResult:
        qid = CATALOG_QIDS[self._i % len(CATALOG_QIDS)]
        self._i += 1
        fn = CATALOG[qid].fn
        traced = tracer is not None and tracer.enabled
        with tracer.span(f"plans.{qid}") if traced else contextlib.nullcontext() as top:
            t0 = time.perf_counter()
            rows = fn(spark, self.data).collect()
            seconds = time.perf_counter() - t0
        attrs = {}
        if traced:
            with tracer.span(f"plans.{qid}.engine") as engine:
                noop(fn(spark, self.data))
            attrs["engine_s"] = engine.seconds
        want = self._verified.get(qid)
        problems = []
        if want is None:
            problems.append("no verified result to compare with (oracle check failed)")
        elif _multiset(rows) != want:
            problems.append("result differs from the oracle-verified result")
        return OpResult(qid, seconds, len(rows), problems, top.id if top else None, attrs)


WORKLOADS = {w.name: w for w in (SyncSnapshot, SyncIncremental, CatalogMix)}
