"""Tests of the benchmark itself: input determinism, the output checks, and
span accounting. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import functools
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import gen  # noqa: E402
import spans  # noqa: E402
from hdc_dataengineering_sqlsync_spark import sync_job  # noqa: E402
from hdc_dataengineering_sqlsync_spark.sync_job import SyncReport  # noqa: E402
from workloads import _multiset, check_sync  # noqa: E402


def _bytes(table: pa.Table, path: str) -> bytes:
    gen.write_parquet(table, path)
    with open(path, "rb") as f:
        return f.read()


def _ops(a: pa.Table, b: pa.Table, pk: list[str]) -> dict[str, int]:
    """I/U/D counts that turn a into b, computed independently of gen."""
    joined = a.append_column("_in_a", pa.array([True] * a.num_rows)).join(
        b.append_column("_in_b", pa.array([True] * b.num_rows)), pk, join_type="full outer",
        left_suffix="_a", right_suffix="_b",
    )
    in_a = pc.fill_null(joined["_in_a"], False)
    in_b = pc.fill_null(joined["_in_b"], False)
    both = joined.filter(pc.and_(in_a, in_b))
    payload = [c for c in a.column_names if c not in pk]
    changed = functools.reduce(pc.or_, [pc.not_equal(both[c + "_a"], both[c + "_b"]) for c in payload])
    return {
        "I": pc.sum(pc.and_(in_b, pc.invert(in_a))).as_py() or 0,
        "D": pc.sum(pc.and_(in_a, pc.invert(in_b))).as_py() or 0,
        "U": pc.sum(changed).as_py() or 0,
    }


def test_star_schema_is_deterministic(tmp_path):
    first, again, other = gen.star_schema(7), gen.star_schema(7), gen.star_schema(8)
    for name in gen.STAR_TABLES:
        a = _bytes(first[name], str(tmp_path / f"{name}_1.parquet"))
        assert a == _bytes(again[name], str(tmp_path / f"{name}_2.parquet")), name
    assert first["lineitem"].num_rows == gen.N_LINEITEM
    assert not first["lineitem"].equals(other["lineitem"])


def test_lineitem_pk_is_unique_and_leads_the_schema():
    t = gen.lineitem_table(3)
    assert t.column_names[:2] == gen.LINEITEM_PK
    keys = pc.add(pc.multiply(t["l_orderkey"], gen.MAX_LINES), t["l_linenumber"])
    assert pc.count_distinct(keys).as_py() == t.num_rows


def test_snapshot_pair_has_exact_counts_both_ways(tmp_path):
    pair = gen.snapshot_pair(gen.lineitem_table(5), 5)
    k = gen.SNAPSHOT_CHANGES
    assert pair.counts_a_to_b == pair.counts_b_to_a == {"I": k, "U": k, "D": k}
    assert _ops(pair.a, pair.b, gen.LINEITEM_PK) == pair.counts_a_to_b
    assert _ops(pair.b, pair.a, gen.LINEITEM_PK) == pair.counts_b_to_a
    again = gen.snapshot_pair(gen.lineitem_table(5), 5)
    assert _bytes(pair.b, str(tmp_path / "b1.parquet")) == _bytes(again.b, str(tmp_path / "b2.parquet"))


def test_cdc_stream_is_deterministic_with_exact_counts():
    s1, s2 = gen.CdcStream(9), gen.CdcStream(9)
    for _ in range(3):
        before = s1.table
        counts = s1.step()
        assert counts == s2.step() == {"I": gen.CDC_INSERTS, "U": gen.CDC_UPDATES}
        assert s1.table.equals(s2.table)
        assert _ops(before, s1.table, gen.ORDERS_PK) == {"I": gen.CDC_INSERTS, "U": gen.CDC_UPDATES, "D": 0}
        new = s1.table.filter(pc.equal(s1.table[gen.VERSION_COL], s1.version))
        assert new.num_rows == gen.CDC_INSERTS + gen.CDC_UPDATES


def test_canonical_hash_ignores_order_and_zone_but_not_values():
    t = gen.CdcStream(1).table.slice(0, 1000)
    shuffled = t.take(pa.array(list(reversed(range(t.num_rows)))))
    zoned = t.set_column(4, "o_orderdate", t["o_orderdate"].cast(pa.timestamp("us", tz="UTC")))
    priority = t["o_orderpriority"].to_pylist()
    priority[3] = "0-OTHER"
    edited = t.set_column(5, "o_orderpriority", pa.array(priority))
    h = gen.canonical_hash(t, gen.ORDERS_PK)
    assert gen.canonical_hash(shuffled, gen.ORDERS_PK) == h
    assert gen.canonical_hash(zoned, gen.ORDERS_PK) == h
    assert gen.canonical_hash(edited, gen.ORDERS_PK) != h


@pytest.fixture
def synced(tmp_path):
    """A target directory holding the expected snapshot, and its hash."""
    stream = gen.CdcStream(2)
    counts = stream.step()
    target = tmp_path / "target"
    target.mkdir()
    pq.write_table(stream.table, str(target / "part-0.parquet"))
    return stream.table, str(target), counts, gen.canonical_hash(stream.table, gen.ORDERS_PK)


def test_check_sync_accepts_a_correct_sync(synced):
    _, target, counts, want = synced
    report = SyncReport("orders", "incremental", dict(counts), None, validated=True)
    assert check_sync(report, "incremental", counts, target, gen.ORDERS_PK, want) == []


def test_check_sync_reports_a_corrupted_target(synced):
    table, target, counts, want = synced
    price = table["o_totalprice"].to_numpy().copy()
    price[17] += 0.01
    pq.write_table(table.set_column(3, "o_totalprice", pa.array(price)), os.path.join(target, "part-0.parquet"))
    report = SyncReport("orders", "incremental", dict(counts), None, validated=True)
    problems = check_sync(report, "incremental", counts, target, gen.ORDERS_PK, want)
    assert problems == ["target content differs from the expected snapshot"]


def test_check_sync_reports_wrong_op_counts_and_unvalidated(synced):
    _, target, counts, want = synced
    report = SyncReport("orders", "incremental", {"I": counts["I"], "U": counts["U"] + 1}, None, validated=False)
    problems = check_sync(report, "incremental", counts, target, gen.ORDERS_PK, want)
    assert len(problems) == 2
    assert problems[0].startswith("op_counts")
    assert problems[1] == "sync reported validated=False"


def test_multiset_fingerprint_detects_a_changed_row():
    rows = [(1, "a", 2.5), (2, "b", None)]
    assert _multiset(rows) == _multiset(list(reversed(rows)))
    assert _multiset(rows) != _multiset([(1, "a", 2.5), (2, "b", 0.0)])
    assert _multiset(rows) != _multiset(rows[:1])


def test_self_time_excludes_children_and_jobs():
    parent = spans.Span("s0", "sync_table", None, 0.0, 10.0)
    child = spans.Span("s1", "sources.write", "s0", 1.0, 4.0)
    jobs = [
        {"group": "s0", "start": 3.0, "end": 6.0},  # overlaps the child by 1s
        {"group": "s0", "start": 5.0, "end": 7.0},  # overlaps the first job
        {"group": "s1", "start": 2.0, "end": 3.0},
    ]
    att = spans.attribute([parent, child], jobs)
    assert att.self_s["s0"] == pytest.approx(10.0 - 6.0)
    assert att.self_s["s1"] == pytest.approx(3.0 - 1.0)
    assert len(att.subtree_jobs("s0")) == 3


def test_job_layer_names_sync_job_statements():
    path = sync_job.__file__
    with open(path) as f:
        lines = f.read().splitlines()

    def line_of(text: str) -> int:
        return next(i for i, ln in enumerate(lines, 1) if text in ln)

    assert spans.job_layer(f"collect at {path}:{line_of('op_counts = {') + 2}") == "sync_job.opcount"
    assert spans.job_layer(f"collect at {path}:{line_of('validated = expect')}") == "sync_job.validate"
    assert spans.job_layer(f"collect at {path}:{line_of('row = source.agg')}") == "sync_job.version_scan"
    assert spans.job_layer(None) == "spark.job"
    assert spans.job_layer("collect at /x/plans/joins.py:12") == "spark.job.joins"
