"""SURVEY.md §2 round-5 additions.

Opens with the r4 verdict's #5: DSv2 aggregate pushdown into a live JDBC
source (`jdbc_agg_pushdown`) — the next transport pushdown a real sync
user hits after the filter pushdown already declared in plans/sync.py.

Registered LAST (plans/__init__.py) so the qids append to the
END of the never-checked rotation segment: the round-5 driver window (50 of
the 81 r4-era unchecked qids, plus this round's stale re-checks) is
unchanged, and these enter the window once that backlog drains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdc_dataengineering_sqlsync_spark.plans.catalog import query
from hdc_dataengineering_sqlsync_spark.registry import load

# ------------------------------------------- 2.8 sync: JDBC agg pushdown

_JDBC_AGG_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS total_cents,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM orders WHERE o_orderkey % 10 = 0
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query("jdbc_agg_pushdown", "2.8 sync", _JDBC_AGG_ORACLE)
def jdbc_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSv2 AGGREGATE pushdown into a live JDBC source: the GROUP BY plus
    COUNT/SUM/MIN/MAX run INSIDE the database (embedded Derby via
    JDBCTableCatalog with ``pushDownAggregate``), so only the ~5 grouped
    rows cross the wire — the v1 ``spark.read.jdbc`` path used by
    `jdbc_filter_pushdown` can push only WHERE clauses and columns. For the
    reference's transport domain this is the decisive extract shape: a 100
    TB-side rollup ships grouped rows, not the table. The scan is
    single-partition, so Spark plans a COMPLETE pushdown (no Spark-side
    HashAggregate at all — the physical plan is Project-over-JDBC-scan with
    ``PushedAggregates``/``PushedGroupByExpressions``, plan-asserted in
    tests). Money is staged as exact int64 cents so the pushed SUM is
    order-free and engine-identical (Derby SUM(BIGINT) -> BIGINT); MIN/MAX
    of 2dp doubles are exact, and no double SUM crosses engines. Limit
    pushdown (``pushDownLimit``) was probed and is NOT supported by the
    Derby dialect (no PushedLimit in the plan) — documented, not declared.
    """
    from hdc_dataengineering_sqlsync_spark.plans.sync import _DERBY_DRIVER, _derby_url
    from hdc_dataengineering_sqlsync_spark.sources.jdbc import JdbcTable, write_jdbc

    url = _derby_url(sf_dir, "aggpush")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    staged = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            cents.alias("cents"),
            "o_totalprice",
        )
    )
    t = JdbcTable(
        url,
        "orders_agg",
        ("o_orderkey",),
        {
            **_DERBY_DRIVER,
            # Derby cannot group/compare CLOB (Spark's default Derby mapping
            # for StringType) — force a comparable VARCHAR
            "createTableColumnTypes": "o_orderpriority VARCHAR(20)",
        },
    )
    write_jdbc(staged, t, mode="overwrite")

    # JDBCTableCatalog is the v2 path that can take aggregates; catalog
    # name is keyed like the database dir (per sf_dir + process) because
    # Spark caches catalog instances by name after first use — a shared
    # name would pin the FIRST url for the session's lifetime
    cat = "derby_" + url.rsplit("hdc_derby_aggpush_", 1)[-1].split(";", 1)[0]
    spark.conf.set(
        f"spark.sql.catalog.{cat}",
        "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog",
    )
    spark.conf.set(f"spark.sql.catalog.{cat}.url", url)
    spark.conf.set(f"spark.sql.catalog.{cat}.driver", _DERBY_DRIVER["driver"])
    spark.conf.set(f"spark.sql.catalog.{cat}.pushDownAggregate", "true")

    back = spark.table(f"{cat}.ORDERS_AGG")
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("total_cents"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("o_orderpriority")
    )


# ----------------------------------------------------- 2.1 scan surface


def _r5_stage(sf_dir: str) -> str:
    """Round-5 staging dir, keyed by sf_dir (same convention and concurrency
    rationale as plans/scans._rt_base: same-sf_dir runs write identical
    content, different sf_dirs never collide)."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"hdc_sqlsync_r5_{tag}")
    os.makedirs(d, exist_ok=True)
    return d


_FILE_META_ORACLE = """
SELECT CAST(4 AS BIGINT) AS n_files,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS rowindex_rows
FROM orders
"""


@query("scan_file_metadata", "2.1 scans", _FILE_META_ORACLE)
def scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hidden ``_metadata`` scan columns (file_path, row_index) — the
    provenance surface a 100 TB pipeline uses for per-file lineage, file-
    level incremental re-processing, and stable intra-file row addressing
    WITHOUT writing ids into the data. Stages orders into exactly 4 files,
    then proves the metadata algebra: 4 distinct file paths, and per-file
    ``max(row_index)+1`` (row_index is 0-based and dense per file) summing
    back to the exact row count. Metadata columns are populated by the
    scan itself — no extra read, no shuffle; the census reduces map-side."""
    import os

    out = os.path.join(_r5_stage(sf_dir), "orders_meta4")
    load(spark, sf_dir, "orders").repartition(4).write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out).select(
        F.col("_metadata.file_path").alias("fp"),
        F.col("_metadata.row_index").alias("ri"),
    )
    per_file = back.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n"), (F.max("ri") + 1).alias("ri_rows")
    )
    return per_file.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n").alias("n_rows"),
        F.sum("ri_rows").alias("rowindex_rows"),
    )


_BLOOM_SKIP_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
WHERE o_orderkey IN (997, 1994, 2991, 3988, 4985, 5982, 6979, 7976, 8973,
                     9970, 10967, 11964, 12961, 13958, 14955, 15952)
"""

_BLOOM_KEYS = tuple(997 * k for k in range(1, 17))


@query("scan_parquet_bloom_skip", "2.1 scans", _BLOOM_SKIP_ORACLE)
def scan_parquet_bloom_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet COLUMN BLOOM FILTERS for point-lookup row-group skipping —
    the third pruning mechanism after partition pruning and min/max zone
    maps, and the only one that works on a HIGH-CARDINALITY key in files
    not sorted by it (round-robin staging gives every file the full key
    range, so min/max can never skip; at 100 TB a point probe without
    blooms scans every row group of every file). Writes the staged table
    with ``parquet.bloom.filter.enabled#o_orderkey`` and probes a 16-key
    IN list; parquet-mr consults the per-row-group bloom before decoding
    pages. The footer cost is real and bounded (~1.2 MB/1M-ndv group at
    the default FPP): the unit test asserts the bloomed files are
    measurably larger than a bloom-less control write and that results
    are identical. Cents stay exact int64."""
    import os

    out = os.path.join(_r5_stage(sf_dir), "orders_bloom")
    (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .repartition(4)
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_orderkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_orderkey", "1500000")
        .parquet(out)
    )
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return (
        spark.read.parquet(out)
        .where(F.col("o_orderkey").isin(*_BLOOM_KEYS))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("total_cents"))
    )


# --------------------------------------------- 2.8 multi-dim sync layout

_ZORDER_ORACLE = """
WITH s AS (
  SELECT min(o_custkey) AS c0, max(o_custkey) AS c1,
         min(CAST(o_orderdate AS DATE)) AS d0, max(CAST(o_orderdate AS DATE)) AS d1
  FROM orders
),
b AS (
  SELECT c0 + (c1 - c0) // 2 AS lo_c,
         c0 + (c1 - c0) // 2 + (c1 - c0) // 20 AS hi_c,
         date_diff('day', d0, d1) // 2 AS lo_dd,
         date_diff('day', d0, d1) // 2 + (date_diff('day', d0, d1) + 1) // 20 AS hi_dd,
         d0
  FROM s
)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders, b
WHERE o_custkey BETWEEN lo_c AND hi_c
  AND date_diff('day', d0, CAST(o_orderdate AS DATE)) BETWEEN lo_dd AND hi_dd
"""


def _morton16(x, y):
    """Interleave the low 16 bits of two int columns into a 32-bit Morton
    (Z-order) code — pure JVM bit arithmetic, codegen-friendly."""
    z = F.lit(0)
    for i in range(16):
        z = z.bitwiseOR(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
        z = z.bitwiseOR(F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return z


@query("sync_zorder_layout", "2.8 sync core", _ZORDER_ORACLE)
def sync_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER (Morton-interleaved) multi-dimensional layout for a sync
    target — the lakehouse answer to 'queries filter on customer AND date
    but a sort can only serve one': bucket both dims to 8 bits, interleave
    the bits into one code, range-partition + sort the write on it. Every
    granule then covers a small RECTANGLE in (custkey, date) space, so
    min/max zone maps skip on EITHER dim (measured in the unit test: ~50%
    of granules skip a 5% custkey band and ~69% a 5% date band, where a
    date-sorted layout skips 0% on custkey). The dim spans come from one
    bounded 4-scalar aggregate (the driver-offset precedent); the Morton
    code is 64 bit ops, map-side, inside codegen. At 100 TB this is the
    standing layout maintenance job between syncs — same shape as
    sync_compact_small_files, plus the interleave. The oracle checks the
    band query's answer against the original table (losslessness +
    band algebra); the layout property itself is footer-asserted in
    tests/test_roundfive.py."""
    import os

    o = load(spark, sf_dir, "orders")
    s = o.agg(
        F.min("o_custkey").alias("c0"),
        F.max("o_custkey").alias("c1"),
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.max(F.col("o_orderdate").cast("date")).alias("d1"),
    ).collect()[0]
    c0, c1 = s.c0, s.c1
    span_days = (s.d1 - s.d0).days

    cb = F.least(
        F.lit(255), ((F.col("o_custkey") - F.lit(c0)) * 256 / F.lit(c1 - c0 + 1)).cast("int")
    )
    dd = F.datediff(F.col("o_orderdate").cast("date"), F.lit(s.d0))
    db = F.least(F.lit(255), (dd * 256 / F.lit(span_days + 1)).cast("int"))

    out = os.path.join(_r5_stage(sf_dir), "orders_zorder")
    (
        o.withColumn("z", _morton16(cb, db))
        # granule count follows session parallelism, not a constant: the r11
        # factor-100 probe showed hard-coded widths become task funnels the
        # moment the cluster outgrows them. The floor of 32 keeps enough
        # granules for min/max skipping on either dimension on small hosts.
        .repartitionByRange(max(32, spark.sparkContext.defaultParallelism), "z")
        .sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite")
        .parquet(out)
    )

    lo_c = c0 + (c1 - c0) // 2
    hi_c = lo_c + (c1 - c0) // 20
    lo_dd = span_days // 2
    hi_dd = lo_dd + (span_days + 1) // 20
    back = spark.read.parquet(out)
    band_dd = F.datediff(F.col("o_orderdate").cast("date"), F.lit(s.d0))
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return (
        back.where(F.col("o_custkey").between(lo_c, hi_c) & band_dd.between(lo_dd, hi_dd))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("total_cents"))
    )


# --------------------------------------- 2.8 optimistic concurrency check

_OCC_ORACLE = """
WITH w AS (
  SELECT o_orderkey, 1 + o_orderkey % 3 AS base_version
  FROM orders WHERE o_orderkey % 4 = 0
),
t AS (SELECT o_orderkey, 1 + o_orderkey % 5 AS current_version FROM orders)
SELECT CASE WHEN t.current_version = w.base_version THEN 'committed'
            ELSE 'conflict' END AS status,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(w.o_orderkey) AS BIGINT) AS min_key,
       CAST(max(w.o_orderkey) AS BIGINT) AS max_key
FROM w JOIN t ON w.o_orderkey = t.o_orderkey
GROUP BY status ORDER BY status
"""


@query("sync_occ_conflicts", "2.8 sync core", _OCC_ORACLE)
def sync_occ_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic-concurrency-control write admission: each writer carries
    the row VERSION it read (base_version); the write set joins the live
    target and commits only where current_version still equals it —
    anything bumped by a concurrent writer since the read is a conflict to
    retry. This is the row-version twin of the engine's digest-based drift
    detection (sync_snapshot_diff finds WHAT changed; OCC decides WHO may
    write), and the admission check every multi-writer sync target needs.
    One keyed equi-join (write set is the small side -> broadcast at
    scale), conflict census to 2 rows. Versions are derived deterministic
    integers so both engines state the same lattice."""
    o = load(spark, sf_dir, "orders")
    writers = o.where(F.col("o_orderkey") % 4 == 0).select(
        "o_orderkey", (1 + F.col("o_orderkey") % 3).alias("base_version")
    )
    target = o.select("o_orderkey", (1 + F.col("o_orderkey") % 5).alias("current_version"))
    return (
        writers.join(target, "o_orderkey")
        .select(
            F.when(F.col("current_version") == F.col("base_version"), "committed")
            .otherwise("conflict")
            .alias("status"),
            "o_orderkey",
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("status")
    )


# --------------------------------- 2.4 exact higher-moment shape statistics

# Shared expression strings (the _det3/_OLS idiom from exact_stats): the
# SAME text feeds Spark's F.expr and the DuckDB oracle, so the IEEE
# expression tree over the exact integer moment sums is identical by
# construction.
_MOM_N = "CAST(n AS DOUBLE)"
_MOM_MU = f"(CAST(s1 AS DOUBLE) / {_MOM_N})"
_MOM_M2 = f"(CAST(s2 AS DOUBLE) / {_MOM_N} - {_MOM_MU} * {_MOM_MU})"
_MOM_M3 = (
    f"(CAST(s3 AS DOUBLE) / {_MOM_N} - 3.0 * {_MOM_MU} * CAST(s2 AS DOUBLE) / {_MOM_N}"
    f" + 2.0 * {_MOM_MU} * {_MOM_MU} * {_MOM_MU})"
)
_MOM_M4 = (
    f"(CAST(s4 AS DOUBLE) / {_MOM_N} - 4.0 * {_MOM_MU} * CAST(s3 AS DOUBLE) / {_MOM_N}"
    f" + 6.0 * {_MOM_MU} * {_MOM_MU} * CAST(s2 AS DOUBLE) / {_MOM_N}"
    f" - 3.0 * {_MOM_MU} * {_MOM_MU} * {_MOM_MU} * {_MOM_MU})"
)
_SKEW_EXPR = f"round({_MOM_M3} / pow({_MOM_M2}, 1.5), 6)"
_KURT_EXPR = f"round({_MOM_M4} / ({_MOM_M2} * {_MOM_M2}) - 3.0, 6)"

_SHAPE_ORACLE = f"""
WITH m AS (
  SELECT l_returnflag, count(*) AS n,
         sum(q) AS s1, sum(q * q) AS s2,
         sum(q * q * q) AS s3, sum(q * q * q * q) AS s4
  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem)
  GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round({_MOM_MU}, 6) AS mean_qty,
       {_SKEW_EXPR} AS skewness,
       {_KURT_EXPR} AS kurtosis_excess
FROM m ORDER BY l_returnflag
"""


@query("agg_skew_kurtosis_exact", "2.4 aggregations", _SHAPE_ORACLE)
def agg_skew_kurtosis_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution SHAPE statistics (skewness, excess kurtosis) per group
    from one exact-integer aggregate pass — the 3rd/4th-moment extension of
    agg_corr_covar_exact, and the same argument against builtin
    skewness()/kurtosis(): their streaming central-moment accumulation is
    order-dependent and engine-specific, while raw power sums of an
    integral column are order-free int64/decimal and convert to central
    moments in ONE closed-form double step per group — whose expression
    string is shared verbatim with the oracle (identical IEEE tree).
    Quantity is 1..50 so q^4 <= 6.25e6/row: int64 carries ~1.5e12 rows;
    the DECIMAL(38,0) casts below keep Spark's sums exact far beyond that
    (DuckDB already promotes to HUGEINT). Map-side-combinable; 3 rows
    out."""
    li = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    m = (
        li.select("l_returnflag", q.alias("q"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("q").alias("s1"),
            F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).alias("s2"),
            F.sum((F.col("q") * F.col("q") * F.col("q")).cast("decimal(38,0)")).alias("s3"),
            F.sum(
                (F.col("q") * F.col("q") * F.col("q") * F.col("q")).cast("decimal(38,0)")
            ).alias("s4"),
        )
    )
    return m.select(
        "l_returnflag",
        "n",
        F.round(F.expr(_MOM_MU), 6).alias("mean_qty"),
        F.expr(_SKEW_EXPR).alias("skewness"),
        F.expr(_KURT_EXPR).alias("kurtosis_excess"),
    ).orderBy("l_returnflag")


# ------------------------------------ 2.10 counter-reset-aware rate (TSDB)

_RATE_ORACLE = """
WITH c AS (
  SELECT user_id, ts, event_id,
         sum(CAST(round(value * 100, 0) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS cum
  FROM events
),
g AS (
  SELECT user_id, cum % 200000 AS counter,
         lag(cum % 200000) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev,
         first_value(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS first_cum,
         cum
  FROM c
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(CASE WHEN counter < prev THEN 1 ELSE 0 END) AS BIGINT) AS n_resets,
       CAST(sum(CASE WHEN prev IS NULL THEN 0
                     WHEN counter < prev THEN counter + 200000 - prev
                     ELSE counter - prev END) AS BIGINT) AS recovered_cents,
       CAST(max(cum) - min(first_cum) AS BIGINT) AS true_increase_cents
FROM g GROUP BY user_id ORDER BY user_id
"""


@query("ts_rate_counter_resets", "2.10 streaming", _RATE_ORACLE)
def ts_rate_counter_resets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotonic-counter RATE with wrap recovery — the TSDB
    ``increase()`` semantic every metrics pipeline needs: a counter that
    wraps must not produce negative rates. With a KNOWN modulus the exact
    recovery on an observed decrease is ``(counter - prev) mod m``
    (Prometheus's restart convention — charge only the post-reset value,
    assuming a restart from 0 — is the lower bound this reduces to when
    the wrap point is unknown). The fixture derives a wrapping counter
    from exact cumulative event cents (mod $2k), so the recovered
    increase provably EQUALS the true unwrapped increase whenever every
    inter-sample delta stays below the modulus — which holds here (deltas
    are single-event cents), and is unit-asserted. One (user) shuffle,
    two window passes over it, exact int64 cents end to end; per-user
    output rows. At 100 TB the partition key is (metric, series-id) — the
    same single-shuffle shape."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    c = ev.select("user_id", "ts", "event_id", cents.alias("cents")).withColumn(
        "cum", F.sum("cents").over(w)
    )
    g = c.select(
        "user_id",
        (F.col("cum") % 200000).alias("counter"),
        F.lag(F.col("cum") % 200000).over(w).alias("prev"),
        F.first("cum").over(w).alias("first_cum"),
        "cum",
    )
    return (
        g.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum(F.when(F.col("counter") < F.col("prev"), 1).otherwise(0)).alias("n_resets"),
            F.sum(
                F.when(F.col("prev").isNull(), 0)
                .when(F.col("counter") < F.col("prev"), F.col("counter") + 200000 - F.col("prev"))
                .otherwise(F.col("counter") - F.col("prev"))
            ).alias("recovered_cents"),
            (F.max("cum") - F.min("first_cum")).alias("true_increase_cents"),
        )
        .orderBy("user_id")
    )


# ------------------------------------------ 2.9 bigram LM quality scoring

_BIGRAM_LP_ORACLE = r"""
WITH tok AS (
  SELECT doc_id, lang, token, idx
  FROM (
    SELECT doc_id, lang,
           unnest(string_split_regex(lower(text), '\s+')) AS token,
           unnest(range(1, len(string_split_regex(lower(text), '\s+')) + 1)) AS idx
    FROM documents
  )
),
bg AS (
  SELECT a.doc_id, a.lang, a.token AS w1, b.token AS w2
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.idx = a.idx + 1
),
bfreq AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
ufreq AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
vocab AS (SELECT count(DISTINCT token) AS v FROM tok),
per_doc AS (
  SELECT g.doc_id, g.lang,
         avg(-ln((f.c12 + 1) / CAST(u.c1 + vocab.v AS DOUBLE))) AS nll,
         count(*) AS n_bigrams
  FROM bg g
  JOIN bfreq f ON g.w1 = f.w1 AND g.w2 = f.w2
  JOIN ufreq u ON g.w1 = u.w1
  CROSS JOIN vocab
  GROUP BY g.doc_id, g.lang
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
       round(avg(nll), 4) AS avg_nll,
       round(min(nll), 4) AS min_nll,
       round(max(nll), 4) AS max_nll
FROM per_doc GROUP BY lang ORDER BY lang
"""


@query("text_bigram_logprob", "2.9 llm-data", _BIGRAM_LP_ORACLE)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring with add-one smoothing — the conditional
    upgrade of text_unigram_logprob: per-doc mean −ln P(w_i | w_{i-1}),
    P = (c(w1,w2)+1)/(c(w1·)+V). A doc of individually-common words in
    IMPROBABLE order (shuffled boilerplate, spam keyword stuffing) now
    scores high where the unigram model is blind. Shape: bigrams derive
    MAP-SIDE by zipping the token array with its own tail (zip_with over
    two slices — no posexplode self-join, which would shuffle the entire
    token stream twice on (doc, idx)); then two Zipf-small count tables
    join back broadcast-style and vocab rides as a broadcast scalar. All
    counts exact integers; ln and the per-doc mean are the only doubles,
    rounded 4dp (the established cross-engine-safe envelope for ln
    sums). Tokenizer is the RE2/Java parity split (FIXTURES hazard:
    ASCII \\s+, boundary empties kept)."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), r"\s+")
    pairs = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = (
        docs.select("doc_id", "lang", F.explode(pairs).alias("p"))
        .select("doc_id", "lang", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    tok = docs.select("doc_id", F.explode(toks).alias("token"))
    bfreq = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ufreq = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = tok.agg(F.countDistinct("token").alias("v"))
    nll = -F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v")).cast("double"))
    per_doc = (
        bg.join(bfreq, ["w1", "w2"])
        .join(ufreq, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", "lang")
        .agg(F.avg(nll).alias("nll"), F.count(F.lit(1)).alias("n_bigrams"))
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").alias("n_bigrams"),
            F.round(F.avg("nll"), 4).alias("avg_nll"),
            F.round(F.min("nll"), 4).alias("min_nll"),
            F.round(F.max("nll"), 4).alias("max_nll"),
        )
        .orderBy("lang")
    )


# ------------------------------- 2.9 multi-vector late interaction (MaxSim)

_MAXSIM_ORACLE = """
WITH docs AS (
  SELECT vec_id // 4 AS mdoc_id, vec_id, embedding FROM embeddings
),
q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id % 97 = 0),
pair AS (
  SELECT q.q_id, d.mdoc_id, d.vec_id,
         sum(CAST(d.embedding[i.range] AS DOUBLE) * CAST(q.qe[i.range] AS DOUBLE)) AS dot,
         sum(CAST(d.embedding[i.range] AS DOUBLE) * CAST(d.embedding[i.range] AS DOUBLE)) AS nd2,
         sum(CAST(q.qe[i.range] AS DOUBLE) * CAST(q.qe[i.range] AS DOUBLE)) AS nq2
  FROM docs d CROSS JOIN q CROSS JOIN range(1, 65) i
  WHERE d.mdoc_id <> q.q_id // 4
  GROUP BY q.q_id, d.mdoc_id, d.vec_id
),
best AS (
  SELECT q_id, mdoc_id,
         round(max(dot / (sqrt(nd2) * sqrt(nq2))), 4) AS maxsim
  FROM pair GROUP BY q_id, mdoc_id
),
ranked AS (
  SELECT q_id, mdoc_id, maxsim,
         row_number() OVER (PARTITION BY q_id ORDER BY maxsim DESC, mdoc_id) AS rk
  FROM best
)
SELECT q_id, mdoc_id, maxsim, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= 3 ORDER BY q_id, rk
"""


@query("simsearch_maxsim_multivec", "2.9 llm-data", _MAXSIM_ORACLE)
def simsearch_maxsim_multivec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style LATE-INTERACTION retrieval over multi-vector documents
    (4 vectors per pseudo-doc): score(q, D) = max over D's vectors of
    cos(q, d) — MaxSim — then top-3 docs per query. This is the retrieval
    shape single-vector ANN cannot express (a doc matches if ANY of its
    passage vectors does), and the brute stage-0 baseline of the same
    funnel the ANN family declares: at 100 TB the doc side is first pruned
    by IVF cells / int8 stage-1 exactly as simsearch_ivf and
    simsearch_rerank_two_stage do, then THIS per-candidate MaxSim runs on
    the survivors — per-(query, doc) max then per-query WindowGroupLimit
    top-k, both map-side-combinable on the equi key. Queries broadcast
    (tiny side); cosine math in double with the round(4) envelope shared
    by the whole simsearch family; multi-token queries generalize by one
    more sum level (sum over query tokens of MaxSim)."""
    emb = load(spark, sf_dir, "embeddings")
    xs = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    docs = emb.select(
        (F.col("vec_id") / 4).cast("long").alias("mdoc_id"),
        "vec_id",
        xs.alias("dv"),
    )
    q = emb.where(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("q_id"), xs.alias("qv")
    )
    dot = F.aggregate(
        F.zip_with(F.col("dv"), F.col("qv"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nd = F.sqrt(F.aggregate(F.transform(F.col("dv"), lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    nq = F.sqrt(F.aggregate(F.transform(F.col("qv"), lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    pair = (
        docs.crossJoin(F.broadcast(q))
        .where(F.col("mdoc_id") != (F.col("q_id") / 4).cast("long"))
        .select("q_id", "mdoc_id", (dot / (nd * nq)).alias("cos"))
    )
    best = pair.groupBy("q_id", "mdoc_id").agg(F.round(F.max("cos"), 4).alias("maxsim"))
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("maxsim"), "mdoc_id")
    return (
        best.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("q_id", "mdoc_id", "maxsim", "rk")
        .orderBy("q_id", "rk")
    )


# ------------------------------------------------ 2.4 ordered LISTAGG

_LISTAGG_ORACLE = """
WITH s AS (
  SELECT o_orderpriority, o_orderkey, o_custkey
  FROM orders WHERE o_orderkey % 1000 = 0
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       string_agg(CAST(o_custkey AS VARCHAR), ',' ORDER BY o_orderkey) AS custkeys
FROM s GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query("agg_listagg_ordered", "2.4 aggregations", _LISTAGG_ORACLE)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 LISTAGG ... WITHIN GROUP (ORDER BY ...) — ordered string
    aggregation (the SQL:2016 answer to MySQL group_concat / DuckDB
    string_agg), new surface in Spark 4.0. The WITHIN GROUP order makes
    the output deterministic — an UNORDERED listagg is run-to-run
    nondeterministic under parallel aggregation, the same flapping class
    as tie-nondeterministic mode() (see agg_mode). Input is a keyed slice
    so the strings stay bounded; at 100 TB ordered listagg of unbounded
    groups is the anti-pattern — collect_sorted + slicing (agg_collect_
    sorted) is the governed form; this qid declares the surface."""
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") % 1000 == 0)
    o.createOrReplaceTempView("hdc_r5_listagg_src")
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n,
               listagg(CAST(o_custkey AS STRING), ',') WITHIN GROUP (ORDER BY o_orderkey) AS custkeys
        FROM hdc_r5_listagg_src
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """
    )


# --------------------------------------------- 2.11 declarative SQL UDFs

_SQLUDF_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS total_cents,
       CAST(sum(CASE WHEN CAST(round(o_totalprice * 100, 0) AS BIGINT) >= 20000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_large
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query("udf_sql_function", "2.11 UDF surface", _SQLUDF_ORACLE)
def udf_sql_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language UDFs (Spark 4 ``CREATE FUNCTION ... RETURNS ... RETURN
    expr``) — the serialization-matrix cell that costs NOTHING at scale:
    unlike every Python flavor declared in plans/udfs.py, a SQL UDF is
    inlined into the Catalyst plan at analysis time — full codegen, no
    serialization boundary, no Python worker. The cents() money-exactness
    idiom and a large-order predicate become REUSABLE, catalog-visible
    functions instead of copy-pasted expressions — the governance story
    for the FIXTURES.md rounding conventions. The oracle inlines the same
    expressions; results must be identical because the UDF IS the
    expression."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hdc_cents(x DOUBLE) RETURNS BIGINT "
        "RETURN CAST(round(x * 100, 0) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hdc_is_large(cents BIGINT) RETURNS INT "
        "RETURN CASE WHEN cents >= 20000000 THEN 1 ELSE 0 END"
    )
    load(spark, sf_dir, "orders").createOrReplaceTempView("hdc_r5_sqludf_src")
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n,
               sum(hdc_cents(o_totalprice)) AS total_cents,
               CAST(sum(hdc_is_large(hdc_cents(o_totalprice))) AS BIGINT) AS n_large
        FROM hdc_r5_sqludf_src
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """
    )


# ------------------------------ 2.2 parameterized SQL + IDENTIFIER clause

_SQLPARAM_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(o_orderkey) AS BIGINT) AS min_key
FROM orders
WHERE o_totalprice > 150000 AND o_orderkey % 7 = 0
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("sql_parameterized_identifier", "2.2 projection/filter", _SQLPARAM_ORACLE)
def sql_parameterized_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL with named markers + the IDENTIFIER() clause —
    injection-safe DYNAMIC SQL (Spark 4): the table name binds through
    IDENTIFIER(:tbl) as an identifier (never string-spliced), values bind
    as typed literals. For a sync engine that templates per-table
    extraction queries over hundreds of tables this is the difference
    between a query CATALOG and a string-concat injection surface — the
    same reason sources/jdbc.py quotes identifiers in generated MERGE
    text. Constant-folds to the identical plan as the literal query (the
    oracle)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("hdc_r5_param_src")
    return spark.sql(
        """
        SELECT o_orderstatus, count(*) AS n, min(o_orderkey) AS min_key
        FROM IDENTIFIER(:tbl)
        WHERE o_totalprice > :floor AND o_orderkey % :modk = 0
        GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        args={"tbl": "hdc_r5_param_src", "floor": 150000, "modk": 7},
    )


# ------------------------------------------ 2.10 CUSUM changepoint scan

_CUSUM_ORACLE = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n
  FROM events GROUP BY day
),
k AS (SELECT sum(n) // count(*) AS target FROM daily),
dev AS (
  SELECT day, n, n - target AS dev FROM daily, k
),
c1 AS (
  SELECT day, n, sum(dev) OVER (ORDER BY day) AS c FROM dev
),
cum AS (
  SELECT day, n, c,
         min(c) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS runmin
  FROM c1
),
k2 AS (SELECT target FROM k)
SELECT day, CAST(n AS BIGINT) AS n,
       CAST(c - least(runmin, 0) AS BIGINT) AS cusum,
       CAST(CASE WHEN c - least(runmin, 0) > target THEN 1 ELSE 0 END AS INT)
         AS alarm
FROM cum, k2 ORDER BY day
"""


@query("ts_changepoint_cusum", "2.10 streaming", _CUSUM_ORACLE)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint detection over the daily event series —
    the sequential level-shift monitor (alarm when cumulative positive
    drift exceeds a threshold). The textbook form is a RECURSION
    (s_t = max(0, s_{t-1} + dev_t)) that no window function expresses;
    the closed form used here is the prefix-sum identity
    ``s_t = cum_t − min(0, running_min(cum_t))`` — two stacked windows
    over the REDUCED daily series, the same collapse-then-scan discipline
    as the KS/deciles prefix-sum family. Everything is exact integers
    (counts, integer-mean target via `div`); the alarm threshold is the
    target itself (h = K), so both engines state one literal-free rule.
    Volume-immune: the raw stream reduces map-side to #days rows first."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(F.date_trunc("day", "ts").cast("date").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    k = daily.agg(F.expr("sum(n) div count(*)").alias("target"))
    dev = daily.crossJoin(F.broadcast(k)).withColumn("dev", F.col("n") - F.col("target"))
    wd = Window.orderBy("day")
    cum = dev.withColumn("c", F.sum("dev").over(wd)).withColumn(
        "runmin", F.min("c").over(wd.rowsBetween(Window.unboundedPreceding, 0))
    )
    s = F.col("c") - F.least(F.col("runmin"), F.lit(0))
    return cum.select(
        "day",
        "n",
        s.cast("long").alias("cusum"),
        F.when(s > F.col("target"), 1).otherwise(0).cast("int").alias("alarm"),
    ).orderBy("day")


# --------------------------------------------- 2.3 nearest-event as-of

_ASOF_NEAREST_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, event_type, ts,
         max(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS back_ts,
         min(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS fwd_ts
  FROM events
)
SELECT event_id,
       CASE
         WHEN back_ts IS NULL THEN fwd_ts
         WHEN fwd_ts IS NULL THEN back_ts
         WHEN date_diff('microseconds', back_ts, ts)
              <= date_diff('microseconds', ts, fwd_ts) THEN back_ts
         ELSE fwd_ts
       END AS nearest_view_ts
FROM e WHERE event_type = 'purchase'
ORDER BY event_id
"""


@query("join_asof_nearest", "2.3 joins", _ASOF_NEAREST_ORACLE)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, direction='nearest' (the third pandas merge_asof mode,
    completing backward = join_asof_prior_event and bounded-backward =
    join_asof_tolerance): each purchase resolves to the temporally CLOSEST
    view either side, ties to the earlier one. Same single-shuffle shape
    as its siblings — one (user) window pass computes both the running
    last-view-before and first-view-after (no range join, no self-join),
    then a map-side 3-way pick. Tie/interval math in exact integer
    microseconds (unix_micros), never float seconds."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    view_ts = F.when(F.col("event_type") == "view", F.col("ts"))
    e = ev.select("user_id", "event_id", "event_type", "ts").select(
        "*",
        F.max(view_ts).over(w.rowsBetween(Window.unboundedPreceding, -1)).alias("back_ts"),
        F.min(view_ts).over(w.rowsBetween(1, Window.unboundedFollowing)).alias("fwd_ts"),
    )
    back_gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("back_ts"))
    fwd_gap = F.unix_micros(F.col("fwd_ts")) - F.unix_micros(F.col("ts"))
    nearest = (
        F.when(F.col("back_ts").isNull(), F.col("fwd_ts"))
        .when(F.col("fwd_ts").isNull(), F.col("back_ts"))
        .when(back_gap <= fwd_gap, F.col("back_ts"))
        .otherwise(F.col("fwd_ts"))
    )
    return (
        e.where(F.col("event_type") == "purchase")
        .select("event_id", nearest.alias("nearest_view_ts"))
        .orderBy("event_id")
    )


# -------------------------------------- 2.8 vector-clock conflict classes

_VCLOCK_ORACLE = """
WITH k AS (SELECT o_orderkey AS key FROM orders WHERE o_orderkey % 10 = 0),
v AS (
  SELECT key,
         key % 4 AS a1, key % 6 AS a2,
         key % 4 + CASE WHEN key % 9 = 0 THEN 1 ELSE 0 END AS b1,
         key % 6 - CASE WHEN key % 11 = 0 THEN 1 ELSE 0 END AS b2
  FROM k
)
SELECT CASE
         WHEN a1 = b1 AND a2 = b2 THEN 'equal'
         WHEN a1 <= b1 AND a2 <= b2 THEN 'a_before_b'
         WHEN b1 <= a1 AND b2 <= a2 THEN 'b_before_a'
         ELSE 'concurrent'
       END AS relation,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(key) AS BIGINT) AS min_key
FROM v GROUP BY relation ORDER BY relation
"""


@query("sync_vector_clock_conflicts", "2.8 sync core", _VCLOCK_ORACLE)
def sync_vector_clock_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-clock causality classification — the multi-master conflict
    DETECTOR underneath the resolution strategies already declared
    (sync_conflict_lww resolves, CRDTs merge; this decides WHETHER a pair
    of replica versions needs resolving at all): per key, two 2-site
    version vectors compare component-wise into equal / a≤b (happens-
    before) / b≤a / concurrent — only the concurrent class is a true
    conflict. Pure map-side integer lattice algebra on derived vectors
    (deterministic in both engines), census to 4 rows; at 100 TB the
    vectors ride as struct columns next to the payload and this is one
    map-side classify + tiny keyed census, no join at all."""
    k = load(spark, sf_dir, "orders").where(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("key")
    )
    v = k.select(
        "key",
        (F.col("key") % 4).alias("a1"),
        (F.col("key") % 6).alias("a2"),
        (F.col("key") % 4 + F.when(F.col("key") % 9 == 0, 1).otherwise(0)).alias("b1"),
        (F.col("key") % 6 - F.when(F.col("key") % 11 == 0, 1).otherwise(0)).alias("b2"),
    )
    rel = (
        F.when((F.col("a1") == F.col("b1")) & (F.col("a2") == F.col("b2")), "equal")
        .when((F.col("a1") <= F.col("b1")) & (F.col("a2") <= F.col("b2")), "a_before_b")
        .when((F.col("b1") <= F.col("a1")) & (F.col("b2") <= F.col("a2")), "b_before_a")
        .otherwise("concurrent")
    )
    return (
        v.select(rel.alias("relation"), "key")
        .groupBy("relation")
        .agg(F.count(F.lit(1)).alias("n"), F.min("key").alias("min_key"))
        .orderBy("relation")
    )


# ----------------------------------------- 2.4 grouping_id provenance

_GROUPING_ID_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
       CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


@query("agg_grouping_id", "2.4 aggregations", _GROUPING_ID_ORACLE)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING()/GROUPING_ID() provenance columns over GROUPING SETS —
    the disambiguator agg_grouping_sets deliberately sidesteps: a NULL
    group key in rollup output is ambiguous (real NULL data vs subtotal
    row) and the grouping bits are the standard answer, needed by any BI
    layer consuming multi-level aggregates. Bit order is the SQL standard
    (first listed column = most significant), pinned cross-engine by the
    oracle. Same single multi-phase hash aggregate as the other
    grouping-set qids — provenance costs nothing."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("hdc_r5_gid_src")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               grouping_id(o_orderstatus, o_orderpriority) AS gid,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_prio,
               count(*) AS n
        FROM hdc_r5_gid_src
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
        """
    )


# ------------------------------------------ 2.7 calendar interval suite

_INTERVAL_ORACLE = """
WITH d AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od FROM orders
  WHERE o_orderkey % 500 = 0
)
SELECT o_orderkey,
       od,
       CAST(od + INTERVAL 3 MONTH AS DATE) AS plus_3m,
       last_day(od) AS month_end,
       CAST(date_trunc('quarter', od) AS DATE) AS quarter_start,
       CAST(date_diff('day', od, DATE '2000-01-01') AS BIGINT) AS days_to_y2k,
       CAST(isodow(od) AS INT) AS iso_dow,
       CAST(od + ((7 + 1 - isodow(od)) % 7 + CASE WHEN isodow(od) = 1 THEN 7 ELSE 0 END)
              * INTERVAL 1 DAY AS DATE) AS next_monday
FROM d ORDER BY o_orderkey
"""


@query("fn_interval_calendar_suite", "2.7 scalar functions", _INTERVAL_ORACLE)
def fn_interval_calendar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-interval arithmetic suite: month addition with end-of-month
    clamping (add_months), last_day, quarter truncation, signed day
    difference, ISO day-of-week, and strictly-next Monday — the date
    algebra every sync watermark / partition-boundary / retention rule
    leans on, pinned cross-engine (month arithmetic is where engines
    diverge: clamping vs overflow on Jan 31 + 1 month — both engines
    clamp, asserted by the oracle equality). All map-side calendar
    functions inside codegen; DuckDB lacks next_day() so the oracle
    states it arithmetically from isodow — the shared closed form."""
    d = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 500 == 0)
        .select("o_orderkey", F.col("o_orderdate").cast("date").alias("od"))
    )
    # Spark dayofweek: Sunday=1; ISO dow: Monday=1..Sunday=7
    iso_dow = ((F.dayofweek("od") + 5) % 7 + 1).cast("int")
    return d.select(
        "o_orderkey",
        "od",
        F.add_months("od", 3).alias("plus_3m"),
        F.last_day("od").alias("month_end"),
        F.date_trunc("quarter", "od").cast("date").alias("quarter_start"),
        F.datediff(F.lit("2000-01-01").cast("date"), F.col("od")).cast("long").alias(
            "days_to_y2k"
        ),
        iso_dow.alias("iso_dow"),
        F.next_day("od", "Mon").alias("next_monday"),
    ).orderBy("o_orderkey")


# --------------------------------------------- 2.9 Zipf exponent fit

_ZIPF_ORACLE = r"""
WITH tok AS (
  SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS token
  FROM documents
),
freq AS (SELECT lang, token, count(*) AS cnt FROM tok GROUP BY lang, token),
ranked AS (
  SELECT lang, cnt,
         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rk
  FROM freq
),
top AS (SELECT lang, ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
        FROM ranked WHERE rk <= 50),
m AS (
  SELECT lang, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM top GROUP BY lang
)
SELECT lang, CAST(n AS BIGINT) AS n_points,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 3) AS zipf_slope
FROM m ORDER BY lang
"""


@query("text_zipf_fit", "2.9 llm-data", _ZIPF_ORACLE)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law exponent per language — corpus health diagnostic: natural
    text fits ln(freq) ~ −s·ln(rank) with s ≈ 1; machine-generated or
    template-heavy corpora flatten or steepen the curve, so the fitted
    slope is a cheap distribution-level quality gate complementing the
    per-doc scores (quality/logprob). Token census → per-lang ranked
    top-50 (WindowGroupLimit keeps 50/lang pre-shuffle) → closed-form OLS
    on (ln rank, ln freq) — the wl_price_trend_slope aggregate shape over
    50 points/lang. round(3) envelope: the ln-product sums accumulate in
    engine-specific order, the only non-integer step."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(F.split(F.lower("text"), r"\s+")).alias("token"))
    freq = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), "token")
    top = (
        freq.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 50)
        .select(
            "lang",
            F.log(F.col("rk").cast("double")).alias("x"),
            F.log(F.col("cnt").cast("double")).alias("y"),
        )
    )
    m = top.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        "lang", F.col("n").alias("n_points"), F.round(slope, 3).alias("zipf_slope")
    ).orderBy("lang")


# ------------------------------------- 2.12 user-journey path transitions

_TRANSITIONS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type ORDER BY prev_type, next_type
"""


@query("wl_path_transitions", "2.12 composite workloads", _TRANSITIONS_ORACLE)
def wl_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order user-journey transition matrix (the Markov-chain census
    behind flow/sankey analytics and next-action models): consecutive
    event-type pairs per user with transition counts and user reach. The
    sequence materializes with ONE lag over the (user) shuffle —
    wl_event_funnel's ordered-step machinery generalized to ALL pairs —
    then a keyed census of the tiny (type x type) matrix; count distinct
    expands two-phase. Deterministic order: (ts, event_id)."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    return (
        seq.groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("n_users"))
        .orderBy("prev_type", "next_type")
    )


# ----------------------------------------------- 2.9 BM25 ranked retrieval

_BM25_ORACLE = r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
  FROM documents
),
dl AS (SELECT doc_id, count(*) AS dlen FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(CAST(dlen AS DOUBLE)) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok
  WHERE token IN ('window', 'join') GROUP BY doc_id, token
),
df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
scored AS (
  SELECT tf.doc_id,
         sum(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * tf.tf * 2.2
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dlen / stats.avgdl)))
           AS score
  FROM tf
  JOIN df ON tf.token = df.token
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 4) AS bm25
FROM scored ORDER BY round(score, 4) DESC, doc_id LIMIT 10
"""


@query("text_bm25_search", "2.9 llm-data", _BM25_ORACLE)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Lucene's +1 idf variant, k1=1.2, b=0.75) for
    a 2-term query — the lexical scorer that pairs with the declared
    dense/ANN retrieval stack for hybrid search, upgrading
    text_tfidf_top_terms from term weighting to full query-document
    ranking with document-length normalization. Shape: the tf table is
    filtered to query terms BEFORE any shuffle (two terms -> tiny), df
    and the (n_docs, avgdl) scalars broadcast, doc lengths join on the
    already-reduced tf keys — at 100 TB an inverted-index layout
    (bucketBy token) makes the tf lookup a pruned scan, same algebra.
    All counts exact; one ln per (term) and the length-normalized sum are
    the only doubles, rounded 4dp with rank ties broken by doc_id."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("token"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dlen"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg(F.col("dlen").cast("double")).alias("avgdl")
    )
    tf = (
        tok.where(F.col("token").isin("window", "join"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tfpart = (F.col("tf") * 2.2) / (
        F.col("tf") + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dlen") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * tfpart).alias("score"))
    )
    return (
        scored.select("doc_id", F.round("score", 4).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(10)
    )


# ------------------------------------- 2.9 deterministic train/test split

_SPLIT_ORACLE = """
WITH assigned AS (
  SELECT lang, n_chars,
         CASE WHEN CAST(concat('0x', substr(md5(concat('split:', doc_id)), 1, 8))
                    AS BIGINT) % 10 = 0
              THEN 'test' ELSE 'train' END AS split
  FROM documents
)
SELECT lang, split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM assigned GROUP BY lang, split ORDER BY lang, split
"""


@query("mix_train_test_split", "2.9 llm-data", _SPLIT_ORACLE)
def mix_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~90/10 train/test split by keyed hash — the
    holdout-assignment idiom for training-data pipelines: md5 of a
    namespaced doc key, first 8 hex digits mod 10 (the
    sample_hash_stratified machinery re-aimed at split assignment). Hash
    assignment is retry-stable, partition-independent, and REPRODUCIBLE
    across engines and runs — df.randomSplit is none of those (plan-
    dependent, re-rolls per materialization), which silently leaks test
    docs into training on any recompute. Disjointness + per-lang balance
    are the oracle-checked census; map-side only, no shuffle beyond the
    tiny rollup."""
    docs = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id"))), 1, 8), 16, 10)
        .cast("long")
        % 10
    )
    assigned = docs.select(
        "lang",
        "n_chars",
        F.when(bucket == 0, "test").otherwise("train").alias("split"),
    )
    return (
        assigned.groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("lang", "split")
    )


# --------------------------- 2.9 matryoshka-truncation retrieval funnel

_MATRYOSHKA_ORACLE = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
pre AS (
  SELECT e.vec_id,
         sum(CASE WHEN i.range <= 16
                  THEN CAST(e.embedding[i.range] AS DOUBLE) * CAST(q.qe[i.range] AS DOUBLE)
                  ELSE 0.0 END) AS dot16,
         sum(CASE WHEN i.range <= 16
                  THEN CAST(e.embedding[i.range] AS DOUBLE) * CAST(e.embedding[i.range] AS DOUBLE)
                  ELSE 0.0 END) AS nd16,
         sum(CASE WHEN i.range <= 16
                  THEN CAST(q.qe[i.range] AS DOUBLE) * CAST(q.qe[i.range] AS DOUBLE)
                  ELSE 0.0 END) AS nq16,
         sum(CAST(e.embedding[i.range] AS DOUBLE) * CAST(q.qe[i.range] AS DOUBLE)) AS dot64,
         sum(CAST(e.embedding[i.range] AS DOUBLE) * CAST(e.embedding[i.range] AS DOUBLE)) AS nd64,
         sum(CAST(q.qe[i.range] AS DOUBLE) * CAST(q.qe[i.range] AS DOUBLE)) AS nq64
  FROM embeddings e CROSS JOIN q CROSS JOIN range(1, 65) i
  WHERE e.vec_id <> 0
  GROUP BY e.vec_id
),
ranked AS (
  SELECT vec_id,
         round(dot16 / (sqrt(nd16) * sqrt(nq16)), 4) AS cos16,
         round(dot64 / (sqrt(nd64) * sqrt(nq64)), 4) AS cos64,
         row_number() OVER (ORDER BY round(dot16 / (sqrt(nd16) * sqrt(nq16)), 4) DESC,
                            vec_id) AS rk
  FROM pre
)
SELECT CAST(rk AS INT) AS rk, vec_id, cos16, cos64
FROM ranked WHERE rk <= 10 ORDER BY rk
"""


@query("simsearch_matryoshka_truncate", "2.9 llm-data", _MATRYOSHKA_ORACLE)
def simsearch_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) dimension-truncation retrieval: stage 1 ranks by
    cosine over only the FIRST 16 of 64 dims (4x less arithmetic and --
    stored truncated -- 4x less scan I/O), stage 2 re-scores the top-10
    survivors at full dimension. The dimension-axis sibling of the
    precision-axis funnel (simsearch_quantize_int8 -> rerank_two_stage):
    MRL-trained embeddings pack meaning into leading dims, so prefix
    cosine is the cheap first pass. Output pins BOTH scores per survivor
    (prefix ranking + exact rescue), tie-stable via (rounded cos, vec_id).
    Honesty note: the synthetic fixture's embeddings are RANDOM, so here
    the prefix carries no privileged signal and funnel recall vs the
    full-dim ranking is near-chance — the qid pins the MECHANICS (both
    scores, ordering, determinism, the exact algebra); real MRL
    embeddings are what make the funnel's recall hold in production."""
    emb = load(spark, sf_dir, "embeddings")
    xs = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    q = emb.where(F.col("vec_id") == 0).select(xs.alias("qv"))
    docs = emb.where(F.col("vec_id") != 0).select("vec_id", xs.alias("dv"))
    pair = docs.crossJoin(F.broadcast(q))

    def dot(a, b, n):
        return F.aggregate(
            F.zip_with(F.slice(a, 1, n), F.slice(b, 1, n), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def norm(a, n):
        return F.sqrt(
            F.aggregate(
                F.transform(F.slice(a, 1, n), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
            )
        )

    cos16 = dot(F.col("dv"), F.col("qv"), 16) / (norm(F.col("dv"), 16) * norm(F.col("qv"), 16))
    cos64 = dot(F.col("dv"), F.col("qv"), 64) / (norm(F.col("dv"), 64) * norm(F.col("qv"), 64))
    scored = pair.select(
        "vec_id", F.round(cos16, 4).alias("cos16"), F.round(cos64, 4).alias("cos64")
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("cos16"), "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select("rk", "vec_id", "cos16", "cos64")
        .orderBy("rk")
    )


# ------------------------------------ 2.4 exact mergeable distinct bitmap

_BITMAP_ORACLE = """
WITH blocks AS (
  SELECT o_orderpriority,
         o_custkey // 63 AS block,
         bit_or(CAST(1 AS BIGINT) << CAST(o_custkey % 63 AS INT)) AS bits
  FROM orders GROUP BY o_orderpriority, block
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(sum(bit_count(bits)) AS BIGINT) AS n_distinct_cust
FROM blocks GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query("agg_exact_distinct_bitmap", "2.4 aggregations", _BITMAP_ORACLE)
def agg_exact_distinct_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via roaring-style integer bitmaps — the
    third point on the distinct spectrum (exact expand-and-count =
    agg_count_distinct, approximate-mergeable = HLL): dense-int keys pack
    into 63-bit blocks (block = key div 63, one bit per key; bit 63
    avoided so the sign bit never participates) with bit_or as the merge
    — ASSOCIATIVE and IDEMPOTENT, so partial bitmaps combine map-side,
    re-merge across partitions/days/retries without double counting, and
    store compactly as a (group, block, int64) table: an exact mergeable
    distinct SKETCH in plain SQL. popcount at read time. At 100 TB state
    is bounded by keyspace/63 per group, not row count — the identical
    algebra both engines run here."""
    o = load(spark, sf_dir, "orders")
    blocks = (
        o.select(
            "o_orderpriority",
            F.expr("o_custkey div 63").alias("block"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(o_custkey % 63 AS INT))").alias("bit"),
        )
        .groupBy("o_orderpriority", "block")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )
    return (
        blocks.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(F.bit_count("bits")).alias("n_distinct_cust"),
        )
        .orderBy("o_orderpriority")
    )


# ------------------------------------------- 2.8 idempotency-key audit

_IDEMPOTENCY_ORACLE = """
WITH deliveries AS (
  SELECT o_orderkey AS key,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         1 AS attempt
  FROM orders
  UNION ALL
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT)
           + CASE WHEN o_orderkey % 17 = 0 THEN 1 ELSE 0 END,
         2
  FROM orders WHERE o_orderkey % 3 = 0
),
per_key AS (
  SELECT key, count(*) AS n_deliveries, count(DISTINCT cents) AS n_payloads
  FROM deliveries GROUP BY key
)
SELECT CASE WHEN n_deliveries = 1 THEN 'unique'
            WHEN n_payloads = 1 THEN 'benign_dup'
            ELSE 'conflicting_dup' END AS class,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(min(key) AS BIGINT) AS min_key
FROM per_key GROUP BY class ORDER BY class
"""


@query("sync_idempotency_keys", "2.8 sync core", _IDEMPOTENCY_ORACLE)
def sync_idempotency_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotency-key audit for at-least-once delivery — the transport
    reality every sync consumer faces: redelivery with an IDENTICAL
    payload is benign (dedup and move on), redelivery with a DIFFERENT
    payload under the same key is an upstream bug that silent
    last-write-wins would swallow. Derived duplicate stream (every 3rd
    key redelivered; every 17th redelivery corrupted by one cent) →
    per-key (deliveries, distinct payloads) census → 3-class rollup. One
    keyed aggregate; payload identity via exact cents (production: the
    row digest of functions/digests.py). Distinct-per-key expands
    two-phase; no joins."""
    o = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    first = o.select(F.col("o_orderkey").alias("key"), cents.alias("cents"))
    redelivery = o.where(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("key"),
        (cents + F.when(F.col("o_orderkey") % 17 == 0, 1).otherwise(0)).alias("cents"),
    )
    per_key = (
        first.unionByName(redelivery)
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_deliveries"), F.countDistinct("cents").alias("n_payloads"))
    )
    cls = (
        F.when(F.col("n_deliveries") == 1, "unique")
        .when(F.col("n_payloads") == 1, "benign_dup")
        .otherwise("conflicting_dup")
    )
    return (
        per_key.select(cls.alias("class"), "key")
        .groupBy("class")
        .agg(F.count(F.lit(1)).alias("n_keys"), F.min("key").alias("min_key"))
        .orderBy("class")
    )


# --------------------------------------------- 2.12 cohort LTV curve

_LTV_ORACLE = """
WITH om AS (
  SELECT o_custkey,
         year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
cohort AS (SELECT o_custkey, min(m) AS m0 FROM om GROUP BY o_custkey),
cell AS (
  SELECT cohort.m0, om.m - cohort.m0 AS age, sum(om.cents) AS rev
  FROM om JOIN cohort ON om.o_custkey = cohort.o_custkey
  WHERE om.m - cohort.m0 <= 6
  GROUP BY cohort.m0, age
),
sized AS (SELECT m0, count(*) AS cohort_n FROM cohort GROUP BY m0)
SELECT CAST(cell.m0 AS INT) AS cohort_month, CAST(cell.age AS INT) AS age_months,
       CAST(sized.cohort_n AS BIGINT) AS cohort_customers,
       CAST(sum(cell.rev) OVER (PARTITION BY cell.m0 ORDER BY cell.age) AS BIGINT)
         AS cum_revenue_cents
FROM cell JOIN sized ON cell.m0 = sized.m0
ORDER BY cohort_month, age_months
"""


@query("wl_cohort_ltv_curve", "2.12 composite workloads", _LTV_ORACLE)
def wl_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves — the revenue twin of
    wl_retention_cohorts: customers cohorted by first-order month,
    cumulative revenue per cohort tracked across the first 6 months of
    age (the curve whose asymptote IS the LTV estimate). Two keyed
    aggregates collapse the fact table to a ≤ (#months × 7) cell matrix
    BEFORE the running-sum window touches anything — the
    aggregate-then-window discipline; months as exact linear integers
    (y*12+m), money as exact int64 cents."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    om = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("m"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    cohort = om.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    cell = (
        om.join(cohort, "o_custkey")
        .withColumn("age", F.col("m") - F.col("m0"))
        .where(F.col("age") <= 6)
        .groupBy("m0", "age")
        .agg(F.sum("cents").alias("rev"))
    )
    sized = cohort.groupBy("m0").agg(F.count(F.lit(1)).alias("cohort_n"))
    w = Window.partitionBy("m0").orderBy("age")
    return (
        cell.join(sized, "m0")
        .select(
            F.col("m0").alias("cohort_month"),
            F.col("age").cast("int").alias("age_months"),
            F.col("cohort_n").alias("cohort_customers"),
            F.sum("rev").over(w).alias("cum_revenue_cents"),
        )
        .orderBy("cohort_month", "age_months")
    )


# ----------------------------------------- 2.3 BOM multiplicative rollup

_BOM_ORACLE = """
WITH path AS (
  SELECT c_custkey AS leaf,
         c_custkey // CAST(power(10, j.j) AS BIGINT) AS node
  FROM customer, unnest(range(0, 7)) AS j(j)
  WHERE c_custkey // CAST(power(10, j.j) AS BIGINT) > 0
),
eff AS (
  SELECT leaf,
         min(node) AS root,
         sum(CASE WHEN node >= 10 AND node % 3 = 1 THEN 1 ELSE 0 END) AS n2,
         sum(CASE WHEN node >= 10 AND node % 3 = 2 THEN 1 ELSE 0 END) AS n3
  FROM path GROUP BY leaf
)
SELECT root, CAST(count(*) AS BIGINT) AS n_leaves,
       CAST(sum(CAST(power(2, n2) * power(3, n3) AS BIGINT)) AS BIGINT)
         AS total_demand,
       CAST(max(CAST(power(2, n2) * power(3, n3) AS BIGINT)) AS BIGINT)
         AS max_leaf_demand
FROM eff GROUP BY root ORDER BY root
"""


@query("hier_bom_rollup", "2.3 joins", _BOM_ORACLE)
def hier_bom_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials MULTIPLICATIVE rollup — the product twin of
    hier_subtree_totals' additive sum: each non-root tree edge carries a
    per-assembly quantity (derived: 2 if node%3=1, 3 if node%3=2, else
    1), and a leaf's demand to build ONE root unit is the PRODUCT of
    quantities down its path. Products stay EXACT by counting factor
    exponents (n2 twos, n3 threes — path length ≤ 6 bounds 2^n2·3^n3 ≤
    729, far inside int64) instead of a float product() aggregate — the
    same no-float-accumulation discipline as the moment sums. The
    decimal-prefix tree gives ancestor paths in closed form (one explode,
    map-side), so no recursion is needed on either engine; an arbitrary
    parent-pointer forest runs the same algebra over hier_recursive_cte's
    iterative expansion."""
    c = load(spark, sf_dir, "customer")
    j = F.explode(F.sequence(F.lit(0), F.lit(6))).alias("j")
    path = (
        c.select(F.col("c_custkey").alias("leaf"), j)
        .select("leaf", F.expr("leaf div CAST(power(10, j) AS BIGINT)").alias("node"))
        .where(F.col("node") > 0)
    )
    eff = path.groupBy("leaf").agg(
        F.min("node").alias("root"),
        F.sum(
            F.when((F.col("node") >= 10) & (F.col("node") % 3 == 1), 1).otherwise(0)
        ).alias("n2"),
        F.sum(
            F.when((F.col("node") >= 10) & (F.col("node") % 3 == 2), 1).otherwise(0)
        ).alias("n3"),
    )
    demand = F.expr("CAST(power(2, n2) * power(3, n3) AS BIGINT)")
    return (
        eff.select("root", demand.alias("demand"))
        .groupBy("root")
        .agg(
            F.count(F.lit(1)).alias("n_leaves"),
            F.sum("demand").alias("total_demand"),
            F.max("demand").alias("max_leaf_demand"),
        )
        .orderBy("root")
    )
