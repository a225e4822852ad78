"""Unit tests for engine operators beyond the declared t2 qids
(SURVEY.md §5.4 sync property, §2.8 metadata ops, §2.9 plumbing)."""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hdc_dataengineering_sqlsync_spark.operators.asof import asof_join
from hdc_dataengineering_sqlsync_spark.operators.dedup import minhash_lsh_pairs, word_shingles
from hdc_dataengineering_sqlsync_spark.operators.diff import diff_summary, snapshot_diff
from hdc_dataengineering_sqlsync_spark.operators.incremental import keyset_ranges
from hdc_dataengineering_sqlsync_spark.operators.merge import merge_apply
from hdc_dataengineering_sqlsync_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    synthesize_media,
)
from hdc_dataengineering_sqlsync_spark.operators.schema_drift import detect_drift
from hdc_dataengineering_sqlsync_spark.operators.simsearch import lsh_bucket
from hdc_dataengineering_sqlsync_spark.operators.state import StateStore, SyncState
from hdc_dataengineering_sqlsync_spark.operators.text import (
    fingerprint,
    lang_id_heuristic,
    quality_features,
    token_count_bpe_ish,
)
from hdc_dataengineering_sqlsync_spark.registry import load
from hdc_dataengineering_sqlsync_spark.sources.jdbc import (
    JdbcTable,
    change_tracking_query,
    merge_statement,
    partitioned_read_options,
)


# ---------- sync round-trip property (SURVEY §5.4) ----------

@pytest.mark.parametrize("del_mod,upd_mod", [(97, 101), (7, 11), (13, 3), (2, 5)])
def test_sync_roundtrip_property(spark, sf_dir, del_mod, upd_mod):
    """merge(target, diff(source, target)) == source for arbitrary
    deterministic corruptions of orders."""
    source = load(spark, sf_dir, "orders")
    target = source.where(F.col("o_orderkey") % del_mod != 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % upd_mod == 0, "X").otherwise(F.col("o_orderstatus")),
    )
    changes = snapshot_diff(source, target, pk=["o_orderkey"])
    merged = merge_apply(target, changes, pk=["o_orderkey"])
    assert merged.count() == source.count()
    assert merged.exceptAll(source).count() == 0
    assert source.exceptAll(merged).count() == 0


def test_sync_diff_with_target_extra_rows(spark, sf_dir):
    """Rows present only in target classify as D and are deleted by merge."""
    source = load(spark, sf_dir, "orders").where(F.col("o_orderkey") % 3 != 0)
    target = load(spark, sf_dir, "orders")  # has extra rows vs source
    changes = snapshot_diff(source, target, pk=["o_orderkey"])
    summary = {r["change_op"]: r["n"] for r in diff_summary(changes).collect()}
    assert summary.get("D", 0) > 0 and "I" not in summary
    merged = merge_apply(target, changes, pk=["o_orderkey"])
    assert merged.exceptAll(source).count() == 0
    assert source.exceptAll(merged).count() == 0


def test_sync_roundtrip_small_frames(spark):
    """Hand-built edge frames: nulls in payload, composite updates, disjoint
    key sets."""
    schema = "k long, a string, b double"
    source = spark.createDataFrame(
        [(1, "x", 1.0), (2, None, 2.5), (3, "z", None), (5, "new", 0.0)], schema
    )
    target = spark.createDataFrame(
        [(1, "x", 1.0), (2, "stale", 2.5), (4, "gone", 9.9)], schema
    )
    changes = snapshot_diff(source, target, pk=["k"])
    summary = {r["change_op"]: r["n"] for r in diff_summary(changes).collect()}
    assert summary == {"=": 1, "U": 1, "I": 2, "D": 1}
    merged = merge_apply(target, changes, pk=["k"])
    assert sorted(r["k"] for r in merged.collect()) == [1, 2, 3, 5]
    assert merged.exceptAll(source).count() == 0


@pytest.mark.parametrize("cross_engine", [False, True])
def test_diff_and_merge_match_columns_by_name(spark, cross_engine):
    """A target that stores its columns in another order than the source
    diffs by column name, and merge_apply keeps the target's order."""
    source = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "k long, v string, x double"
    )
    target = spark.createDataFrame(
        [("a", 1, 1.0), ("stale", 2, 2.0), ("d", 4, 4.0)], "v string, k long, x double"
    )
    changes = snapshot_diff(source, target, pk=["k"], cross_engine_digest=cross_engine)
    summary = {r["change_op"]: r["n"] for r in diff_summary(changes).collect()}
    assert summary == {"=": 1, "U": 1, "I": 1, "D": 1}
    merged = merge_apply(target, changes, pk=["k"])
    assert merged.columns == target.columns
    assert sorted(merged.collect()) == sorted(source.select(*target.columns).collect())


def test_digest_null_vs_empty_distinct(spark):
    """(NULL, 'a') and ('a', NULL) and ('', 'a') must digest differently
    (concat_ws silently drops NULLs — the sentinel guards that)."""
    from hdc_dataengineering_sqlsync_spark.functions.digests import row_digest

    df = spark.createDataFrame(
        [(1, None, "a"), (2, "a", None), (3, "", "a"), (4, "a", "")],
        "id long, x string, y string",
    )
    digs = [r["d"] for r in df.select(row_digest(df, ["x", "y"]).alias("d")).collect()]
    assert len(set(digs)) == 4


# ---------- schema drift / state / jdbc (metadata ops) ----------

def test_schema_drift_detection():
    declared = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
    )
    observed = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("c", T.DoubleType())]
    )
    drift = detect_drift(declared, observed)
    assert drift.is_drifted
    assert drift.added == ["c"] and drift.removed == ["b"]
    assert drift.retyped == [("a", "bigint", "int")]
    assert not detect_drift(declared, declared).is_drifted


def test_state_store_roundtrip():
    with tempfile.TemporaryDirectory() as d:
        store = StateStore(os.path.join(d, "state.json"))
        assert store.get("orders") is None
        store.put(SyncState("orders", 42))
        store.put(SyncState("lineitem", 7))
        store.put(SyncState("orders", 43))  # overwrite
        got = store.get("orders")
        assert got.last_version == 43 and got.synced_at  # stamped
        assert store.get("lineitem").last_version == 7


def test_jdbc_option_and_sql_builders():
    t = JdbcTable("jdbc:sqlserver://h;databaseName=d", "dbo.orders", ("o_orderkey",))
    opts = partitioned_read_options(t, "o_orderkey", 0, 1_000_000, 32)
    assert opts["numPartitions"] == "32" and opts["partitionColumn"] == "o_orderkey"
    with pytest.raises(ValueError):
        partitioned_read_options(t, "o_orderkey", 10, 10, 4)

    ct = change_tracking_query(t, 1234)
    assert "CHANGETABLE(CHANGES dbo.orders, 1234)" in ct

    m = merge_statement(t, ["o_orderkey", "o_orderstatus"], "#stage")
    assert "MERGE dbo.orders" in m and "WHEN MATCHED AND src.change_op = 'D' THEN DELETE" in m
    assert "target.o_orderkey = src.o_orderkey" in m
    assert "SET target.o_orderstatus = src.o_orderstatus" in m  # pk not in SET


# ---------- as-of operator ----------

def test_asof_join_strict_and_nonstrict(spark):
    ts = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    quotes = spark.createDataFrame(
        [(1, ts(0), 10.0), (1, ts(5), 11.0), (2, ts(3), 20.0)],
        "k long, qts timestamp, px double",
    )
    trades = spark.createDataFrame(
        [(1, ts(5), "t1"), (1, ts(7), "t2"), (2, ts(1), "t3"), (3, ts(9), "t4")],
        "k long, tts timestamp, trade string",
    )
    nonstrict = {
        r["trade"]: r["px_asof"]
        for r in asof_join(trades, quotes, ["k"], "tts", "qts", ["px"]).collect()
    }
    assert nonstrict == {"t1": 11.0, "t2": 11.0, "t3": None, "t4": None}
    strict = {
        r["trade"]: r["px_asof"]
        for r in asof_join(trades, quotes, ["k"], "tts", "qts", ["px"], strict=True).collect()
    }
    assert strict == {"t1": 10.0, "t2": 11.0, "t3": None, "t4": None}


# ---------- LLM-data plumbing ----------

def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("x y",)], "text string")
    got = df.select(word_shingles(F.col("text")).alias("s")).collect()
    assert got[0]["s"] == ["a b c", "b c d"]
    assert got[1]["s"] == []  # fewer than k tokens -> empty, not error


def test_minhash_lsh_finds_planted_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    rows = [(1, base), (2, base + " extra"), (3, "completely different words entirely here now for sure")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_lsh_pairs(docs, distance_threshold=0.5).collect()
    got = {(r["doc_id"], r["doc_id2"]) for r in pairs}
    assert (1, 2) in got and (1, 3) not in got and (2, 3) not in got


def test_minhash_banded_finds_planted_near_dups(spark):
    from hdc_dataengineering_sqlsync_spark.operators.dedup import minhash_banded_pairs

    base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    rows = [(1, base), (2, base + " extra"), (3, "completely different words entirely here now for sure")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["doc_id"], r["doc_id2"]): r["est_jaccard"] for r in minhash_banded_pairs(docs).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs and (2, 3) not in pairs
    assert 0.5 <= pairs[(1, 2)] <= 1.0  # 13/14 shared shingles -> high estimate


def test_minhash_banded_exact_dup_estimates_one(spark):
    from hdc_dataengineering_sqlsync_spark.operators.dedup import minhash_banded_pairs

    txt = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame([(10, txt), (20, txt)], "doc_id long, text string")
    rows = minhash_banded_pairs(docs).collect()
    assert len(rows) == 1 and rows[0]["est_jaccard"] == 1.0


def test_bloom_never_false_negative(spark):
    from hdc_dataengineering_sqlsync_spark.operators.sketches import bloom_build, bloom_probe

    members = spark.createDataFrame([(f"w{i}",) for i in range(40)], "token string")
    probes = spark.createDataFrame([(f"w{i}",) for i in range(80)], "token string")
    got = {
        r["token"]: r["bloom_positive"]
        for r in bloom_probe(bloom_build(members, "token", k=4, m=64), probes, "token", k=4, m=64).collect()
    }
    # every true member is positive, regardless of how tight m is
    assert all(got[f"w{i}"] for i in range(40))
    # the deliberately tight m=64 filter must show at least one false positive
    assert any(got[f"w{i}"] for i in range(40, 80))


def test_hash_sample_stable_under_repartitioning(spark, sf_dir):
    from hdc_dataengineering_sqlsync_spark.operators.sampling import hash_sample

    d = load(spark, sf_dir, "documents").select("doc_id")
    s1 = {r["doc_id"] for r in hash_sample(d, "doc_id", 0.3).collect()}
    s2 = {r["doc_id"] for r in hash_sample(d.repartition(13), "doc_id", 0.3).collect()}
    assert s1 == s2 and 0 < len(s1) < d.count()  # unlike df.sample, partitioning-invariant


def test_stratified_sample_default_rate_excludes_unlisted(spark):
    from hdc_dataengineering_sqlsync_spark.operators.sampling import stratified_hash_sample

    d = spark.createDataFrame(
        [(i, "en" if i % 2 else "zz") for i in range(100)], "doc_id long, lang string"
    )
    got = stratified_hash_sample(d, "doc_id", "lang", {"en": 1.0}).collect()
    assert {r["lang"] for r in got} == {"en"} and len(got) == 50


def test_bottom_k_sample_consistent_as_corpus_grows(spark):
    from hdc_dataengineering_sqlsync_spark.operators.sampling import bottom_k_sample

    small = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    grown = spark.range(0, 400).withColumnRenamed("id", "doc_id")
    s = {r["doc_id"] for r in bottom_k_sample(small, "doc_id", 20).collect()}
    g = {r["doc_id"] for r in bottom_k_sample(grown, "doc_id", 20).collect()}
    # consistent-sampling property: every grown-corpus sample member that
    # already existed in the small corpus must also be in the small corpus's
    # sample (its hash rank can only improve when competitors are removed)
    assert len(s) == len(g) == 20 and len(s & g) >= 10
    assert {d for d in g if d < 200} <= s


def test_star_edges_preserve_bucket_connectivity(spark, sf_dir):
    """Components over O(n) star edges must equal components over the full
    O(n^2) LSH candidate-pair graph — the invariant that lets clustering
    skip pair enumeration entirely."""
    from hdc_dataengineering_sqlsync_spark.operators.dedup import (
        connected_components,
        lsh_star_edges,
        minhash_banded_pairs,
    )

    from hdc_dataengineering_sqlsync_spark.operators.dedup import (
        _band_buckets,
        _minhash_sigs,
    )

    # Data-derived deterministic subset: a fixed id prefix is not guaranteed
    # to contain bucket-mates at every scale factor (at sf0.01, doc_id < 120
    # has none and the invariant held only vacuously). Seed the subset with
    # the lowest-keyed LSH bucket that holds >= 2 docs, plus a fixed prefix
    # for singleton coverage.
    all_docs = load(spark, sf_dir, "documents")
    bb = _band_buckets(_minhash_sigs(all_docs, "doc_id", "text", 12), "doc_id", 4, 3)
    seed = (
        bb.groupBy("band", "bkey")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"), F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .orderBy("band", "bkey")
        .limit(1)
        .collect()
    )
    assert seed, "fixture has no LSH bucket with two docs at this scale factor"
    pool = set(seed[0]["ids"]) | set(range(120))
    docs = all_docs.where(F.col("doc_id").isin(*pool))
    via_star = connected_components(lsh_star_edges(docs))
    via_pairs = connected_components(minhash_banded_pairs(docs))
    star = {(r["node"], r["comp"]) for r in via_star.collect()}
    pairs = {(r["node"], r["comp"]) for r in via_pairs.collect()}
    assert star == pairs and len(star) > 0


def test_connected_components_chain_and_pair(spark):
    from hdc_dataengineering_sqlsync_spark.operators.dedup import (
        cluster_summary,
        connected_components,
    )

    # chain 1-2-3-4 (diameter 3 forces multiple propagation rounds) + pair 9-8
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (9, 8)], "doc_id long, doc_id2 long"
    )
    labels = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 8: 8, 9: 8}
    summary = cluster_summary(connected_components(edges)).collect()
    assert [(r["cluster_id"], r["n_docs"], r["members"]) for r in summary] == [
        (1, 4, "1,2,3,4"),
        (8, 2, "8,9"),
    ]


def test_connected_components_long_chain_converges(spark):
    """r12: the convergence probe reads the carried previous label off the
    checkpointed frame instead of re-joining the old label table — pin that
    a 64-node path graph (worst-case diameter for pointer jumping) still
    converges to one component with the min-id label."""
    from hdc_dataengineering_sqlsync_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_id long, doc_id2 long"
    )
    labels = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert labels == {i: 0 for i in range(64)}


def test_lsh_bucket_deterministic_and_groups_identical_vectors(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings").limit(50)
    b1 = {r["vec_id"]: r["bucket"] for r in lsh_bucket(emb).collect()}
    b2 = {r["vec_id"]: r["bucket"] for r in lsh_bucket(emb).collect()}
    assert b1 == b2  # seeded, no RNG state
    assert all(0 <= v < 256 for v in b1.values())


def test_text_quality_and_fingerprint(spark):
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat."), (2, "der hund und die katze"), (1, "the cat sat on the mat.")],
        "doc_id long, text string",
    )
    q = quality_features(docs).collect()[0]
    assert q["n_tokens"] == 6 and 0 < q["punct_ratio"] < 0.1
    langs = {r["doc_id"]: r["lang_guess"] for r in lang_id_heuristic(docs).distinct().collect()}
    assert langs[1] == "en" and langs[2] == "de"
    tk = token_count_bpe_ish(docs).collect()[0]
    assert tk["n_tokens_bpe"] >= tk["n_tokens_ws"]  # punctuation splits off
    fps = [r["fingerprint"] for r in fingerprint(docs).collect()]
    assert fps[0] == fps[2] and fps[0] != fps[1]  # dup detection key


def test_multimodal_pipeline_shape(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").limit(20)
    media = synthesize_media(docs)
    assert [f.name for f in media.schema.fields] == ["media_id", "payload", "meta"]
    feats = extract_features(media, n_dims=8)
    rows = feats.collect()
    assert len(rows) == 20
    assert all(len(r["feature"]) == 8 for r in rows)
    assert all(r["n_bytes"] > 0 for r in rows)
    # deterministic featurization
    again = {r["media_id"]: r["checksum"] for r in extract_features(media).collect()}
    assert {r["media_id"]: r["checksum"] for r in rows} == again
    plan = frame_sample_plan(media.limit(2), every_n=4)
    assert plan.count() == 8


def test_decode_image_unknown_format_is_stubbed():
    from hdc_dataengineering_sqlsync_spark.operators.multimodal import decode_image

    # WebP: the one image family whose codec is genuinely library-bound
    with pytest.raises(NotImplementedError):
        decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")
    # truncated PNG magic (4 of 8 signature bytes) must not dispatch the codec
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_keyset_ranges_matches_value_division(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    got = keyset_ranges(o, "o_orderkey", 1000).select("batch", "o_orderkey").collect()
    assert all(r["batch"] == r["o_orderkey"] // 1000 for r in got)


def test_simhash_identical_docs_hamming_zero(spark):
    from hdc_dataengineering_sqlsync_spark.operators.dedup import simhash16, simhash_topk_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps", "en"),
            (2, "the quick brown fox jumps", "en"),   # exact dup of 1
            (3, "a completely different sentence here", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    sig = {r["doc_id"]: r["simhash"] for r in simhash16(docs, block_cols=["lang"]).collect()}
    assert sig[1] == sig[2]
    assert 0 <= sig[1] < (1 << 16)
    pairs = simhash_topk_pairs(docs, k=3).collect()
    assert pairs[0]["doc_id"] == 1 and pairs[0]["doc_id2"] == 2 and pairs[0]["hamming"] == 0


def test_lsh_search_recall_vs_brute_force(spark, sf_dir):
    from hdc_dataengineering_sqlsync_spark.operators.simsearch import cosine_topk, lsh_search_topk

    emb = load(spark, sf_dir, "embeddings")
    exact = [r["vec_id"] for r in cosine_topk(emb, query_vec_id=0, k=5).collect()]
    approx = [r["vec_id"] for r in lsh_search_topk(emb, query_vec_id=0, k=5, n_planes=4).collect()]
    # approximate search returns a full top-5 and overlaps the exact answer
    assert len(approx) == 5
    assert len(set(exact) & set(approx)) >= 1


def test_cosine_pairs_topk_blocked_and_ordered(spark, sf_dir):
    from hdc_dataengineering_sqlsync_spark.operators.simsearch import cosine_pairs_topk

    emb = load(spark, sf_dir, "embeddings")
    rows = cosine_pairs_topk(emb, k=10).collect()
    assert len(rows) == 10
    cosines = [r["cos"] for r in rows]
    assert cosines == sorted(cosines, reverse=True)
    assert all(r["vec_id"] < r["vec_id2"] for r in rows)


def test_diff_merge_roundtrip_hypothesis(spark):
    """Property (SURVEY §5.4): for ANY source/target with a shared PK space,
    merge(target, diff(source, target)) == source — including null payloads,
    empty sides, and disjoint key sets."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from hdc_dataengineering_sqlsync_spark.operators.diff import snapshot_diff
    from hdc_dataengineering_sqlsync_spark.operators.merge import merge_apply

    row = st.tuples(
        st.integers(min_value=0, max_value=15),
        st.one_of(st.none(), st.text(alphabet="abc", max_size=2)),
        st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),
    )
    # unique-by-pk frames (pk = first element)
    frame = st.lists(row, max_size=10, unique_by=lambda r: r[0])

    @settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
    @given(src_rows=frame, tgt_rows=frame)
    def prop(src_rows, tgt_rows):
        schema = "pk long, s string, v long"
        source = spark.createDataFrame(src_rows, schema)
        target = spark.createDataFrame(tgt_rows, schema)
        changes = snapshot_diff(source, target, pk=["pk"])
        merged = merge_apply(target, changes, pk=["pk"])
        assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, source.collect()))

    prop()


def test_ivf_search_recall_vs_brute_force(spark, sf_dir):
    from hdc_dataengineering_sqlsync_spark.operators.simsearch import cosine_topk, ivf_search_topk

    emb = load(spark, sf_dir, "embeddings")
    exact = [r["vec_id"] for r in cosine_topk(emb, query_vec_id=0, k=5).collect()]
    approx = ivf_search_topk(emb, query_vec_id=0, k=5, n_cells=8, n_probe=2).collect()
    assert len(approx) == 5
    # probing 2/8 cells must still recover some of the true neighborhood
    assert len(set(exact) & {r["vec_id"] for r in approx}) >= 1
    # deterministic across runs (seeded quantizer)
    again = ivf_search_topk(emb, query_vec_id=0, k=5, n_cells=8, n_probe=2).collect()
    assert [tuple(r) for r in approx] == [tuple(r) for r in again]


def test_cms_never_undercounts_and_is_exact_with_wide_sketch(spark, sf_dir):
    from hdc_dataengineering_sqlsync_spark.operators.sketches import cms_build, cms_estimate
    from hdc_dataengineering_sqlsync_spark.operators.text import tokens
    from pyspark.sql import functions as FF

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(FF.explode(tokens(FF.col("text"))).alias("token"))
    true_counts = tok.groupBy("token").agg(FF.count(FF.lit(1)).alias("cnt"))

    # narrow sketch: estimates must be >= truth for EVERY token (CMS bound)
    sk = cms_build(tok, "token", d=4, w=64)
    est = cms_estimate(sk, true_counts.select("token"), "token", d=4, w=64)
    j = true_counts.join(est, "token")
    assert j.where(FF.col("est") < FF.col("cnt")).count() == 0

    # wide sketch (few collisions): heavy hitters should be exact
    sk_wide = cms_build(tok, "token", d=4, w=4096)
    top = true_counts.orderBy(FF.col("cnt").desc()).limit(5)
    est_w = cms_estimate(sk_wide, top.select("token"), "token", d=4, w=4096)
    jw = top.join(est_w, "token")
    assert jw.where(FF.col("est") != FF.col("cnt")).count() == 0


def test_approx_percentile_within_rank_error(spark, sf_dir):
    """GK-sketch estimates must land inside a ±5%-rank envelope of the exact
    percentile (p45..p55 for p50, p85..p95 for p90) — deliberately looser
    than accuracy=1000's theoretical ~0.1% rank error so the test doesn't
    flake on implementation changes, while still catching a broken sketch."""
    from pyspark.sql import functions as F

    li = load(spark, sf_dir, "lineitem")
    row = (
        li.agg(
            F.percentile_approx("l_extendedprice", 0.5, 1000).alias("a50"),
            F.percentile_approx("l_extendedprice", 0.9, 1000).alias("a90"),
            F.percentile("l_extendedprice", 0.45).alias("e45"),
            F.percentile("l_extendedprice", 0.55).alias("e55"),
            F.percentile("l_extendedprice", 0.85).alias("e85"),
            F.percentile("l_extendedprice", 0.95).alias("e95"),
        )
        .collect()[0]
    )
    assert row["e45"] <= row["a50"] <= row["e55"]
    assert row["e85"] <= row["a90"] <= row["e95"]


def test_compact_parquet_bounds_file_count(spark, sf_dir, tmp_path):
    from hdc_dataengineering_sqlsync_spark.operators.maintenance import (
        compact_parquet,
        parquet_file_counts,
    )

    frag = str(tmp_path / "frag")
    out = str(tmp_path / "compact")
    orders = load(spark, sf_dir, "orders")
    # simulate micro-batch accretion: 16 writer tasks per partition value
    orders.repartition(16).write.partitionBy("o_orderstatus").parquet(frag)
    before = parquet_file_counts(frag)
    assert max(before.values()) > 1  # genuinely fragmented

    compacted = compact_parquet(spark, frag, out, partition_col="o_orderstatus")
    after = parquet_file_counts(out)
    assert max(after.values()) == 1  # one file per partition dir
    assert compacted.count() == orders.count()
    got = {r["o_orderstatus"]: r["n"] for r in
           compacted.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n")).collect()}
    want = {r["o_orderstatus"]: r["n"] for r in
            orders.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want


def test_bloom_probe_duplicate_probe_rows_stay_positive(spark):
    """Regression: duplicate probe rows must not inflate the per-item hit
    count past k and flip a true member to negative."""
    from hdc_dataengineering_sqlsync_spark.operators.sketches import bloom_build, bloom_probe

    members = spark.createDataFrame([("w1",), ("w2",)], "token string")
    probes = spark.createDataFrame([("w1",), ("w1",), ("w2",)], "token string")
    got = bloom_probe(bloom_build(members, "token", k=4, m=64), probes, "token", k=4, m=64).collect()
    assert len(got) == 3 and all(r["bloom_positive"] for r in got)


def test_cli_list_and_oracle(capsys):
    import io

    from hdc_dataengineering_sqlsync_spark.cli import main

    buf = io.StringIO()
    assert main(["--list"], out=buf) == 0
    lines = buf.getvalue().strip().splitlines()
    assert len(lines) >= 127 and any(l.startswith("agg_pricing_summary") for l in lines)

    buf = io.StringIO()
    assert main(["--oracle", "dedup_exact"], out=buf) == 0
    assert "FROM documents" in buf.getvalue()

    buf = io.StringIO()
    assert main(["--oracle", "nope_not_a_qid"], out=buf) == 2


def test_merge_apply_is_idempotent(spark, sf_dir):
    """Re-applying the same changeset to an already-merged target is a
    no-op — the property that makes retry-after-partial-failure safe."""
    source = load(spark, sf_dir, "orders")
    target = source.where(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 7 == 0, "X").otherwise(F.col("o_orderstatus")),
    )
    changes = snapshot_diff(source, target, pk=["o_orderkey"])
    once = merge_apply(target, changes, pk=["o_orderkey"])
    twice = merge_apply(once, changes, pk=["o_orderkey"])
    assert twice.exceptAll(once).count() == 0
    assert once.exceptAll(twice).count() == 0


def test_bmp_roundtrip_identity():
    """encode_bmp -> decode_bmp is byte-exact for arbitrary dims, including
    widths whose 3-byte rows need stride padding (w % 4 != 0)."""
    import numpy as np

    from hdc_dataengineering_sqlsync_spark.operators.media_codecs import decode_bmp, encode_bmp

    for w, h in [(1, 1), (2, 3), (7, 5), (8, 6), (13, 9), (24, 14)]:
        rng = np.random.RandomState(w * 100 + h)
        px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        out = decode_bmp(encode_bmp(px))
        assert out.shape == (h, w, 3)
        assert (out == px).all(), f"round-trip mismatch at {w}x{h}"


def test_wav_roundtrip_identity():
    import numpy as np

    from hdc_dataengineering_sqlsync_spark.operators.media_codecs import decode_wav, encode_wav

    samples = (np.arange(333) * 977 % 65536 - 32768).astype(np.int16)
    rate, out = decode_wav(encode_wav(samples, sample_rate=22050))
    assert rate == 22050
    assert (out == samples).all()


def test_resize_nearest_floor_mapping():
    import numpy as np

    from hdc_dataengineering_sqlsync_spark.operators.media_codecs import resize_nearest

    px = np.arange(12 * 8 * 3, dtype=np.uint8).reshape(8, 12, 3)
    half = resize_nearest(px, 6, 4)
    assert half.shape == (4, 6, 3)
    # floor mapping with even dims picks source (2x, 2y)
    assert (half == px[::2, ::2]).all()
    # upscale repeats source pixels, never invents values
    up = resize_nearest(px, 24, 8)
    assert up.shape == (8, 24, 3)
    assert set(up.ravel().tolist()) <= set(px.ravel().tolist())


def test_decode_dispatch_real_codecs_and_stubs():
    """Generic decode_image dispatches every in-repo codec by magic bytes
    (BMP, JPEG via operators/jpeg.py — r10 verdict item 4 — and TIFF);
    honest NotImplementedError only for genuinely library-bound formats."""
    import numpy as np
    import pytest as _pytest

    from hdc_dataengineering_sqlsync_spark.operators.jpeg import encode_jpeg
    from hdc_dataengineering_sqlsync_spark.operators.media_codecs import encode_bmp, encode_wav
    from hdc_dataengineering_sqlsync_spark.operators.multimodal import (
        decode_audio,
        decode_image,
        resize_image,
    )
    from hdc_dataengineering_sqlsync_spark.operators.tiff import encode_tiff

    px = np.zeros((4, 4, 3), dtype=np.uint8)
    assert decode_image(encode_bmp(px)).shape == (4, 4, 3)
    rate, s = decode_audio(encode_wav(np.zeros(8, dtype=np.int16)))
    assert rate == 16000 and len(s) == 8
    assert decode_image(resize_image(encode_bmp(px), 2, 2)).shape == (2, 2, 3)
    # JPEG now routes through the real baseline codec (lossy: assert shape
    # and that a flat mid-gray image survives within quantization error)
    gray = np.full((8, 8, 3), 128, dtype=np.uint8)
    out = decode_image(encode_jpeg(gray))
    assert out.shape == (8, 8, 3)
    assert int(np.abs(out.astype(np.int16) - 128).max()) <= 8
    # TIFF is lossless: exact round-trip through the generic entry point
    tpx = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    assert (decode_image(encode_tiff(tpx)) == tpx).all()
    # r12: big-endian (MM) TIFF decodes for real through the generic entry
    # point, and resize re-encodes in the INPUT's byte order
    be = encode_tiff(tpx, byte_order="MM")
    assert (decode_image(be) == tpx).all()
    be_small = resize_image(be, 2, 2)
    assert be_small[:2] == b"MM"
    assert (decode_image(be_small) == tpx[[0, 2]][:, [0, 2]]).all()
    with _pytest.raises(NotImplementedError):
        decode_audio(b"\x49\x44\x33 mp3-ish")
    # r11: resize is REAL for every format with an in-repo encoder —
    # TIFF losslessly, JPEG within quantization error of the flat field
    assert (decode_image(resize_image(encode_tiff(tpx), 2, 2)) == tpx[[0, 2]][:, [0, 2]]).all()
    jout = decode_image(resize_image(encode_jpeg(gray), 4, 4))
    assert jout.shape == (4, 4, 3)
    assert int(np.abs(jout.astype(np.int16) - 128).max()) <= 12
    # only encoder-less formats still raise (PNG decode is real, encode isn't)
    with _pytest.raises(NotImplementedError):
        resize_image(b"\x89PNG\r\n\x1a\n png resize needs an encoder", 2, 2)


def test_pyds_pushdown_accepts_bucket_eq_only():
    """The Python data source reader consumes a bucket-equality filter and
    returns every other filter to Spark for post-scan evaluation."""
    from pyspark.sql.datasource import EqualTo, GreaterThan

    from hdc_dataengineering_sqlsync_spark.sources.pydatasource import SyntheticEventsReader

    r = SyntheticEventsReader({"rows": "100", "partitions": "4"})
    remaining = list(r.pushFilters([EqualTo(("bucket",), 3), GreaterThan(("value",), 5.0)]))
    assert r.bucket_eq == 3
    assert remaining == [GreaterThan(("value",), 5.0)]
    # generation skips non-matching rows entirely
    rows = [row for p in r.partitions() for row in r.read(p)]
    assert rows and all(b == 3 for _, b, _ in rows)
    assert len(rows) == 10


def test_bmp_wav_roundtrip_property():
    """Property: any uint8 RGB array / int16 sample vector survives the
    encode->decode round-trip exactly (hypothesis-driven dims and content)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from hdc_dataengineering_sqlsync_spark.operators.media_codecs import (
        decode_bmp,
        decode_wav,
        encode_bmp,
        encode_wav,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=40),
        h=st.integers(min_value=1, max_value=30),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def bmp_prop(w, h, seed):
        px = np.random.RandomState(seed).randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (decode_bmp(encode_bmp(px)) == px).all()

    @settings(max_examples=25, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=500),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
        rate=st.sampled_from([8000, 16000, 44100]),
    )
    def wav_prop(n, seed, rate):
        s = np.random.RandomState(seed).randint(-32768, 32768, size=n).astype(np.int16)
        got_rate, got = decode_wav(encode_wav(s, sample_rate=rate))
        assert got_rate == rate and (got == s).all()

    bmp_prop()
    wav_prop()


def test_coverage_ledger_latest_round_wins_and_stale_preserved(tmp_path):
    """The driver-coverage ledger (scripts/update_coverage.py) is what decides
    registration order for the external verifier — its merge must be
    latest-round-wins (a later green overrides an earlier fail and vice
    versa), rows-only must count as checked, and the hand-maintained stale
    list must survive a rebuild and stay out of green."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts"))
    from update_coverage import rebuild_ledger

    ok = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    bad = {"rows_match": True, "schema_match": True, "hash_match": False, "err": None}
    rows_only = {"rows_match": None, "schema_match": None, "hash_match": None, "err": "no_oracle"}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"a": ok, "b": bad, "c": ok, "d": rows_only})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({"b": ok, "c": bad}))
    (tmp_path / "driver_coverage.json").write_text(json.dumps({"stale": ["a"]}))

    ledger = rebuild_ledger(str(tmp_path))
    assert ledger["rounds_merged"] == ["CORRECTNESS_r01.json", "CORRECTNESS_r02.json"]
    assert ledger["green"] == ["b", "d"]  # b: r2 green wins; a: green but stale
    assert ledger["failed"] == ["c"]  # c: r2 fail overrides r1 green
    assert ledger["stale"] == ["a"]


def test_quality_rules_detect_known_violations(spark):
    """operators/quality.py: seeded violations are counted exactly — row
    rules, key uniqueness, and FK orphans each see their planted defects."""
    from pyspark.sql import functions as F

    from hdc_dataengineering_sqlsync_spark.operators.quality import (
        RowRule,
        fk_orphans_report,
        row_rules_report,
        unique_report,
    )

    child = spark.createDataFrame(
        [(1, 10.0), (1, -2.0), (2, 5.0), (3, 0.0), (None, 1.0)],
        "k long, qty double",
    )
    parent = spark.createDataFrame([(1,), (2,)], "k long")

    rows = {
        r["rule_name"]: (r["n_checked"], r["n_violations"])
        for r in row_rules_report(
            child,
            [
                RowRule("qty_positive", F.col("qty") > 0),
                RowRule("k_not_null", F.col("k").isNotNull()),
            ],
        ).collect()
    }
    assert rows["qty_positive"] == (5, 2)  # -2.0 and 0.0
    assert rows["k_not_null"] == (5, 1)

    uq = unique_report(child, "k_unique", ["k"]).collect()[0]
    # SELECT DISTINCT semantics: {1, 2, 3, NULL} = 4 distinct key tuples
    # (the NULL tuple is retained, matching the DuckDB oracle), so the only
    # violation is the duplicated k=1
    assert (uq["n_checked"], uq["n_violations"]) == (5, 1)

    fk = fk_orphans_report(child, "k_fk", ["k"], parent, ["k"]).collect()[0]
    # null-key row excluded from the check; k=3 rows are orphans
    assert (fk["n_checked"], fk["n_violations"]) == (4, 1)


def test_ivm_maintained_equals_recomputed_hypothesis(spark):
    """Property: for ANY source/target pair over a shared PK space, applying
    grouped_agg_deltas to target's aggregate reproduces source's aggregate
    exactly — inserts, deletes, measure updates, and group-key moves
    (operators/ivm.py)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from hdc_dataengineering_sqlsync_spark.operators.ivm import (
        apply_agg_deltas,
        grouped_agg_deltas,
    )

    row = st.tuples(
        st.integers(min_value=0, max_value=12),
        st.sampled_from(["a", "b", "c"]),
        st.integers(min_value=-500, max_value=500),
    )
    frame = st.lists(row, max_size=12, unique_by=lambda r: r[0])

    def agg_of(df):
        return {
            (r["g"], r["n"], r["total"])
            for r in df.groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("m").alias("total"))
            .collect()
        }

    @settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
    @given(src_rows=frame, tgt_rows=frame)
    def prop(src_rows, tgt_rows):
        schema = "pk long, g string, m long"
        source = spark.createDataFrame(src_rows, schema) if src_rows else spark.createDataFrame([], schema)
        target = spark.createDataFrame(tgt_rows, schema) if tgt_rows else spark.createDataFrame([], schema)
        base = target.groupBy(F.col("g")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("m").alias("total")
        )
        deltas = grouped_agg_deltas(source, target, pk=["pk"], group_col="g", measure_col="m")
        maintained = apply_agg_deltas(base, deltas, "g")
        # null totals: sum() over empty group is NULL on both paths; compare sets
        assert agg_of(source) == {
            (r["g"], r["n"], r["total"]) for r in maintained.collect()
        }

    prop()


def test_dhash_properties():
    """operators/multimodal.py::dhash64 — identical images collide exactly,
    small perturbations stay within a small hamming distance, and the four
    phash-dedup fixture classes produce four distinct hashes."""
    import numpy as np

    from hdc_dataengineering_sqlsync_spark.operators.media_codecs import (
        decode_bmp,
        encode_bmp,
        resize_nearest,
    )
    from hdc_dataengineering_sqlsync_spark.operators.multimodal import dhash64

    def pix(q):
        w = 8 + (q % 5) * 4
        h = 6 + (q % 3) * 4
        y, x = np.mgrid[0:h, 0:w]
        r = 255 * (((x + y) // (q + 1)) % 2)
        g = 255 * ((x // (q + 1)) % 2)
        b = (37 * q + 11 * x + 23 * y) % 256
        return np.stack([r, g, b], axis=2).astype(np.uint8)

    hashes = [dhash64(decode_bmp(encode_bmp(pix(q))), resize_nearest) for q in range(4)]
    assert len(set(hashes)) == 4
    # codec round-trip does not change the hash
    assert dhash64(pix(2), resize_nearest) == hashes[2]
    # near-duplicate: a small local perturbation moves few gradient bits
    p = pix(1).copy()
    p[0, 0, 2] = (int(p[0, 0, 2]) + 6) % 256
    ham = bin(dhash64(p, resize_nearest) ^ hashes[1]).count("1")
    assert ham <= 4
    # all values fit signed int64 (Spark LongType)
    assert all(0 <= h < 2**63 for h in hashes)


def test_row_digest_cross_engine_parity_hypothesis(spark, oracle):
    """The foundation of every sync oracle: functions/digests.py generates
    the md5 canonical-string digest TWICE — as Spark Columns and as DuckDB
    SQL — from one spec. Property: for adversarial values (negative
    doubles, .xx5 rounding boundaries, NULLs, embedded separator chars,
    unicode, huge timestamps) the two renderings produce byte-identical
    digests row by row."""
    import duckdb
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from hdc_dataengineering_sqlsync_spark.functions.digests import (
        duckdb_row_digest,
        row_digest,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("d", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    import datetime as dt

    strings = st.one_of(
        st.none(),
        st.sampled_from(["", "|", "a|b", "<NULL>", "naïve £", "x" * 40]),
        st.text(alphabet="ab|<>", max_size=6),
    )
    doubles = st.one_of(
        st.none(),
        st.sampled_from([0.0, -0.005, 1.005, 2.675, -123.456, 1e9, -1e-9]),
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    )
    stamps = st.one_of(
        st.none(),
        # pre-1970 included: negative epoch-microsecond rendering must agree
        st.datetimes(
            min_value=dt.datetime(1923, 1, 2), max_value=dt.datetime(2100, 1, 1)
        ),
    )
    row = st.tuples(st.integers(min_value=-10, max_value=10**12), strings, doubles, stamps)
    frame = st.lists(row, min_size=1, max_size=6, unique_by=lambda r: r[0])

    dg_sql = duckdb_row_digest(schema)

    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    @given(rows=frame)
    def prop(rows):
        sdf = spark.createDataFrame(rows, schema)
        got = {
            r["k"]: r["dg"]
            for r in sdf.select("k", row_digest(sdf).alias("dg")).collect()
        }
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE t (k BIGINT, s VARCHAR, d DOUBLE, ts TIMESTAMP)"
        )
        con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", rows)
        want = dict(con.execute(f"SELECT k, {dg_sql} FROM t").fetchall())
        con.close()
        assert got == want

    prop()


def test_normalize_oracle_rounding_parser():
    """plans/catalog.py::normalize_oracle_rounding — the rewrite every
    declared oracle passes through. Nested rounds rewrite inside-out,
    single-arg round() and bround() are untouched, and matching is
    case-insensitive."""
    from hdc_dataengineering_sqlsync_spark.plans.catalog import normalize_oracle_rounding as n

    assert (
        n("SELECT round(x, 2) FROM t")
        == "SELECT cast(cast(x AS DECIMAL(38,2)) AS DOUBLE) FROM t"
    )
    # nested: inner first, then outer
    assert n("round(round(x, 4), 2)") == (
        "cast(cast(cast(cast(x AS DECIMAL(38,4)) AS DOUBLE) AS DECIMAL(38,2)) AS DOUBLE)"
    )
    # commas inside nested parens do not split the args
    assert n("round(coalesce(a, b), 2)") == (
        "cast(cast(coalesce(a, b) AS DECIMAL(38,2)) AS DOUBLE)"
    )
    # single-arg round and bround left alone
    assert n("round(x)") == "round(x)"
    assert n("bround(x, 2)") == "bround(x, 2)"
    # case-insensitive
    assert n("ROUND(x, 2)") == "cast(cast(x AS DECIMAL(38,2)) AS DOUBLE)"


def test_repair_partitions_leaves_untouched_files_in_place(spark, sf_dir, tmp_path):
    """operators/maintenance.py::repair_partitions — dynamic partition
    overwrite must rewrite ONLY the flagged partitions: file listings of
    untouched partitions are byte-for-byte the same paths afterwards, and
    the repaired table equals source."""
    import os

    from hdc_dataengineering_sqlsync_spark.operators.maintenance import repair_partitions

    src = (
        load(spark, sf_dir, "orders")
        .withColumn("part", F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM"))
    )
    # drift two specific months' rows only
    drifted = src.withColumn(
        "o_orderstatus",
        F.when(F.col("part").isin("1995-03", "1996-07"), "X").otherwise(F.col("o_orderstatus")),
    )
    path = str(tmp_path / "repair_target")
    drifted.write.partitionBy("part").parquet(path)

    def files_by_part():
        out = {}
        for d in os.listdir(path):
            if d.startswith("part="):
                out[d] = sorted(os.listdir(os.path.join(path, d)))
        return out

    before = files_by_part()
    repair_partitions(spark, src, path, "part", ["1995-03", "1996-07"])
    after = files_by_part()

    touched = {"part=1995-03", "part=1996-07"}
    for part, files in before.items():
        if part in touched:
            assert after[part] != files, f"{part} should have been rewritten"
        else:
            assert after[part] == files, f"{part} should be untouched"

    repaired = spark.read.parquet(path).select(*load(spark, sf_dir, "orders").columns)
    source = load(spark, sf_dir, "orders")
    assert repaired.exceptAll(source).count() == 0
    assert source.exceptAll(repaired).count() == 0


def test_jsonl_sink_append_preserves_previous_commits(spark, tmp_path):
    """Regression (r3 review finding): the Python DataSource writer's commit
    must not clobber part files from a previous committed write — appends
    rename staged files under their unique staged names, so two commits
    coexist and a reader sees the union."""
    import os

    from hdc_dataengineering_sqlsync_spark.sources.pydatasource import (
        JsonLinesSinkDataSource,
    )

    spark.dataSource.register(JsonLinesSinkDataSource)
    out = str(tmp_path / "sink")
    spark.range(0, 50).selectExpr("id", "id * 2 as v").repartition(3).write.format(
        "jsonl_sink"
    ).option("path", out).mode("append").save()
    spark.range(50, 80).selectExpr("id", "id * 2 as v").repartition(2).write.format(
        "jsonl_sink"
    ).option("path", out).mode("append").save()
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 5  # 3 + 2, nothing clobbered
    back = spark.read.json(out)
    assert back.count() == 80
    assert back.agg({"v": "sum"}).collect()[0][0] == sum(2 * i for i in range(80))


def test_jsonl_sink_commit_reaps_own_orphans_only(spark, tmp_path):
    """r3 advice + r4 review refinement: commit() reaps staged files from
    ITS OWN job's retried/speculated tasks (message never collected), but
    must NOT touch another job's in-flight staged files on the same path —
    that would break uuid-keyed concurrent-append safety. Driven at the
    writer level so a same-tag orphan can be planted deterministically."""
    import os

    from pyspark.sql import types as T

    from hdc_dataengineering_sqlsync_spark.sources.pydatasource import (
        JsonLinesSinkDataSource,
        JsonLinesWriter,
    )

    out = str(tmp_path / "sink")
    schema = T.StructType([T.StructField("id", T.LongType())])
    w = JsonLinesWriter({"path": out}, schema, overwrite=False)
    m1 = w.write(iter(spark.range(0, 5).collect()))
    w.write(iter(spark.range(5, 8).collect()))  # retried task: message lost
    # another job's in-flight staged file (different tag) — must survive
    foreign = os.path.join(out, "_staged_otherjob_deadbeef.jsonl")
    with open(foreign, "w") as f:
        f.write('{"id": 999}\n')
    w.commit([m1])
    names = os.listdir(out)
    assert not any(n.startswith(f"_staged_{w.job_tag}_") for n in names)  # own orphan reaped
    assert os.path.basename(foreign) in names  # foreign job untouched
    assert "_SUCCESS" in names

    # end-to-end: a real write still leaves no own-staged files behind
    spark.dataSource.register(JsonLinesSinkDataSource)
    spark.range(0, 10).write.format("jsonl_sink").option("path", out).mode("append").save()
    assert spark.read.json(out).count() == 5 + 10  # committed rows only


def test_win_range_frame_matches_window_form(spark, sf_dir):
    """The r4 scale-safe rewrite (distinct-value cells + bounded cell
    self-join + broadcast join-back) must be row-identical to the literal
    RANGE-frame window it replaces."""
    from pyspark.sql import Window

    from hdc_dataengineering_sqlsync_spark.plans.windows import win_range_frame

    got = win_range_frame(spark, sf_dir)
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity").rangeBetween(-5, 0)
    want = li.select(
        "l_returnflag", "l_quantity", F.count(F.lit(1)).over(w).alias("cnt_within_5")
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_dq_constraint_report_folded_pins_unfolded(spark, sf_dir, monkeypatch):
    """r13 single-scan fold: the folded form (gate arm taken when the fact
    tables' on-disk bytes reach _DQ_FOLD_BYTES) must return exactly the
    report the unfolded r3 shape returns, and its plan must scan lineitem
    exactly once."""
    from hdc_dataengineering_sqlsync_spark.plans import dataops
    from hdc_dataengineering_sqlsync_spark.registry import load

    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    folded = dataops._dq_constraint_report_folded(li, o, c)
    unfolded = dataops.dq_constraint_report(spark, sf_dir)  # gate off at test scale
    assert [tuple(r) for r in folded.collect()] == [tuple(r) for r in unfolded.collect()]

    def _li_scans(df):
        # after collect() the AQE plan string repeats every node under an
        # "== Initial Plan ==" section — count the final plan only
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        return sum(
            1 for line in plan.splitlines() if "FileScan" in line and "lineitem" in line
        )

    assert _li_scans(folded) == 1
    assert _li_scans(unfolded) == 3  # the r3 shape: row rules + pk_unique + fk child

    # and the gate actually switches arms: force the bound to 0 bytes and the
    # declared query must produce the folded single-lineitem-scan plan
    monkeypatch.setattr(dataops, "_DQ_FOLD_BYTES", 0)
    gated = dataops.dq_constraint_report(spark, sf_dir)
    assert _li_scans(gated) == 1
    assert [tuple(r) for r in gated.collect()] == [tuple(r) for r in unfolded.collect()]
