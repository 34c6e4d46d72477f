"""Edge coverage for the last round-5 additions: BPE train/apply, column
profile, winsorized stats, PageRank — planted frames through load_table."""

from __future__ import annotations

from pyspark.sql import functions as F

from realtime_analytics_with_kafka_clickhouse_spark.operators import (
    _memo,
    dedup,
    rollups,
    text,
    timeseries,
)


def _patch(monkeypatch, module, tables):
    monkeypatch.setattr(module, "load_table", lambda _s, _d, name: tables[name])


def _clear_bpe_memo():
    for key in [k for k in _memo._MEMO if k[0] == "bpe_merges"]:
        del _memo._MEMO[key]


def test_bpe_train_learns_planted_pair(spark, monkeypatch):
    """A corpus dominated by 'ab' must learn (a,b) first; chained merges
    then climb to 'abab' via (ab,ab)."""
    docs = spark.createDataFrame(
        [(1, "abab abab abab"), (2, "abab cd")], "doc_id long, text string"
    )
    _patch(monkeypatch, text, {"documents": docs})
    _clear_bpe_memo()
    try:
        rows = {r["merge_step"]: r for r in text.bpe_train_merges(spark, "edge1").collect()}
        assert (rows[1]["left"], rows[1]["right"]) == ("a", "b")
        # Left-to-right replace leaves "abab" as [ab, a, b] (the documented
        # overlap approximation): step 2 re-merges the remaining (a, b)
        # tail — tie with (ab, a) broken by pair ASC — and only step 3
        # reaches (ab, ab) -> "abab".
        assert (rows[2]["left"], rows[2]["right"]) == ("a", "b")
        assert rows[3]["merged"] == "abab"
    finally:
        _clear_bpe_memo()


def test_bpe_tokenize_compression_on_planted_corpus(spark, monkeypatch):
    """After learning on 'abab', doc 1 compresses 4 chars/word -> 1 token;
    singleton-char words pass through untouched."""
    docs = spark.createDataFrame(
        [(1, "abab abab abab"), (2, "abab cd"), (3, "x")],
        "doc_id long, text string",
    )
    _patch(monkeypatch, text, {"documents": docs})
    _clear_bpe_memo()
    try:
        out = {r["doc_id"]: r for r in text.bpe_tokenize_stats(spark, "edge2").collect()}
        assert out[1]["n_char_tokens"] == 12 and out[1]["n_bpe_tokens"] == 3
        assert out[3]["n_char_tokens"] == 1 and out[3]["n_bpe_tokens"] == 1
        assert out[1]["compression"] == 0.25
    finally:
        _clear_bpe_memo()


def test_column_profile_counts_nulls_and_distincts(spark, monkeypatch):
    events = spark.createDataFrame(
        [(1, 10, "a", 1.0, None), (2, 10, "a", 2.0, "{}"), (3, None, "b", 2.0, "{}")],
        "event_id long, user_id long, event_type string, value double, props string",
    )
    _patch(monkeypatch, rollups, {"events": events})
    prof = {r["column"]: r for r in rollups.events_column_profile(spark, "x").collect()}
    assert prof["user_id"]["n_nonnull"] == 2 and prof["user_id"]["n_distinct"] == 1
    assert prof["props"]["n_nonnull"] == 2 and prof["props"]["n_distinct"] == 1
    assert prof["value"]["n_distinct"] == 2
    assert all(r["n_rows"] == 3 for r in prof.values())


def test_winsorized_stats_clip_bounds(spark, monkeypatch):
    """With one huge outlier, the winsorized total must be bounded by
    n * p95 and the clip counters must see the tails."""
    rows = [(i, "t", float(i)) for i in range(1, 100)] + [(100, "t", 1e9)]
    events = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    _patch(monkeypatch, timeseries, {"events": events})
    r = timeseries.winsorized_value_stats(spark, "x").collect()[0]
    assert r["n"] == 100
    assert r["n_clipped_high"] >= 1 and r["n_clipped_low"] >= 1
    assert r["winsorized_total"] < 1e4  # the 1e9 outlier got clipped to ~p95


def test_pagerank_symmetric_pair_uniform(spark, monkeypatch):
    """A single near-dup pair is a symmetric 2-node graph: both nodes end
    at rank 1.0 (0.15 + 0.85 * 1/1) every round."""
    monkeypatch.setattr(
        dedup,
        "minhash_near_dup",
        lambda _s, _d: spark.createDataFrame(
            [(1, 2, 1.0)], "doc_a long, doc_b long, jaccard double"
        ),
    )
    out = {r["doc_id"]: r["pagerank"] for r in dedup.near_dup_pagerank(spark, "x").collect()}
    assert out == {1: 1.0, 2: 1.0}


def test_pagerank_star_center_dominates(spark, monkeypatch):
    """Star graph 0-{1,2,3}: the center accumulates rank, leaves lose it,
    and total mass stays n (within float print tolerance)."""
    pairs = [(0, i, 1.0) for i in (1, 2, 3)]
    monkeypatch.setattr(
        dedup,
        "minhash_near_dup",
        lambda _s, _d: spark.createDataFrame(pairs, "doc_a long, doc_b long, jaccard double"),
    )
    out = {r["doc_id"]: r["pagerank"] for r in dedup.near_dup_pagerank(spark, "x").collect()}
    assert out[0] > 1.5 and all(out[i] < 1.0 for i in (1, 2, 3))
    assert abs(sum(out.values()) - 4.0) < 0.01
