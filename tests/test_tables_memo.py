"""Round-11 table-plan memoization: `tables.table` returns one lazy
plan object per (session, sf_dir, name) — repeated loads were ~180 ms
of driver-side listing/footer/analysis each, paid thousands of times
per bench session — and the memo must never change values or leak
across inputs."""

from __future__ import annotations

import weakref

from _kafka_streams_scaffold_spark import tables


def test_table_memoized_per_session_and_input(spark, sf_dir):
    a = tables.table(spark, sf_dir, "documents")
    b = tables.table(spark, sf_dir, "documents")
    assert a is b
    c = tables.table(spark, sf_dir, "events")
    assert c is not a
    # values flow from the parquet input (no materialization in memo)
    assert a.count() == a.count() > 0


def test_token_is_stable_and_input_specific(spark, sf_dir):
    t1 = tables.token(spark, sf_dir, "documents")
    t2 = tables.token(spark, sf_dir, "documents")
    assert t1 == t2
    assert tables.token(spark, sf_dir, "embeddings") != t1


def test_df_token_matches_semantic_hash(spark, sf_dir):
    df = tables.table(spark, sf_dir, "documents")
    assert tables.df_token(df) == df.semanticHash()
    # a synthetic frame gets its own hash (no cross-input collision)
    syn = spark.range(5).selectExpr("id as doc_id", "'x' as text")
    assert tables.df_token(syn) == syn.semanticHash()
    assert tables.df_token(syn) != tables.df_token(df)


class _LosingRaceDict(dict):
    """A memo whose ``get`` also evicts the entry it returns: the
    caller then sees the state a thread has after losing the race to
    evict the same dead entry."""

    def get(self, key, default=None):
        return self.pop(key, default)


def _dead_ref() -> weakref.ref:
    class _Gone:
        pass

    obj = _Gone()
    ref = weakref.ref(obj)
    del obj
    return ref


def test_dead_entry_eviction_tolerates_a_concurrent_evictor(
    spark, sf_dir, monkeypatch
):
    key = (id(spark), sf_dir, "documents")
    memo = _LosingRaceDict({key: (_dead_ref(), None)})
    monkeypatch.setattr(tables, "_TABLE_MEMO", memo)
    df = tables.table(spark, sf_dir, "documents")
    assert dict.get(memo, key)[1] is df

    tokens = _LosingRaceDict({id(df): (_dead_ref(), -1)})
    monkeypatch.setattr(tables, "_TOKEN_MEMO", tokens)
    assert tables.df_token(df) == df.semanticHash()
