"""memo.MemoDict: self-registration, tracing, and the clear_all reset —
the mechanism bench.py derives its cold/warm set from and
clear_session_memos purges (VERDICT r7 #4)."""

from __future__ import annotations

from aws_saas_etl_spark import memo


def test_memo_registry_and_tracing():
    m = memo.MemoDict("t_demo")
    assert m in memo.all_memos()
    # outside a track() window nothing records and nothing breaks
    m["a"] = 1
    assert m.get("a") == 1

    with memo.track() as touched:
        assert touched == []
        _ = m.get("missing")          # a READ traces too (warm consumers)
    assert touched == ["t_demo"]

    with memo.track() as touched2:
        m["b"] = 2
    assert touched2 == ["t_demo"]
    # nesting restores the outer trace
    with memo.track() as outer:
        with memo.track() as inner:
            m.get("b")
        assert inner == ["t_demo"]
        m.get("a")
    assert outer == ["t_demo"]


def test_clear_all_purges_every_registered_memo():
    ms = [memo.MemoDict(f"t_clear_{i}") for i in range(3)]
    for i, m in enumerate(ms):
        m[i] = i
    memo.clear_all()
    assert all(len(m) == 0 for m in ms)


def test_operator_caches_are_registered():
    """Every stored-artifact cache in the operator modules must be a
    registered MemoDict — a plain dict would silently escape the
    cold-path reset and the bench derivation."""
    from aws_saas_etl_spark.operators import curation, dedup, similarity

    names = {m.name for m in memo.all_memos()}
    for expected in (
        "shingle", "clusters", "base_labels", "ivf_centroids",
        "manifest", "pq_codebook",
    ):
        assert expected in names, expected


def test_untraced_memo_clears_but_does_not_trace():
    """traced=False memos (r13: sizing scalars — table row counts,
    append cuts) must be cleared by clear_all (cold reps re-pay the
    derivation) yet stay invisible to track() (they are catalog
    metadata, not a two-regime stored artifact the bench cold/warm
    table needs rows for)."""
    m = memo.MemoDict("t_untraced", traced=False)
    with memo.track() as touched:
        m["k"] = 1
        assert m.get("k") == 1
    assert touched == []
    memo.clear_all()
    assert len(m) == 0


def test_untraced_touches_land_in_sizing_trace():
    """r14 (VERDICT r13 #6): untraced memos stay OUT of the main trace
    (cold/warm membership unchanged) but their touches surface under
    ``touched.sizing`` so bench.py can report which queries read a
    sizing cache (the ``sizing_cache_touched`` bench key)."""
    m = memo.MemoDict("t_sizing_trace", traced=False)
    t = memo.MemoDict("t_traced_trace")
    with memo.track() as touched:
        m["k"] = 1
        _ = m.get("k")
        t["a"] = 2
    assert touched == ["t_traced_trace"]
    assert touched.sizing == ["t_sizing_trace", "t_sizing_trace"]
    # nesting restores the outer sizing trace too
    with memo.track() as outer:
        with memo.track() as inner:
            m.get("k")
        assert inner.sizing == ["t_sizing_trace"]
        assert outer.sizing == []
        m.get("k")
    assert outer.sizing == ["t_sizing_trace"]


def test_sizing_caches_are_registered_untraced():
    """The r13 sizing caches must be registered (cold-path reset) and
    untraced (no bench cold/warm membership change)."""
    from aws_saas_etl_spark import catalog  # noqa: F401
    from aws_saas_etl_spark.operators import similarity  # noqa: F401

    by_name = {m.name: m for m in memo.all_memos()}
    for expected in ("table_scans", "table_row_counts", "append_cut"):
        assert expected in by_name, expected
        assert by_name[expected].traced is False, expected


def test_none_value_is_a_cache_hit(spark):
    """A sizing scalar that is legitimately ``None`` (the percentile of an
    empty table) is built once per session, not on every lookup."""
    calls = []

    def build():
        calls.append(1)
        return None

    tag = ("test_none_value_is_a_cache_hit",)
    assert memo.derived_scalar_cached(spark, tag, build) is None
    assert memo.derived_scalar_cached(spark, tag, build) is None
    assert calls == [1]
