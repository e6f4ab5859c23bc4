"""Behavioral tests for the per-session plan cache (plancache.py) and its
wiring in the __spark_entry__ registry."""

from __future__ import annotations

from conftest import SF_DIR

import __spark_entry__ as entry
from flink_stream_processing_refarch_spark import plancache


def test_batch_queries_return_same_plan_per_session_and_sf(spark):
    q = entry.queries()
    df1 = q["pricing_summary"](spark, SF_DIR)
    df2 = q["pricing_summary"](spark, SF_DIR)
    assert df1 is df2  # one compile per (session, sf_dir)


def test_cache_key_includes_sf_dir(spark):
    q = entry.queries()
    a = q["pricing_summary"](spark, SF_DIR)
    b = q["pricing_summary"](spark, "/root/testdata/sf0.01")
    assert a is not b


def test_streaming_and_stateful_builders_are_not_cached(spark):
    """Streaming entries re-run their bounded stream per call; stateful
    builders (convergence actions / localCheckpoint) re-run their
    algorithm — neither may serve a memoized frame."""
    q = entry.queries()
    for name in ("streaming_dedup", "dedup_clusters", "semantic_dedup"):
        df1 = q[name](spark, SF_DIR)
        df2 = q[name](spark, SF_DIR)
        assert df1 is not df2, name


def test_stateful_build_attribute_covers_state_building_builders():
    """Every registered batch builder whose code (its own source, or a
    same-module helper it calls) persists / checkpoints / collects while
    CONSTRUCTING the plan must be declared ``stateful_build = True`` —
    that attribute is what keeps the bench honest (cached_plan refuses to
    wrap such builders). Source scan is direct + one call level deep,
    which covers how every builder in this package is structured
    (state-building code sits in the builder or a module-local helper)."""
    import inspect
    import re

    import __spark_entry__ as se

    markers = re.compile(r"\.localCheckpoint\(|\.persist\(|\.collect\(")
    streaming_names = {"q1_streaming", "q2_streaming"} | set(
        se.streaming_jobs.QUERIES
    )

    def sources(fn):
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            return []
        out = [src]
        mod_globals = getattr(fn, "__globals__", {})
        for callee in set(re.findall(r"\b(\w+)\s*\(", src)):
            g = mod_globals.get(callee)
            if inspect.isfunction(g) and g is not fn:
                try:
                    out.append(inspect.getsource(g))
                except (OSError, TypeError):
                    pass
        return out

    offenders = []
    for name, fn in se._all_queries().items():
        if name in streaming_names:
            continue  # never cached at all
        raw = getattr(fn, "__wrapped__", None)
        # cached_plan doesn't set __wrapped__; recover the raw builder
        # from the closure when the entry came back wrapped
        if raw is None and fn.__name__ == f"cached_{name}":
            raw = next(
                c.cell_contents
                for c in fn.__closure__
                if callable(getattr(c, "cell_contents", None))
            )
        raw = raw or fn
        if any(markers.search(s) for s in sources(raw)) and not getattr(
            raw, "stateful_build", False
        ):
            offenders.append(name)
    assert offenders == [], (
        f"builders doing build-time state without stateful_build: {offenders}"
    )


def test_cached_plan_refuses_stateful_builders():
    import pytest

    def builder(spark, sf_dir):  # pragma: no cover - never called
        raise AssertionError

    builder.stateful_build = True
    with pytest.raises(ValueError, match="stateful_build"):
        plancache.cached_plan("x", builder)


def _write_events(path, n, us_layout):
    """Tiny events table in either physical ts layout (the documented
    round-over-round generator drift)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = pd.to_datetime(
        [1704067200000000000 + i * 60_000_000_000 for i in range(n)]
    )
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), type=pa.int64()),
            "ts": pa.array(ts, type=pa.timestamp("us" if us_layout else "ns")),
            "user_id": pa.array([i % 5 for i in range(n)], type=pa.int64()),
            "event_type": pa.array(["view"] * n),
            "value": pa.array([float(i) for i in range(n)]),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(tbl, f"{path}/events.parquet")


def test_in_place_regeneration_invalidates_caches(spark, tmp_path):
    """The layout-drift scenario end-to-end: regenerate events.parquet at
    the SAME path with a different row count AND the other timestamp
    layout; both the cached plan and the normalized materialization must
    serve the new file (stamp-keyed caches), not the captured listing or
    a stale declared schema."""
    import shutil
    import time

    from flink_stream_processing_refarch_spark.schemas import load_table

    sf = str(tmp_path)
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents", "embeddings"):
        shutil.copy(f"{SF_DIR}/{t}.parquet", f"{sf}/{t}.parquet")
    _write_events(sf, 40, us_layout=True)
    q = entry.queries()
    assert load_table(spark, sf, "events").count() == 40
    first = q["time_rollup"](spark, sf)
    n1 = first.count()

    time.sleep(0.02)  # ensure a distinct mtime even on coarse clocks
    _write_events(sf, 60, us_layout=False)  # drift: other layout, new rows
    assert load_table(spark, sf, "events").count() == 60
    second = q["time_rollup"](spark, sf)
    assert second is not first  # stamp change -> fresh plan, not cache hit
    assert second.count() != n1


def test_cached_plan_still_recomputes_results(spark):
    """The cache memoizes the PLAN; collect on it must still produce the
    full result set (and equal a fresh uncached build)."""
    q = entry.queries()
    cached = q["semi_join"](spark, SF_DIR)
    n1 = len(cached.collect())
    plancache.clear()
    fresh = q["semi_join"](spark, SF_DIR)
    assert fresh is not cached
    assert len(fresh.collect()) == n1 > 0


def test_in_place_regeneration_evicts_stale_cache_entries(spark, tmp_path):
    """VERDICT r05 item 6: stamp-keyed memo caches must RELEASE the old
    generation when a table regenerates in place — the stale key leaves
    the dict and stale scratch directories leave the disk, instead of
    accumulating one dead entry per generation in a long-lived session."""
    import os
    import shutil
    import time

    from flink_stream_processing_refarch_spark import plancache
    from flink_stream_processing_refarch_spark.operators import (
        bpe,
        retrieval,
        similarity,
    )

    sf = str(tmp_path)
    for t in ("documents", "embeddings", "events"):
        shutil.copy(f"{SF_DIR}/{t}.parquet", f"{sf}/{t}.parquet")

    def regen(table):
        time.sleep(0.02)
        src = f"{SF_DIR}/{table}.parquet"
        dst = f"{sf}/{table}.parquet"
        shutil.copy(src, dst)
        os.utime(dst)  # new mtime -> new stamp

    def entries(cache, pos, val):
        return [k for k in cache if k[pos] == val]

    # BPE train cache (stamp at key[2])
    bpe._train(spark, sf)
    assert len(entries(bpe._TRAIN_CACHE, 1, sf)) == 1
    regen("documents")
    bpe._train(spark, sf)
    assert len(entries(bpe._TRAIN_CACHE, 1, sf)) == 1

    # queries sidecar (stamp at key[1], value = scratch dir)
    p1 = retrieval.queries_table_path(spark, sf)
    regen("documents")
    p2 = retrieval.queries_table_path(spark, sf)
    assert p1 != p2
    assert not os.path.isdir(p1) and os.path.isdir(p2)
    assert len(entries(retrieval._QUERIES_SIDECAR_CACHE, 0, sf)) == 1

    # PQ codes sidecar + codebooks (stamp at key[1])
    c1 = similarity.pq_codes_path(spark, sf)
    assert len(entries(similarity._PQ_BOOKS_CACHE, 0, sf)) == 1
    regen("embeddings")
    c2 = similarity.pq_codes_path(spark, sf)
    assert c1 != c2
    assert not os.path.isdir(c1) and os.path.isdir(c2)
    assert len(entries(similarity._PQ_CODES_CACHE, 0, sf)) == 1
    assert len(entries(similarity._PQ_BOOKS_CACHE, 0, sf)) == 1

    # plan cache (per-session dict, stamp at key[2])
    q = entry.queries()
    q["time_rollup"](spark, sf)
    regen("events")
    q["time_rollup"](spark, sf)
    skey = plancache._session_key(spark)
    assert len(entries(plancache._CACHE[skey], 1, sf)) == 1


def test_persist_latest_releases_previous_generation(spark):
    """persist_latest keeps at most ONE live persisted relation per tag:
    the second call unpersists the first (its storage level drops back
    to NONE), and recomputation of a stale holder still yields correct
    rows (unpersist is a performance event, never a correctness one)."""
    from flink_stream_processing_refarch_spark.schemas import persist_latest

    df1 = persist_latest(
        spark.range(100).selectExpr("id", "id * 2 AS v"), "test_tag"
    )
    df1.count()  # materialize
    assert df1.storageLevel.useMemory
    df2 = persist_latest(
        spark.range(50).selectExpr("id", "id * 3 AS v"), "test_tag"
    )
    assert not df1.storageLevel.useMemory  # previous generation released
    assert df1.count() == 100  # stale holder recomputes correctly
    assert df2.count() == 50
    df2.unpersist()


def test_persist_latest_reuses_identical_plan(spark):
    """The semantic half (ADVICE r06, adopted r07): a repeat call whose
    plan is semantically identical returns the SAME live DataFrame —
    no unpersist, no recompute — so per-call plan rebuilds (the decade
    harness, cross-variant compositions) keep their materialized
    relations instead of rebuilding the pipeline under the persist."""
    from flink_stream_processing_refarch_spark.schemas import persist_latest

    df1 = persist_latest(
        spark.range(200).selectExpr("id", "id * 2 AS v"), "test_sem_tag"
    )
    df1.count()
    assert df1.storageLevel.useMemory
    df2 = persist_latest(
        spark.range(200).selectExpr("id", "id * 2 AS v"), "test_sem_tag"
    )
    assert df2 is df1  # identical plan -> the live relation itself
    assert df1.storageLevel.useMemory
    # a semantically DIFFERENT plan still supersedes it
    df3 = persist_latest(
        spark.range(200).selectExpr("id", "id * 5 AS v"), "test_sem_tag"
    )
    assert df3 is not df1
    assert not df1.storageLevel.useMemory
    df3.unpersist()


def test_evict_stale_stamp_ignore_idx():
    """ignore_idx generalizes the PQ-cache rule: old-stamp entries go at
    EVERY value of the ignored knob position; same-stamp entries at
    other knob values stay live (the recall sweep's K grid)."""
    from flink_stream_processing_refarch_spark.schemas import evict_stale_stamp

    cache = {
        ("sf", "old", 8): "a",   # stale stamp, current K -> evict
        ("sf", "old", 16): "b",  # stale stamp, other K -> evict too
        ("sf", "new", 16): "c",  # fresh stamp, other K -> keep
        ("other", "old", 8): "d",  # different sf_dir -> keep
    }
    evict_stale_stamp(cache, ("sf", "new", 8), 1, ignore_idx=2)
    assert set(cache) == {("sf", "new", 16), ("other", "old", 8)}


def test_retrieval_persist_tags_per_variant(spark):
    """ADVICE r06 (medium): building one retrieval variant must not
    unpersist the relations another live variant's plan references.
    Tags carry the entry name, so bm25_topk_batch's persisted combine
    stays cached after bm25_mrr (which composes the same builder) runs
    its own build."""
    from flink_stream_processing_refarch_spark.operators import retrieval
    from flink_stream_processing_refarch_spark.schemas import _LIVE_PERSISTS

    topk = retrieval.q_bm25_topk_batch(spark, SF_DIR)
    tf_batch, _h = _LIVE_PERSISTS["bm25_topk_batch:tf"]
    tf_batch.count()
    assert tf_batch.storageLevel.useMemory
    retrieval.q_bm25_mrr(spark, SF_DIR).count()
    # the mrr build registered its OWN generation; batch's is untouched
    assert "bm25_mrr:tf" in _LIVE_PERSISTS
    assert tf_batch.storageLevel.useMemory
    assert topk.count() > 0
