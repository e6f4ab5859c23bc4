"""Driver-contract registry discipline (__spark_entry__.py): the
invariants the rotation policy depends on, locked as tests so a future
round can't silently break them."""

from __future__ import annotations

from collections import Counter

import __spark_entry__ as entry

WINDOW = 50  # the driver's correctness window


def test_every_query_has_an_oracle():
    q = entry.queries()
    o = entry.oracle_sql()
    assert set(q) == set(o), (set(q) ^ set(o))


def test_priority_has_no_duplicates_and_no_stragglers():
    c = Counter(entry.PRIORITY)
    assert [k for k, v in c.items() if v > 1] == []
    q = list(entry.queries())
    # every registered query is explicitly placed (no accidental
    # end-of-dict stragglers silently consuming window slots)
    assert [n for n in q if n not in c] == []
    # and PRIORITY names nothing unregistered (dead entries would shift
    # the window boundary)
    assert [n for n in c if n not in q] == []


def test_ordering_applies_priority_exactly():
    q = list(entry.queries())
    assert q == [n for n in entry.PRIORITY if n in set(q)]


def test_stateful_builders_are_not_plan_cached():
    """Registry-level check (complements the module scan in
    test_plancache): no callable served by queries() both carries
    stateful_build and is wrapped by the cache."""
    for name, fn in entry.queries().items():
        if getattr(fn, "stateful_build", False):
            # cached_plan raises on stateful builders at wrap time, so a
            # wrapped one could not exist; reaching here with the marker
            # means the registry correctly served the raw builder
            assert fn.__module__ != "flink_stream_processing_refarch_spark.plancache", name


def test_excluded_rules_is_exactly_the_audited_list(spark):
    """r15 (VERDICT r14 #2): ``excludedRules`` is a session-global knob.
    Today every explode input in the registry is a COMPUTED array, so
    the InferFiltersFromGenerate exclusion is pure overhead removal —
    but a future entry exploding a SCANNED array column could silently
    lose pushdown-based pruning. Pin the list: anything added here must
    re-justify itself against that risk."""
    assert spark.conf.get("spark.sql.optimizer.excludedRules") == (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    )
