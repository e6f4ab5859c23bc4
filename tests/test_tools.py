"""Verification tooling honesty: a mistyped check_oracle selector must
fail loudly, never print a green transcript over zero queries
(VERDICT r04 'What's wrong' #4)."""

from __future__ import annotations

import os
import sys

from conftest import ROOT

from tools import check_oracle


def test_unknown_query_name_is_a_hard_error(monkeypatch):
    monkeypatch.setattr(
        sys, "argv", ["check_oracle.py", "/root/testdata/sf0.001", "bogus_q"]
    )
    # returns before any Spark/DuckDB work: exit code 2, not PASS(0)
    assert check_oracle.main() == 2


def test_mixed_known_and_unknown_names_still_error(monkeypatch):
    monkeypatch.setattr(
        sys,
        "argv",
        ["check_oracle.py", "/root/testdata/sf0.001", "q1_pickup_count", "nope"],
    )
    assert check_oracle.main() == 2


def test_hostile_columns_flags_uncast_sum():
    """The shared type predicate: DuckDB widens sum(BIGINT) to HUGEINT,
    which the driver's pandas canonicalizer hashes differently from
    Spark's int64 even when every value matches (VERDICT r07 #1)."""
    import duckdb

    from tools.check_oracle_types import hostile_columns

    con = duckdb.connect()
    desc = con.execute(
        "DESCRIBE SELECT sum(x) AS s, CAST(sum(x) AS BIGINT) AS ok"
        " FROM (SELECT CAST(1 AS BIGINT) AS x)"
    ).fetchall()
    bad = hostile_columns(desc)
    assert [c for c, _ in bad] == ["s"], bad


def test_uncast_oracle_fails_the_gate_even_when_values_match(
    spark, monkeypatch
):
    """End-to-end proof the mandatory gate inside check_oracle.main
    cannot be green over a driver-hostile oracle: a fixture query whose
    Spark and DuckDB values are IDENTICAL, but whose oracle emits a
    HUGEINT column, must FAIL (VERDICT r07 item 2's fixture test)."""
    from tools import check_oracle

    def fixture_q(spark, sf_dir):
        return spark.sql("SELECT CAST(3 AS BIGINT) AS s")

    monkeypatch.setattr(
        check_oracle.entry, "queries", lambda: {"fixture_uncast": fixture_q}
    )
    monkeypatch.setattr(
        check_oracle.entry,
        "oracle_sql",
        lambda: {
            # values match Spark's exactly (one row, s=3) — only the
            # bound type (HUGEINT from the uncast sum) is hostile
            "fixture_uncast": (
                "SELECT sum(x) AS s FROM (SELECT CAST(3 AS BIGINT) AS x)"
            )
        },
    )
    monkeypatch.setattr(
        sys, "argv", ["check_oracle.py", "/root/testdata/sf0.001"]
    )
    assert check_oracle.main() == 1


def test_make_ledger_covers_every_registry_entry(tmp_path, monkeypatch):
    """LEDGER.md generation: every queries() entry gets a row, rows for
    driver-green entries carry their latest round, and entries never
    seen by the driver are flagged as awaiting their first window."""
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "tools/make_ledger.py"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr[-500:]
    import __spark_entry__ as entry

    text = open(os.path.join(ROOT, "LEDGER.md")).read()
    for name in entry.queries():
        assert f"| {name} |" in text, name


def test_float_audit_no_raw_transcendentals_in_oracles():
    """The determinism tripwire (tools/float_audit.py): no oracle-paired
    expression may call a non-correctly-rounded function (ln/exp/pow/...)
    outside the explicit allowlist — those must go through
    functions/detmath.py, or the driver hash can flip on a cross-engine
    ulp at a quantization boundary (the r08 fuzz counterexample). The
    allowlist must also stay live: a stale row (entry no longer hitting)
    fails too, so the r10 tfidf migration cannot silently leave its
    exception behind."""
    from tools import float_audit

    hits = float_audit.audit()
    unexpected = {n: f for n, f in hits.items() if n not in float_audit.ALLOW}
    assert not unexpected, unexpected
    assert all(n in hits for n in float_audit.ALLOW), "stale allowlist row"


def test_float_audit_source_scan_covers_spark_only_expressions(tmp_path):
    """The r10 extension of the tripwire (ADVICE r09 #4): the oracle
    scan only sees text shared with ``oracle_sql()``; a Spark-side-only
    ``F.expr("... ln(x) ...")`` or a direct ``F.log`` call in a plan
    builder would reintroduce the cross-engine ulp exposure unseen.
    ``audit_sources`` walks every package module's AST. Two assertions:
    the real package is clean, and the scanner actually CATCHES both
    violation shapes (planted in a temp package) while ignoring
    docstrings and comments that merely mention ln()."""
    from tools import float_audit

    hits = float_audit.audit_sources()
    unexpected = {
        rel: [t for t in toks if (rel, t) not in float_audit.ALLOW_SOURCES]
        for rel, toks in hits.items()
    }
    assert not {r: t for r, t in unexpected.items() if t}, unexpected
    assert all(
        k[1] in hits.get(k[0], []) for k in float_audit.ALLOW_SOURCES
    ), "stale source allowlist row"

    pkg = tmp_path / "fakepkg"
    pkg.mkdir()
    (pkg / "dirty.py").write_text(
        '"""Docstring mentioning ln(x) — must NOT be flagged."""\n'
        "from pyspark.sql import functions as F\n"
        "# a comment with exp(y) — must NOT be flagged\n"
        'EXPR = "a + ln(b / c)"\n'
        "COL = F.log(2.0)\n"
    )
    (pkg / "clean.py").write_text(
        '"""exp(z) in a docstring only."""\nX = "floor(a * 1e6 + 0.5)"\n'
    )
    # r10 review: non-`F` spellings must be caught too
    (pkg / "aliased.py").write_text(
        "from pyspark.sql import functions as sf\n"
        "COL = sf.exp(1.0)\n"
    )
    (pkg / "qualified.py").write_text(
        "import pyspark.sql.functions\n"
        "COL = pyspark.sql.functions.pow(2.0, 3.0)\n"
    )
    (pkg / "fromimport.py").write_text(
        "from pyspark.sql.functions import log\n"
    )
    planted = float_audit.audit_sources(str(pkg))
    assert planted == {
        "fakepkg/dirty.py": ["F.log", "ln"],
        "fakepkg/aliased.py": ["F.exp"],
        "fakepkg/qualified.py": ["F.pow"],
        "fakepkg/fromimport.py": ["from-import of forbidden function"],
    }, planted
