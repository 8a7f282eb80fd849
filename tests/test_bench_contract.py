"""bench.py names and the driver contract must stay in sync with
__spark_entry__: every benched query name must resolve, every
queries() entry needs an oracle (or a documented rows-only exemption),
and no oracle's SQL changes unnoticed."""

import bench
import make_fixtures
import __spark_entry__ as entry


def test_bench_names_resolve():
    qs = entry.queries()
    missing = [n for n in bench.HEADLINE + bench.EXTENDED if n not in qs]
    assert not missing, missing


def test_every_query_has_an_oracle():
    qs, oracles = entry.queries(), entry.oracle_sql()
    # no rows-only queries left as of round 3 — keep it that way
    assert sorted(set(qs) - set(oracles)) == []
    stale = sorted(set(oracles) - set(qs))
    assert not stale, "oracle without query: %s" % stale


def test_oracle_sql_unchanged():
    """Every query's oracle SQL hashes to its line in
    tests/fixtures/oracle-sql.sha256.  Refresh the file with
    ``python tests/make_fixtures.py`` only when a query and its oracle
    change together."""
    diffs = make_fixtures.digest_diffs(
        make_fixtures.read_digest(make_fixtures.ORACLE_DIGEST_PATH),
        make_fixtures.oracle_digest())
    assert diffs == [], "oracle SQL drifted: %s" % diffs
