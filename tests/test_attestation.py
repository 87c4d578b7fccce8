"""Suite-attestation keys (attest_*): registry sync + value gate.

The heavyweight validation — every attest key's Spark output matching
its generated DuckDB oracle — runs in the full local gate
(tests/run_oracle_gate.py), which now includes the attest keys like
any other.  This file pins the cheap structural contracts plus one
representative value-gate round trip so drift fails fast:

* every registered non-attest key appears in exactly one group;
* groups and CHECKSUM_KEYS refer only to registered keys (a deleted
  member fails here until the generator is re-run);
* attest keys are a PREFIX of the registry (the driver samples the
  first ~50 keys — prefix position is the whole point), and they fit
  inside that sample with a stated margin;
* one mixed group (checksummed + count-only members) matches its
  DuckDB twin at sf0.001 via the same rows/schema/values discipline
  as the driver.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from llm_scraper_spark.operators import attest_gen

SF = "/root/testdata/sf0.001"


def test_groups_cover_registry_exactly_once():
    qs = entry.queries()
    members = [k for ms in attest_gen.GROUPS.values() for k in ms]
    non_attest = {k for k in qs if not k.startswith("attest_")}
    assert len(members) == len(set(members)), "duplicated member"
    missing = sorted(non_attest - set(members))
    stale = sorted(set(members) - non_attest)
    assert not missing, f"unattested keys (re-run gen_attestation): {missing}"
    assert not stale, f"stale members (re-run gen_attestation): {stale}"
    assert attest_gen.CHECKSUM_KEYS <= set(members)


def test_attest_keys_lead_the_registry_prefix():
    keys = list(entry.queries())
    n = len(attest_gen.GROUPS)
    assert set(keys[:n]) == set(attest_gen.GROUPS), (
        "attest keys must be the registration prefix the driver samples"
    )
    assert set(attest_gen.GROUPS) <= set(entry.oracle_sql())


#: the driver's correctness run samples the first ~50 registered keys
DRIVER_SAMPLE_KEYS = 50
#: slack for the sample's "~": the attest prefix must fit even if the
#: sample is this many keys shorter (COVERAGE.md)
SAMPLE_MARGIN = 4


def test_attest_keys_fit_the_driver_sample():
    n = len(attest_gen.GROUPS)
    assert n + SAMPLE_MARGIN <= DRIVER_SAMPLE_KEYS, (
        f"{n} attest keys + {SAMPLE_MARGIN} margin exceed the driver's "
        f"{DRIVER_SAMPLE_KEYS}-key sample: merge attest groups"
    )


def test_one_group_matches_oracle(spark):
    from tests.oracle_check import assert_matches

    qs = entry.queries()
    sqls = entry.oracle_sql()
    # a group mixing checksummed and count-only members exercises both
    # canonicalization branches; fall back to any group containing a
    # count-only member, else the first group
    target = None
    count_only = set()
    for g, ms in attest_gen.GROUPS.items():
        co = [m for m in ms if m not in attest_gen.CHECKSUM_KEYS]
        if co and len(co) < len(ms):
            target = g
            count_only = set(co)
            break
    if target is None:
        target = next(iter(attest_gen.GROUPS))
    df = qs[target](spark, SF)
    assert_matches(df, sqls[target], SF, name=target)
    got = {r["key"]: r for r in df.collect()}
    for m in attest_gen.GROUPS[target]:
        assert (got[m]["checksum"] is None) == (m in count_only)


@pytest.mark.parametrize("value,expect_kind", [
    (None, "sentinel"),
    (float("nan"), "nan"),
    (float("inf"), "inf"),
])
def test_float_canonicalization_edges(spark, value, expect_kind):
    """The float canonical expression agrees between engines on the
    edge values (NULL / NaN / inf) — checked by value, both dialects."""
    import duckdb

    from llm_scraper_spark.operators.attest import attest_exprs

    canon, agg = attest_exprs("spark", [("x", "float")], True)
    row = (
        spark.createDataFrame([(value,)], "x double")
        .selectExpr(canon)
        .selectExpr("COUNT(*) AS n", f"{agg} AS checksum")
        .collect()[0]
    )
    canon_d, agg_d = attest_exprs("duck", [("x", "float")], True)
    lit = {
        "sentinel": "NULL",
        "nan": "'nan'::DOUBLE",
        "inf": "'inf'::DOUBLE",
    }[expect_kind]
    want = duckdb.connect().execute(
        f"SELECT COUNT(*) AS n, {agg_d} AS checksum "
        f"FROM (SELECT {canon_d} FROM (SELECT {lit} AS x) _m) _c"
    ).fetchone()
    assert (row["n"], row["checksum"]) == want
