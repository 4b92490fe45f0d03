"""Driver-contract tests for __spark_entry__.py: the three functions
the correctness harness calls, plus a build-check of every registered
query so a registration/column regression fails fast in pytest rather
than in the external gate."""

from __future__ import annotations

import pytest

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"l_returnflag", "sum_qty", "count_order"} <= set(df.columns)


def test_oracles_subset_of_queries():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 219  # inventory floor: don't silently lose queries
    # r4: the last 4 declared-weak entries (seeded ANN/dedup production
    # variants) gained planted-clone contract oracles — every registered
    # query is now oracle-backed. Keep it that way.
    weak = set(q) - set(o)
    assert weak == set()


@pytest.mark.slow  # >15 s; excluded from the default driver-window run
def test_every_query_builds(spark):
    """Every registered callable produces a DataFrame against sf0.001
    (plan construction catches missing columns/typos; execution is the
    oracle gate's job)."""
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF_DIR)
        assert df.columns, f"{name} produced no columns"


def test_registry_matches_survey_declaration():
    """SURVEY.md §2C is the judged contract: every backticked q_* name
    in the survey must be registered and vice versa — no silent drift
    in either direction."""
    import re

    survey = (REPO / "SURVEY.md").read_text()
    declared = set(re.findall(r"`(q_[a-z0-9_]+)`", survey))
    registered = set(entrymod.queries())
    assert registered - declared == set(), f"undeclared: {sorted(registered - declared)}"
    assert declared - registered == set(), f"unregistered: {sorted(declared - registered)}"


def test_registry_order_is_stable_and_fresh_first(tmp_path, monkeypatch):
    """Verdict r4 #8: the driver's bounded per-round sample reads a
    PREFIX of queries(), so _ordered() must (a) put never-driver-
    verified queries first, (b) be byte-stable across repeated calls,
    and (c) respond to a CORRECTNESS refresh only by MOVING newly
    verified names to the done group — never by reshuffling relative
    order within a group."""
    import json

    from octopufs_spark import registry

    order1 = list(entrymod.queries())
    order2 = list(entrymod.queries())
    assert order1 == order2  # deterministic across calls

    green, weak = registry._previously_verified()
    oracles = entrymod.oracle_sql()

    def is_done(n):
        # mirrors registry._ordered: a weak (no_oracle) pass only retires
        # a query that still has no oracle today (r5 ledger-closure bug).
        return n in green or (n in weak and n not in oracles)

    fresh = [n for n in order1 if not is_done(n)]
    done = [n for n in order1 if is_done(n)]
    assert order1 == fresh + done  # fresh-first, no interleaving

    # r5 verdict: the three ex-no_oracle queries carry full oracles and
    # were never driver-hash-verified — they must sit in the fresh prefix
    # until a green CORRECTNESS entry exists for them.
    for n in ("q_ext_ann_lsh", "q_ext_dedup_minhash", "q_ext_simhash"):
        if n not in green:
            assert n in fresh, f"{n} has an oracle but sorted into done"

    # simulate the next round verifying the first two fresh queries
    fake_root = tmp_path
    newly = fresh[:2]
    (fake_root / "CORRECTNESS_r99.json").write_text(
        json.dumps(
            {n: {"rows_match": True, "schema_match": True, "hash_match": True} for n in newly}
        )
    )
    # keep all real history too
    import glob as _glob
    import shutil

    for p in _glob.glob(str(REPO / "CORRECTNESS_r*.json")):
        shutil.copy(p, fake_root)
    monkeypatch.setenv("OCTOPUFS_REPO_ROOT", str(fake_root))
    refreshed = list(entrymod.queries())
    exp_fresh = [n for n in fresh if n not in newly]
    assert refreshed[: len(exp_fresh)] == exp_fresh  # survivors keep order
    assert set(refreshed[len(exp_fresh) :]) == set(done) | set(newly)
    # relative order inside the done group is also stable
    assert [n for n in refreshed if n in set(done)] == done


def test_fresh_query_budget_fits_one_driver_sample():
    """The driver hard-verifies a ~50-query prefix per round. The repo's
    working rule (NEXT.md): never let the never-driver-verified group
    grow past 50, or the ledger stops being closable in one round.
    This guard makes the rule mechanical — if it fails, STOP adding
    queries until a CORRECTNESS refresh drains the fresh group."""
    from octopufs_spark import registry

    green, weak = registry._previously_verified()
    oracles = entrymod.oracle_sql()
    fresh = [
        n
        for n in entrymod.queries()
        if not (n in green or (n in weak and n not in oracles))
    ]
    assert len(fresh) <= registry.DRIVER_SAMPLE, (
        f"{len(fresh)} never-driver-verified queries exceed one driver "
        f"sample; do not register more until the ledger drains"
    )


def test_no_stranded_sweep_only_queries():
    """The r5 ordering-bug class, made mechanical: every query without
    a counting green driver sample (rewritten implementations discount
    their pre-rewrite samples via REVERIFY_FROM_ROUND) must sit INSIDE
    the driver's sample prefix of queries() — otherwise the
    verification ledger can never close (unverified AND unsampleable).
    Uses the registry's own green-set computation and DRIVER_SAMPLE so
    this check can't drift from what the ledger tool enforces."""
    from octopufs_spark import registry

    ordered = list(entrymod.queries())
    prefix = set(ordered[: registry.DRIVER_SAMPLE])
    green, _weak = registry._previously_verified()
    stranded = [n for n in ordered if n not in green and n not in prefix]
    assert stranded == [], f"unverified queries outside the sample prefix: {stranded}"


def test_done_group_rotates_by_certification_age():
    """r7 verdict #2: with the ledger closed (zero fresh queries), the
    driver's bounded sample prefix would re-sample the same
    import-order first-50 forever. The done group therefore sorts
    ascending by last COUNTED driver round, turning the sample into a
    rolling re-certification of the stalest queries."""
    from octopufs_spark import registry

    green, weak, last_round = registry._scan_correctness()
    ordered = list(entrymod.queries())
    oracles = entrymod.oracle_sql()
    done = [n for n in ordered if n in green or (n in weak and n not in oracles)]
    rounds = [last_round.get(n, 0) for n in done]
    assert rounds == sorted(rounds), "done group not oldest-certification-first"
    # with the ledger closed, the prefix holds the stalest certifications
    if len(done) == len(ordered) and len(done) > registry.DRIVER_SAMPLE:
        assert max(rounds[: registry.DRIVER_SAMPLE]) <= min(rounds[registry.DRIVER_SAMPLE :])
