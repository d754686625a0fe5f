"""Drift guards for the driver's 50-slot correctness window
(registry._PRIORITY): every slot must be a registered HASH-ORACLE
query (a rows-only or unknown name burns a slot on a guaranteed
non-green row — the round-4 judge finding), the window must be full,
and the registry must actually serve it front-to-back. No Spark."""
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from elastic_freight_spark import registry

registry.load_all()


def test_priority_is_full_and_unique():
    assert len(registry._PRIORITY) == 50
    assert len(set(registry._PRIORITY)) == 50


def test_priority_entries_are_registered_hash_oracle_queries():
    for name in registry._PRIORITY:
        assert name in registry.QUERIES, f"unregistered: {name}"
        assert name in registry.ORACLE, f"rows-only in window: {name}"


def test_registry_order_puts_priority_first():
    names = list(registry.QUERIES)
    assert names[:50] == [n for n in registry._PRIORITY if n in registry.QUERIES]


def test_ledger_covers_registry_and_vice_versa():
    """The rotation tooling ranks by CORRECTNESS_LEDGER.md age — a
    registry/ledger mismatch silently mis-ranks the window."""
    import re

    txt = open(os.path.join(REPO, "CORRECTNESS_LEDGER.md")).read()
    ledger = {
        q
        for q, _, _ in re.findall(
            r"^\| (\S+) \| (\S+) \| (\S+) \|$", txt, flags=re.M
        )
        if q != "query"
    }
    missing = set(registry.QUERIES) - ledger
    stale = ledger - set(registry.QUERIES)
    assert not missing, f"registered but unledgered: {sorted(missing)}"
    assert not stale, f"ledgered but unregistered: {sorted(stale)}"
