"""Print the next round's registry._PRIORITY candidate list: the 50
hash-oracle registered queries whose last driver-green round (per
CORRECTNESS_LEDGER.md) is oldest, never-checked first.

Rows-only queries (not in registry.ORACLE) are EXCLUDED from the
window — the driver can only record a `no_oracle` err row for them,
which burns one of the 50 budget slots for a guaranteed non-green
result (round-4 judge finding). Their correctness evidence is their
pinning unit tests.

Round-N workflow: after CORRECTNESS_r{N-1}.json lands, fold it into
the ledger with `python tools/update_ledger.py CORRECTNESS_r{N-1}.json
r{N-1}` (a rows-only->hash oracle promotion still resets its row to
`never` by hand), refresh the Totals paragraph, run this, paste the
list into registry._PRIORITY. Do NOT rotate mid-round.
"""
import re
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ORDER = {"never": -1, "J3": -1}


def age_key(tag: str) -> float:
    if tag in ORDER:
        return ORDER[tag]
    m = re.match(r"r(\d+)$", tag)
    return float(m.group(1)) if m else -1


def main() -> None:
    from elastic_freight_spark import registry

    registry.load_all()
    rows = re.findall(
        r"^\| (\S+) \| (\S+) \| (\S+) \|",
        open(os.path.join(REPO, "CORRECTNESS_LEDGER.md")).read(),
        flags=re.M,
    )
    ledger = {q: tag for q, _, tag in rows if q != "query"}
    missing = [q for q in registry.QUERIES if q not in ledger]
    stale = [q for q in ledger if q not in registry.QUERIES]
    if missing:
        print(f"# WARNING: not in ledger (treated as never-checked): {missing}")
    if stale:
        print(f"# WARNING: ledger rows for unregistered queries: {stale}")
    eligible = [q for q in registry.QUERIES if q in registry.ORACLE]
    skipped = [q for q in registry.QUERIES if q not in registry.ORACLE]
    print(f"# rows-only excluded from window ({len(skipped)}): {skipped}")
    ranked = sorted(
        eligible,
        key=lambda q: (age_key(ledger.get(q, "never")), q),
    )
    print("_PRIORITY = (")
    for q in ranked[:50]:
        print(f'    "{q}",  # last green: {ledger.get(q, "never")}')
    print(")")


if __name__ == "__main__":
    main()
