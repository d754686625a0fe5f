"""Fold a driver CORRECTNESS_r{N}.json into CORRECTNESS_LEDGER.md:
every hash-green (or rows-green for rows-only) query's row gets tag
rN; queries registered but missing from the ledger are appended as
`never` (hash) rows so rotate_priority sees them. Round-5's judge
finding was exactly this drift (3 missing rows, 23 stale `never`s) —
run this once per round, right after the driver writes the file:

    python tools/update_ledger.py CORRECTNESS_r06.json r6
"""
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# overridable for tests (tests/test_ledger_tools.py folds a fake
# results file into a COPY of the real ledger)
LEDGER = os.environ.get("EFS_LEDGER_PATH", os.path.join(REPO, "CORRECTNESS_LEDGER.md"))


def main() -> None:
    path, tag = sys.argv[1], sys.argv[2]
    assert re.fullmatch(r"r\d+", tag), "tag like r6"
    res = json.load(open(path))
    green = {
        q
        for q, v in res.items()
        if v.get("hash_match")
        or (v.get("err") == "no_oracle" and v.get("spark_rows", 0) > 0)
    }
    txt = open(LEDGER).read()
    updated = []

    def repl(m):
        q, oracle = m.group(1), m.group(2)
        if q in green and q != "query":
            updated.append(q)
            return f"| {q} | {oracle} | {tag} |"
        return m.group(0)

    txt = re.sub(r"^\| (\S+) \| (\S+) \| (\S+) \|$", repl, txt, flags=re.M)

    from elastic_freight_spark import registry

    registry.load_all()
    ledgered = set(
        re.findall(r"^\| (\S+) \| \S+ \| \S+ \|$", txt, flags=re.M)
    )
    if "\nTotals:" not in txt:
        sys.exit(
            "CORRECTNESS_LEDGER.md has no 'Totals:' paragraph — the tool "
            "anchors missing-row insertion and the tally rewrite on it. "
            "Restore the paragraph (starts with 'Totals:') and re-run."
        )
    missing = [q for q in registry.QUERIES if q not in ledgered]
    if missing:
        # insert before the Totals paragraph
        rows = "".join(
            f"| {q} | {'hash' if q in registry.ORACLE else 'rows-only'} | never |\n"
            for q in missing
        )
        i = txt.index("\nTotals:")
        txt = txt[: i + 1] + rows + txt[i + 1 :]

    # Recompute the Totals tally sentence from the table itself so the
    # counts can never drift from the rows (the drift class this tool
    # exists to prevent — flagged again by the round-6 advisor).
    pairs = re.findall(r"^\| \S+ \| (hash|rows-only) \| (\S+) \|$", txt, flags=re.M)
    pairs = [(o, t) for o, t in pairs if t != "last"]  # drop header-ish rows

    def _tally(kind):
        tags = [t for o, t in pairs if o == kind]
        order = {f"r{i}": i for i in range(1, 100)}
        order.update({"never": 998, "J3": 999})
        counts = {}
        for t in tags:
            counts[t] = counts.get(t, 0) + 1
        return ", ".join(
            f"{counts[t]} {t}" for t in sorted(counts, key=lambda x: order.get(x, 500))
        )

    n_hash = sum(1 for o, _ in pairs if o == "hash")
    n_rows = sum(1 for o, _ in pairs if o == "rows-only")
    tally = (
        f"Totals: {n_hash + n_rows} registered ({n_hash} hash-oracle, "
        f"{n_rows} rows-only) — hash rows: {_tally('hash')}; "
        f"rows-only rows: {_tally('rows-only')}."
    )
    # Replace only the first sentence of the Totals paragraph (up to the
    # first '.' followed by a space/newline); the prose after it is
    # per-round commentary maintained by hand.
    m = re.search(r"Totals:.*?\.(?=\s)", txt, flags=re.S)
    if m is None:
        sys.exit(
            "CORRECTNESS_LEDGER.md's 'Totals:' paragraph has no sentence "
            "terminator ('.' followed by whitespace) — the tally rewrite "
            "anchors on it. Restore the paragraph (first sentence ends "
            "with '. ') and re-run."
        )
    txt = txt[: m.start()] + tally + txt[m.end():]
    open(LEDGER, "w").write(txt)
    print(
        f"updated {len(updated)} rows to {tag}; appended {len(missing)} "
        f"missing as never; greens not in ledger: "
        f"{sorted(green - set(updated) - set(missing))}"
    )
    print(f"Totals recomputed: {tally}")


if __name__ == "__main__":
    main()
