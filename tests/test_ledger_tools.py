"""Pins for tools/update_ledger.py (the per-round ledger fold): green
rows retagged, non-green rows untouched, Totals tallies recomputed
from the table itself, loud failure when the Totals anchor is gone,
and idempotence. Runs the CLI the way the round workflow does, against
a COPY of the real ledger (EFS_LEDGER_PATH override)."""
import json
import os
import re
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "update_ledger.py")
REAL = os.path.join(REPO, "CORRECTNESS_LEDGER.md")


def _rows(txt):
    return {
        q: (oracle, tag)
        for q, oracle, tag in re.findall(
            r"^\| (\S+) \| (\S+) \| (\S+) \|$", txt, flags=re.M
        )
        if q != "query"
    }


def _run(ledger_path, results_path, tag):
    return subprocess.run(
        [sys.executable, TOOL, results_path, tag],
        env={**os.environ, "EFS_LEDGER_PATH": ledger_path},
        capture_output=True,
        text=True,
    )


def _fixture(tmp_path):
    ledger = str(tmp_path / "ledger.md")
    shutil.copy(REAL, ledger)
    rows = _rows(open(ledger).read())
    hash_qs = [q for q, (o, _) in rows.items() if o == "hash"][:2]
    rowsonly_q = next(q for q, (o, _) in rows.items() if o == "rows-only")
    miss_q = [q for q, (o, _) in rows.items() if o == "hash"][2]
    results = {
        hash_qs[0]: {"hash_match": True, "spark_rows": 5, "err": None},
        hash_qs[1]: {"hash_match": True, "spark_rows": 9, "err": None},
        rowsonly_q: {"hash_match": False, "spark_rows": 3, "err": "no_oracle"},
        miss_q: {"hash_match": False, "spark_rows": 0, "err": "ERROR boom"},
    }
    rp = str(tmp_path / "CORRECTNESS_r99.json")
    json.dump(results, open(rp, "w"))
    return ledger, rp, hash_qs, rowsonly_q, miss_q


def test_fold_retags_green_and_recomputes_totals(tmp_path):
    ledger, rp, hash_qs, rowsonly_q, miss_q = _fixture(tmp_path)
    before = _rows(open(ledger).read())
    r = _run(ledger, rp, "r99")
    assert r.returncode == 0, r.stderr
    txt = open(ledger).read()
    after = _rows(txt)
    for q in hash_qs:
        assert after[q] == ("hash", "r99")
    assert after[rowsonly_q] == ("rows-only", "r99")
    assert after[miss_q] == before[miss_q]  # non-green untouched
    # Totals recomputed from the table: 2 hash r99 + 1 rows-only r99
    total_line = re.search(r"Totals:.*?\.(?=\s)", txt, flags=re.S).group(0)
    assert "2 r99" in total_line and "1 r99" in total_line
    n_hash = sum(1 for o, _ in after.values() if o == "hash")
    n_rows = sum(1 for o, _ in after.values() if o == "rows-only")
    assert f"{n_hash + n_rows} registered ({n_hash} hash-oracle" in total_line


def test_fold_is_idempotent(tmp_path):
    ledger, rp, *_ = _fixture(tmp_path)
    assert _run(ledger, rp, "r99").returncode == 0
    once = open(ledger).read()
    assert _run(ledger, rp, "r99").returncode == 0
    assert open(ledger).read() == once


def test_missing_totals_anchor_fails_loudly(tmp_path):
    ledger, rp, *_ = _fixture(tmp_path)
    txt = open(ledger).read()
    open(ledger, "w").write(txt.replace("Totals:", "Summary:"))
    r = _run(ledger, rp, "r99")
    assert r.returncode != 0
    assert "Totals" in (r.stderr + r.stdout)
    # and the ledger was NOT half-written
    assert "r99" not in open(ledger).read()
