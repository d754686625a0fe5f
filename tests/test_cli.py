"""End-to-end tests of the CLI surface (the reference's esIndex job
submission ported to `python -m elastic_freight_spark`)."""

import json
import os

import pytest

from elastic_freight_spark.cli import main


@pytest.fixture()
def ldjson_input(tmp_path):
    p = tmp_path / "in"
    p.mkdir()
    rows = [
        {"doc_id": i, "user": f"u{i % 7}", "score": i * 1.5} for i in range(200)
    ]
    with open(p / "part-0.json", "w") as f:
        for r in rows[:120]:
            f.write(json.dumps(r) + "\n")
    with open(p / "part-1.json", "w") as f:
        for r in rows[120:]:
            f.write(json.dumps(r) + "\n")
        f.write("\n")              # blank: silently skipped
        f.write("{not json}\n")   # malformed: quarantined
    schema = tmp_path / "schema.ddl"
    schema.write_text("doc_id BIGINT, user STRING, score DOUBLE")
    return str(p), str(schema)


def test_cli_es_index_roundtrip(spark, ldjson_input, tmp_path, capsys):
    src, schema = ldjson_input
    out = str(tmp_path / "idx")
    quarantine = str(tmp_path / "bad")
    rc = main(
        [
            "esIndex",
            os.path.join(src, "part-*.json"),
            out,
            "cli_idx",
            schema,
            "4",
            "doc_id",
            "--bulk-batch-size",
            "20000",
            "--quarantine",
            quarantine,
        ]
    )
    assert rc == 0
    manifest = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert manifest["index"] == "cli_idx"
    assert manifest["num_shards"] == 4
    assert manifest["ingest_stats"]["good"] == 200
    assert manifest["ingest_stats"]["corrupt"] == 1
    assert manifest["reference_advisory_params"] == {"bulk_batch_size": 20000}
    # the built index reads back complete, every row routed to a shard
    idx_dir = manifest["path"]
    df = spark.read.parquet(idx_dir)
    assert df.count() == 200
    assert df.select("shard").distinct().count() == 4
    # quarantine holds exactly the malformed line
    badf = spark.read.parquet(quarantine)
    assert badf.count() == 1

    # manifest subcommand round-trips
    rc = main(["manifest", idx_dir])
    assert rc == 0
    printed = json.loads(capsys.readouterr().out.strip())
    assert printed["index"] == "cli_idx"
    assert printed["ingest_stats"]["good"] == 200


def test_cli_query_runs_and_lists(capsys):
    rc = main(["query", "list"])
    assert rc == 0
    names = capsys.readouterr().out.strip().splitlines()
    assert "q1_pricing_summary" in names

    rc = main(
        [
            "query",
            "q1_pricing_summary",
            "--sf-dir",
            "/root/testdata/sf0.001",
            "--limit",
            "5",
        ]
    )
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert 1 <= len(lines) <= 5
    assert "l_returnflag" in json.loads(lines[0])

    rc = main(["query", "no_such_query"])
    assert rc == 2


def test_cli_works_from_foreign_cwd(tmp_path):
    """The CLI must not depend on the repo root being the cwd: `query
    list` goes through the package registry, not the repo-root
    __spark_entry__ harness."""
    import subprocess
    import sys

    env = dict(os.environ, PYTHONPATH=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out = subprocess.run(
        [sys.executable, "-m", "elastic_freight_spark", "query", "list"],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-500:]
    assert "q1_pricing_summary" in out.stdout.splitlines()
