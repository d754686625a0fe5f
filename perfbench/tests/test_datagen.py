"""The generators are deterministic and know their own counts."""

import hashlib
import os

import datagen


def _digest(path):
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_same_seed_same_files(tmp_path):
    for name in ("a", "b"):
        datagen.write_corpus(str(tmp_path / name / "corpus"), 5, 2_000)
        datagen.write_tables(str(tmp_path / name / "tables"), 5)
    assert _digest(tmp_path / "a" / "corpus") == _digest(tmp_path / "b" / "corpus")
    assert _digest(tmp_path / "a" / "tables") == _digest(tmp_path / "b" / "tables")
    datagen.write_corpus(str(tmp_path / "c"), 6, 2_000)
    assert _digest(tmp_path / "c") != _digest(tmp_path / "a" / "corpus")


def test_corpus_counts_match_the_lines_written(tmp_path):
    counts = datagen.write_corpus(str(tmp_path), 3, 5_000)
    lines = []
    for name in sorted(os.listdir(tmp_path)):
        with open(tmp_path / name) as fh:
            lines.extend(fh.read().split("\n")[:-1])
    assert len(lines) == counts.lines == 5_000
    assert sum(1 for l in lines if l == "") == counts.blank > 0
    assert sum(1 for l in lines if '"doc_id": null' in l) == counts.null_id > 0
    assert counts.malformed > 0
    assert counts.good + counts.malformed + counts.blank == counts.lines
    assert len(set(counts.doc_ids)) == len(counts.doc_ids) == counts.indexed
    assert sum(len(l) + 1 for l in lines) == counts.bytes


def test_ingest_stats_agrees_with_generator(spark, tmp_path):
    from elastic_freight_spark.sources.json_source import ingest_stats, read_json_lines

    counts = datagen.write_corpus(str(tmp_path), 9, 3_000)
    stats = ingest_stats(read_json_lines(spark, str(tmp_path), datagen.CORPUS_SCHEMA_DDL))
    assert stats == {
        "total": counts.lines,
        "good": counts.good,
        "corrupt": counts.malformed,
        "blank": counts.blank,
    }


def test_serve_model_tracks_rows_per_id():
    ids = [f"id{i}" for i in range(1_000)]
    model = datagen.ServeModel(1, ids)
    written = dict.fromkeys(ids, 1)
    kinds, absent = [], 0
    for _ in range(100):
        op = model.next_op()
        kinds.append(op.kind)
        if op.kind == "lookup":
            assert op.expected == written.get(op.doc_id, 0)
            absent += op.doc_id not in written
        else:
            assert len({r["doc_id"] for r in op.rows}) == len(op.rows) == datagen.BATCH_SIZE
            for r in op.rows:
                written[r["doc_id"]] += 1
    cycle = datagen.LOOKUPS_PER_WRITE + 1
    assert kinds[0] == kinds[cycle] == "upsert"
    assert kinds[(datagen.DELETE_EVERY - 1) * cycle] == "delete"
    assert absent > 0 and any(e > 1 for e in written.values())
