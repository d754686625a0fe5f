"""Growth receipts for the index-lifecycle + streaming-T1 paths that
aren't registry queries (round-6 verdict item 5): time
``reshard_index`` (8→16), ``diff_indexes`` (rebuild diff), and the
``stream_index`` micro-batch ingest at a given SF dir. Run once at
sf0.1 and once at the 10x replica (fresh process per dir, the
tools/time_queries.py discipline):

    python tools/time_lifecycle.py /root/testdata/sf0.1
    python tools/time_lifecycle.py /tmp/sf1x10

Prints one JSON line {"sf_dir": ..., "n_events": ..., "timings": {...}}.
"""
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from elastic_freight_spark.session import get_spark, load_tables


def main() -> None:
    sf_dir = sys.argv[1]
    spark = get_spark(
        app_name="time_lifecycle",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    from elastic_freight_spark.indexer import (
        IndexConfig,
        build_index,
        diff_indexes,
        reshard_index,
    )
    from elastic_freight_spark.streaming.structured import stream_index

    events = load_tables(spark, sf_dir)["events"]
    n_events = events.count()  # warms session + file listing
    base = tempfile.mkdtemp(prefix="efs_lifecycle_")
    timings: dict[str, float] = {}
    try:
        # baseline: full 8-shard build (context for the ratios below)
        t0 = time.perf_counter()
        build_index(
            events,
            IndexConfig(
                index_name="idx_a",
                doc_id_col="event_id",
                num_shards=8,
                output_path=base,
            ),
        )
        timings["build_index_8"] = round(time.perf_counter() - t0, 2)

        # a perturbed rebuild: ~1% of docs removed, value rewritten on
        # ~10% — gives diff_indexes real added/removed/changed work
        perturbed = events.filter(F.col("event_id") % 100 != 0).withColumn(
            "value",
            F.when(F.col("event_id") % 10 == 0, F.col("value") * 2).otherwise(
                F.col("value")
            ),
        )
        build_index(
            perturbed,
            IndexConfig(
                index_name="idx_b",
                doc_id_col="event_id",
                num_shards=8,
                output_path=base,
            ),
        )

        t0 = time.perf_counter()
        d = diff_indexes(
            spark,
            os.path.join(base, "idx_a"),
            os.path.join(base, "idx_b"),
            compare_cols=["value"],
        )
        timings["diff_indexes"] = round(time.perf_counter() - t0, 2)
        assert d["n_removed"] > 0 and d["n_changed"] > 0, d

        t0 = time.perf_counter()
        m = reshard_index(spark, os.path.join(base, "idx_a"), 16)
        timings["reshard_8_to_16"] = round(time.perf_counter() - t0, 2)
        assert m["num_shards"] == 16

        # T1 micro-batch ingest: the events table re-staged as ~10
        # single-file chunks, availableNow with maxFilesPerTrigger=1 —
        # each micro-batch runs the full shard→repartition→append plan
        src = os.path.join(base, "stream_src")
        events.repartition(10).write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        t0 = time.perf_counter()
        q = stream_index(
            stream,
            IndexConfig(
                index_name="idx_stream",
                doc_id_col="event_id",
                num_shards=8,
                output_path=base,
            ),
            checkpoint_dir=os.path.join(base, "ckpt"),
            available_now=True,
        )
        finished = q.awaitTermination(1800)
        if not finished:
            q.stop()
            raise AssertionError("stream_index timed out after 1800 s")
        timings["stream_index_10_batches"] = round(time.perf_counter() - t0, 2)
        ingested = spark.read.parquet(os.path.join(base, "idx_stream")).count()
        assert ingested == n_events, (ingested, n_events)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    spark.stop()
    print(json.dumps({"sf_dir": sf_dir, "n_events": n_events, "timings": timings}))


if __name__ == "__main__":
    main()
