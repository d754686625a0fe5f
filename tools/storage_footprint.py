"""Measure the persisted-storage footprint of the serve-many caches.

Round-12 instrumentation for the r11 verdict's open question: the
driver's r11 bench total regressed 11% with a flat CPU canary, and one
candidate cause was the ~12 new `.persist()` frames squeezing
execution memory in the single local JVM. This tool runs bench.py's
exact warm pre-pass (``session.warm_per_corpus``) plus the learned-PQ
build it leaves out, then dumps each cached RDD's name, partition
count and memory/disk size from `sc.getRDDStorageInfo()`, plus the storage-memory ceiling, so the
"storage pressure" hypothesis is a number instead of a guess.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/storage_footprint.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from elastic_freight_spark.session import get_spark, load_tables, warm_per_corpus

    spark = get_spark(
        app_name="efs_storage_footprint",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    load_tables(spark, sf_dir)["lineitem"].count()

    # every serve-many cache build: the bench warm pass plus the
    # learned-PQ chain it leaves out (this tool measures the full
    # persisted footprint a whole-registry session can reach, not just
    # what the bench charges)
    from elastic_freight_spark.operators import vectors

    warm_per_corpus(spark, sf_dir)
    vectors._pq_coded(spark, sf_dir).count()

    jsc = spark.sparkContext._jsc.sc()
    infos = jsc.getRDDStorageInfo()
    total_mem = 0
    total_disk = 0
    rows = []
    for info in infos:
        mem = info.memSize()
        disk = info.diskSize()
        total_mem += mem
        total_disk += disk
        rows.append(
            (
                mem,
                disk,
                info.numCachedPartitions(),
                info.numPartitions(),
                info.name(),
            )
        )
    rows.sort(reverse=True)
    print(f"{'mem_mb':>10} {'disk_mb':>8} {'cached/parts':>13}  name")
    for mem, disk, ncached, nparts, name in rows:
        print(
            f"{mem / 1048576:>10.2f} {disk / 1048576:>8.2f} "
            f"{ncached:>6}/{nparts:<6}  {name}"
        )
    print(
        f"TOTAL persisted: {total_mem / 1048576:.1f} MiB mem, "
        f"{total_disk / 1048576:.1f} MiB disk across {len(rows)} RDDs"
    )
    # storage ceiling: unified region = (heap - 300MB) * memory.fraction;
    # storage can use all of it (evicting execution down to
    # memory.storageFraction's protected half)
    try:
        maxmem = (
            jsc.getExecutorMemoryStatus().values().head()._1()
        )  # py4j: Map[BlockManagerId, (maxMem, remaining)]
        print(f"block-manager max storage memory: {maxmem / 1048576:.1f} MiB")
    except Exception as ex:  # diagnostic only
        print(f"(max-memory probe unavailable: {ex})")
    spark.stop()


if __name__ == "__main__":
    main()
