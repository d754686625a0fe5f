"""Registry-wide partition-count determinism sweep: run EVERY
registered query at two shuffle widths and compare full result sets.

What this catches that the DuckDB contract can't: a query whose
RESULT depends on Spark's physical partitioning — the classic case is
a top-k / LIMIT cutoff whose ORDER BY under-specifies ties, where the
row SET silently changes with the shuffle width (the oracle compare
would only catch it if the driver's width disagreed with ours AND the
tie landed on the cutoff). The bit-exact discipline (DECIMAL sums,
floor-form quantization, explicit tie-break keys) claims width
invariance for every query; this sweep enforces the claim registry-
wide instead of for the five aggregates test_partition_count_invariance
pins in-suite.

Usage:
    python tools/invariance_sweep.py            # sf0.001, widths 3/32
    INV_SF_DIR=... INV_WIDTHS=5,32 python tools/invariance_sweep.py
    INV_ONLY=name1,name2 ...                    # targeted (new queries)

Prints one JSON line {"checked": N, "skipped": [...], "failed": [...]};
exit 1 on failures. Streaming-shaped and audit-tier queries run too —
everything in the registry is a batch DataFrame by contract.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from elastic_freight_spark.session import get_spark  # noqa: E402

SF = os.environ.get("INV_SF_DIR", "/root/testdata/sf0.001")
WIDTHS = os.environ.get("INV_WIDTHS", "3,32").split(",")


def _key(rows):
    # order-insensitive, repr-stable: sort stringified tuples so float
    # NaN / Decimal / None all compare deterministically
    return sorted(tuple(map(repr, r)) for r in rows)


def main() -> None:
    spark = get_spark(
        app_name="invariance_sweep",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    from elastic_freight_spark import registry

    registry.load_all()
    failed, skipped = [], []
    names = list(registry.QUERIES)
    only = os.environ.get("INV_ONLY")
    if only:  # targeted re-check for newly added queries
        names = [n for n in names if n in set(only.split(","))]
    for i, name in enumerate(names):
        keys = []
        try:
            for w in WIDTHS:
                spark.conf.set("spark.sql.shuffle.partitions", w.strip())
                keys.append(_key(registry.QUERIES[name](spark, SF).collect()))
        except Exception as ex:
            skipped.append((name, f"{type(ex).__name__}: {ex}"[:120]))
            continue
        if any(k != keys[0] for k in keys[1:]):
            failed.append(name)
            print(f"[{i+1}/{len(names)}] {name}: WIDTH-DEPENDENT RESULT")
    print(
        json.dumps(
            {"checked": len(names), "widths": WIDTHS, "sf": SF,
             "failed": failed, "skipped": skipped}
        )
    )
    spark.stop()
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
