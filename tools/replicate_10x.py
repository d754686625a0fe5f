"""One-off: replicate sf0.1 facts Nx with offset keys into /tmp/sf1x{N}
(N = $REPLICATE_COPIES, default 10; round-4 100x receipts used N=100).
Dims (region/nation/customer/supplier/part) copied unchanged; fact FKs
to dims stay in-range; fact PKs/join-keys offset per copy.

REPLICATE_SALT=1 (round 9): additionally give every document COPY a
DISTINCT character permutation (letters rotated by i%26, digits by
i%10 — coprime periods, so all copies < lcm(26,10)=130 get distinct
maps and essentially disjoint shingle sets). The plain replica keeps
text byte-identical across copies, which manufactures a corpus where
EVERY document has N exact twins — true near-dup pair count inflates
N², and exact-pair queries (threshold sensitivity, LSH verify,
calibration audits) are Ω(true pairs) by problem statement, not by
plan. The salted replica scales VOLUME 100x at realistic duplicate
density so the text-dedup tier's oracles can run at 100x; copy 0 is
the identity map, so the original corpus survives verbatim."""
import os, sys, shutil
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import functions as F

COPIES = int(os.environ.get("REPLICATE_COPIES", "10"))
SALT = os.environ.get("REPLICATE_SALT") == "1"
OUT = os.environ.get(
    "REPLICATE_OUT", f"/tmp/sf1x{COPIES}" + ("s" if SALT else "")
)
SRC = "/root/testdata/sf0.1"

LETTERS = "abcdefghijklmnopqrstuvwxyz"
UPPERS = LETTERS.upper()
DIGITS = "0123456789"


def salt_text(e, i):
    # Rotate UPPERCASE with the same shift as lowercase: the shingler
    # (_SHINGLE_SQL) lowercases raw text BEFORE shingling, so an
    # un-rotated 'Q' in copy i would lower to the same 'q' in every
    # copy and leak shared shingles across copies — under-delivering
    # the "essentially disjoint shingle sets" the salted replica
    # promises (round-9 advice).
    rl = LETTERS[i % 26 :] + LETTERS[: i % 26]
    ru = UPPERS[i % 26 :] + UPPERS[: i % 26]
    rd = DIGITS[i % 10 :] + DIGITS[: i % 10]
    return e.withColumn(
        "text",
        F.translate(
            F.translate(F.translate("text", LETTERS, rl), UPPERS, ru),
            DIGITS, rd,
        ),
    )


def rep(df, offsets, transform=None):  # offsets: {col: stride}
    parts = []
    for i in range(COPIES):
        e = df
        for c, stride in offsets.items():
            e = e.withColumn(c, (F.col(c) + F.lit(i * stride)).cast(df.schema[c].dataType))
        if transform is not None:
            e = transform(e, i)
        parts.append(e)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def main():
    # import-time side effects moved here (round 10) so tests can
    # import salt_text without triggering a replica build
    from elastic_freight_spark.session import get_spark, load_tables

    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    spark = get_spark(app_name=f"make{COPIES}x",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    t = load_tables(spark, SRC)

    for d in ["region", "nation", "customer", "supplier", "part"]:
        t[d].write.parquet(os.path.join(OUT, f"{d}.parquet"))

    rep(t["orders"], {"o_orderkey": 100_000_000}).write.parquet(OUT + "/orders.parquet")
    rep(t["lineitem"], {"l_orderkey": 100_000_000}).write.parquet(OUT + "/lineitem.parquet")
    rep(t["events"], {"event_id": 100_000_000, "user_id": 1_000_000}).write.parquet(OUT + "/events.parquet")
    rep(t["documents"], {"doc_id": 10_000_000},
        transform=salt_text if SALT else None).write.parquet(OUT + "/documents.parquet")
    rep(t["embeddings"], {"vec_id": 10_000_000}).write.parquet(OUT + "/embeddings.parquet")
    for f in sorted(os.listdir(OUT)):
        print(f)
    spark.stop()


if __name__ == "__main__":
    main()
