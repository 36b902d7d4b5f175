"""Key-shifted replica synthesis: build an N-times larger, join-
consistent copy of a testdata directory for scale testing.

Join keys (orderkey, custkey, suppkey, user/doc/vec ids) are offset
per copy so joins keep their selectivity and dedup operators find
real (planted) cross-copy duplicates; pure dimension tables (nation,
region) are kept as-is so FK arity is preserved. This is the
machinery behind the scaling phases of bench.py (5 and 5b at 10x;
6, 6b and 6c at 100x; 5b, 6, 6b and 6c over single-table replicas
with perturbed text or embeddings) and behind scripts/bench_scale.py;
both time their entries over it with ``bench.timed``.

Scale note: the replica is built with unionByName of column-shifted
scans — no shuffle, no driver materialization; the write is the only
cost. At 100 TB you would point the bench at a real larger SF
instead, but the key-shift trick is also how one fabricates
worst-case skew/fan-out datasets from a small seed.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from real_time_fraud_detection_lakehouse_spark.core.catalog import TESTDATA_TABLES, table

#: per-table key columns to offset per copy (keeps joins consistent)
KEY_SHIFTS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "nation": [],  # dims: kept as-is (copies would break FK arity)
    "region": [],
}


def build_replica(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    copies: int = 10,
    tables: tuple[str, ...] | None = None,
    perturb_text: bool = False,
    perturb_embeddings: bool = False,
) -> None:
    """Write a ``copies``-times key-shifted replica of ``sf_dir`` to
    ``out_dir`` (one parquet dir per table, same layout as testdata).
    ``tables`` restricts the build (e.g. documents-only for the 100x
    dedup block).

    ``perturb_text``: tag every token of each documents copy with a
    copy marker. Default (False) leaves text identical across copies,
    so every copy is a planted near-dup of its original — at high copy
    counts that makes candidate PAIRS grow quadratically (a ~100%-dup
    corpus), which stress-tests dedup but does not model corpus
    growth. Token-level marking preserves dup structure WITHIN each
    copy (two near-dups stay near-dups: their marked shingle sets
    still overlap) while cross-copy shingle overlap drops to zero, so
    pairs grow linearly with corpus size — the honest 100x-growth
    shape. (A single prefix token is NOT enough: all but the first
    few shingles survive, keeping cross-copy Jaccard near 1.)"""
    for name in tables or TESTDATA_TABLES:
        src = table(spark, sf_dir, name)
        shifts = KEY_SHIFTS.get(name, [])
        if not shifts:
            df = src
        else:
            offsets = {c: src.agg(F.max(c)).first()[0] + 1 for c in shifts}
            parts = []
            for i in range(copies):
                c = src
                for col, off in offsets.items():
                    c = c.withColumn(col, F.col(col) + F.lit(i * off))
                if perturb_embeddings and name == "embeddings" and i > 0:
                    # per-copy cyclic DIMENSION shift (+ sign flip once
                    # the shifts wrap): within-copy cosine structure is
                    # EXACTLY preserved (one rotation applied uniformly
                    # commutes with the dot product), while cross-copy
                    # cosine drops to random-pair level because the
                    # dimensions are independent — so a scaled corpus
                    # models 10x NEW data, not 10x planted duplicates
                    # (identical copies would make within-cluster pairs
                    # quadratic in copies, the same trap as the
                    # unperturbed 100x text replica).
                    shift = (i * 4) % 64
                    sign = -1.0 if (i * 4) // 64 % 2 else 1.0
                    v = F.col("embedding")
                    rotated = F.concat(
                        F.slice(v, shift + 1, 64 - shift), F.slice(v, 1, shift)
                    )
                    c = c.withColumn(
                        "embedding",
                        F.transform(rotated, lambda x: (x * F.lit(sign)).cast("float")),
                    )
                if perturb_text and name == "documents" and i > 0:
                    # closure factory, NOT a default-arg lambda: a
                    # two-parameter transform lambda gets (element,
                    # INDEX), so ``lambda x, i=i`` bound i to the index
                    # Column and every copy received the IDENTICAL
                    # stringified-Column prefix — copies 1..N were
                    # exact duplicates of each other, which made the
                    # 100x dedup replica quadratic in copies (the r5
                    # 49.95x scaling artifact)
                    prefix = f"c{i}."
                    def _prefixer(p: str):
                        return lambda x: F.concat(F.lit(p), x)

                    marked = F.transform(
                        F.split(F.col("text"), " "), _prefixer(prefix)
                    )
                    c = c.withColumn("text", F.array_join(marked, " "))
                parts.append(c)
            df = parts[0]
            for c in parts[1:]:
                df = df.unionByName(c)
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))
