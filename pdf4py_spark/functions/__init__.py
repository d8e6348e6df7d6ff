"""Catalyst column-expression helpers for the extraction pipeline.

Everything here is a pure Spark SQL expression — no UDFs — so routing,
salting, and resume keys stay JVM-side inside WholeStageCodegen and remain
visible to the optimizer (predicate pushdown / pruning).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: number of resume buckets; stable across runs (keyed off url, never off
#: Spark partition ids, which are scheduling-dependent)
DEFAULT_RESUME_BUCKETS = 64


def dispatch_kind(payload: Column = None) -> Column:
    """'pdf' when the payload starts with %PDF-, else 'html'.

    MUST stay in lockstep with kernel.extract.sniff_kind. Pure expression:
    the router never leaves the JVM (SURVEY.md §2.3 D3).
    """
    payload = F.col("html") if payload is None else payload
    return F.when(
        F.substring(payload, 1, 5) == F.lit(b"%PDF-"), F.lit("pdf")
    ).otherwise(F.lit("html"))


def size_bucket(payload: Column = None) -> Column:
    """log2 byte-size bucket, one of balanced_repartition's two hash keys.
    Hashed together with the per-url salt it does not co-locate docs of
    similar size: every doc lands in an effectively random partition, so
    the heavy tail (SURVEY.md §2.3 D5 — measured 77% of parse time in
    3/22 docs) spreads across partitions instead of clustering."""
    payload = F.col("html") if payload is None else payload
    return F.ceil(F.log2(F.octet_length(payload) + F.lit(1))).cast("int")


def url_salt(buckets: int = 1 << 20) -> Column:
    """Deterministic per-url salt used to spread each size bucket across
    output partitions."""
    return F.pmod(F.xxhash64(F.col("url")), F.lit(buckets))


def resume_key(n_buckets: int = DEFAULT_RESUME_BUCKETS) -> Column:
    """Stable checkpoint bucket for the processed-partition manifest."""
    return F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")


def balanced_repartition(df, num_partitions: int):
    """Skew-aware shuffle: hash-partition on (size_bucket, salt). Salting
    by url spreads the per-size clusters uniformly; hashing (instead of
    range partitioning) avoids the extra full-input sampling scan that
    RangePartitioner needs to compute bounds — a pure constant cost at
    any cluster size. The single shuffle in the extraction plan; worker
    memory stays bounded by the Arrow record cap (32 rows/batch), not by
    partition composition."""
    return (
        df.withColumn("_size_bucket", size_bucket())
          .withColumn("_salt", url_salt())
          .repartition(num_partitions, F.col("_size_bucket"), F.col("_salt"))
          .drop("_size_bucket", "_salt")
    )


def assert_no_per_row_python(df):
    """CI guard: the physical plan must batch through Arrow (MapInArrow
    from plans.pipeline.map_rows / ArrowEvalPython) and never fall back
    to row-at-a-time Python (BatchEvalPython). See SURVEY.md §7.3."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "BatchEvalPython" in plan:
        raise AssertionError(
            "per-row Python detected in physical plan:\n" + plan)
    return df
