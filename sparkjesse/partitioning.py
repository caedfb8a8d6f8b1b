"""Salted, skew-aware repartitioning (north rule).

Big validation passes repartition on ``hash(doc_id)`` so per-partition
summaries and the checkpoint ledger line up with stable key ranges. A few
hot doc_ids (duplicates, crawler artifacts) would make single partitions
straggle at 10^12 rows — so we *sample* key frequencies first and salt
only the hot keys, keeping everything else 1-pass co-partitioned.

Orchestration-only module: detection is a sampled groupBy (cheap), the
fix is a salt column + ``repartition(n, key, salt)``. AQE still handles
residual skew at runtime; this handles the pathological keys AQE can't
split (single-key hash partitions).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType

SALT_COL = "__salt__"


@dataclass
class SkewReport:
    sampled_rows: int
    hot_keys: list  # [(key, est_count)]
    threshold: float


def detect_hot_keys(df: DataFrame, key: str, *, sample_fraction: float = 0.05,
                    hot_share: float = 0.002,
                    target_rows: int | None = None,
                    seed: int = 7) -> SkewReport:
    """Sample the key column and flag keys holding more than ``hot_share``
    of the sampled mass. One small job over a sampled projection — the
    full table is never shuffled for detection, the sample is drawn and
    shuffled once, and only the top 100 keys reach the driver (no
    ``limit`` on the sample itself, which would funnel it through a
    single task). The default ``hot_share`` is 0.2%: at 10^12 rows a
    0.2% key is 2×10^9 rows in one hash partition — far past straggler
    territory.

    ``target_rows`` (opt-in) caps the expected sample size by shrinking
    the fraction from a ``df.count()``: pass it ONLY when the count is
    cheap (a bare parquet/Iceberg scan, catalog statistics). On a
    derived DataFrame the count would execute the whole upstream
    pipeline once before sampling — defaulting to off keeps detection a
    single sampled job. At 10^12 rows, size ``sample_fraction`` so the
    sampled scan stays bounded instead."""
    if target_rows:
        try:
            n = df.count()
            if n > 0:
                sample_fraction = min(sample_fraction,
                                      max(target_rows / n, 1e-6))
        except Exception:
            pass
    # one job: the top keys come from the collect, the sampled-row
    # total from an observation on the same scan; the threshold needs
    # both, so it is applied here rather than in the query
    sampled = Observation()
    sample = (df.select(key).sample(fraction=sample_fraction, seed=seed)
                .observe(sampled, F.count(F.lit(1)).alias("rows")))
    top = (sample.groupBy(key).count()
                 .orderBy(F.desc("count")).limit(100).collect())
    rows = sampled.get["rows"] if top else 0
    if rows == 0:
        return SkewReport(0, [], hot_share)
    thresh = max(2.0, rows * hot_share)
    return SkewReport(rows, [(r[key], r["count"]) for r in top
                             if r["count"] >= thresh], hot_share)


def salt_column(df: DataFrame, key: str, skew: SkewReport, *,
                salt_buckets: int = 16,
                tiebreak: Column | str | None = None) -> Column:
    """Deterministic per-row salt: 0 for cold keys; hot keys spread over
    ``salt_buckets`` via a hash of ``tiebreak``.

    ``tiebreak`` MUST be a deterministic function of row content — never
    ``monotonically_increasing_id()``/``rand()``/``spark_partition_id()``:
    those re-evaluate differently when a stage is partially re-executed
    after a fetch failure (SPARK-23207 class), silently routing re-
    computed rows to different salt buckets and corrupting downstream
    per-partition results. Default: ``xxhash64`` over the key plus the
    first few SCALAR columns of ``df`` — stable under retries, and
    cheap: hashing every column (nested arrays, wide documents) was
    measured at ~7x the cost of the shuffle itself, paid per row via
    subexpression elimination. Rows identical in the hashed subset
    collide into one bucket (exact duplicates are the dedup operators'
    job, not the salter's); pass a cheap unique column (e.g. a source
    row uid) as ``tiebreak`` when the scalar subset can't separate
    rows."""
    hot_values = [k for k, _ in skew.hot_keys]
    if not hot_values:
        return F.lit(0)
    if tiebreak is None:
        scalars = [f.name for f in df.schema.fields
                   if not isinstance(f.dataType,
                                     (ArrayType, MapType, StructType))
                   and f.name != key]
        tb = F.xxhash64(*[F.col(c) for c in [key] + scalars[:4]])
    else:
        tb = F.xxhash64(F.col(tiebreak) if isinstance(tiebreak, str)
                        else tiebreak)
    return (F.when(F.col(key).isin(hot_values),
                   F.pmod(tb, F.lit(salt_buckets)))
            .otherwise(F.lit(0))).cast("int")


def salted_repartition(df: DataFrame, key: str, num_partitions: int, *,
                       skew: SkewReport | None = None,
                       salt_buckets: int = 16,
                       sample_fraction: float = 0.05,
                       tiebreak: Column | str | None = None) -> DataFrame:
    """Repartition on ``hash(key)`` with per-hot-key salting. Cold keys get
    salt 0 (plan unchanged for them); hot keys spread across
    ``salt_buckets`` partitions via a deterministic content hash (see
    ``salt_column`` for the tiebreak contract). Adds ``__salt__``
    (callers may drop it)."""
    if skew is None:
        skew = detect_hot_keys(df, key, sample_fraction=sample_fraction)
    out = df.withColumn(SALT_COL, salt_column(df, key, skew,
                                              salt_buckets=salt_buckets,
                                              tiebreak=tiebreak))
    return out.repartition(num_partitions, F.col(key), F.col(SALT_COL))


def partition_sizes(df: DataFrame) -> DataFrame:
    """Rows per physical partition — the skew evidence table."""
    return (df.select(F.spark_partition_id().alias("partition_id"))
              .groupBy("partition_id").count())


def skew_factor(df: DataFrame) -> float:
    """max/mean partition size; 1.0 = perfectly balanced."""
    rows = partition_sizes(df).agg(
        F.max("count").alias("mx"), F.avg("count").alias("avg")).collect()[0]
    if not rows["avg"]:
        return 1.0
    return float(rows["mx"] / rows["avg"])
