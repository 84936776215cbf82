"""Aggregate / window surface (SURVEY.md section 2.5).

The reference materializes the columns these aggregates consume
(amount/_from/_to at follower.py:151-152, signal/snr at :188-189,
block/timestamp at :153-154); the engine ships the analytics surface those
schemas exist to serve. Everything here is built-in hash-aggregate /
window-function work: partial (map-side) aggregation, AQE skew handling and
whole-stage codegen all apply for free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def payment_volume(edges: DataFrame, src: str = "_from", dst: str = "_to", amount: str = "amount") -> DataFrame:
    """Grouped sum/count per account pair (payment-volume analytics)."""
    return edges.groupBy(src, dst).agg(
        F.sum(amount).alias("total_amount"),
        F.count(F.lit(1)).alias("n_payments"),
    )


def salted_payment_volume(
    edges: DataFrame,
    src: str = "_from",
    dst: str = "_to",
    amount: str = "amount",
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-resistant two-stage grouped sum/count: identical result to
    :func:`payment_volume`, different shuffle shape.

    The payment graph is power-law skewed (exchange hot accounts — the
    reference's data, and any 100 TB key space, has a heavy tail). A plain
    groupBy puts every row of a hot key in one reducer. Stage 1 appends a
    random salt to the key and partially aggregates (hot key split over
    ``salt_buckets`` reducers); stage 2 re-aggregates the per-salt partials
    on the true key — the second shuffle moves at most
    ``salt_buckets`` rows per key, independent of skew. AQE's skew-join
    handling covers joins; this is the explicit pattern for aggregations
    whose partial states are reassociable (sum/count here).
    """
    salted = edges.withColumn(
        "_salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    partial = salted.groupBy(src, dst, "_salt").agg(
        F.sum(amount).alias("_amt"), F.count(F.lit(1)).alias("_cnt")
    )
    return partial.groupBy(src, dst).agg(
        F.sum("_amt").alias("total_amount"), F.sum("_cnt").alias("n_payments")
    )


def link_quality(edges: DataFrame, group: list[str], signal: str = "signal", snr: str = "snr") -> DataFrame:
    """Grouped avg/min/max witness link quality (follower.py:188-189 cols)."""
    return edges.groupBy(*group).agg(
        F.avg(signal).alias("avg_signal"),
        F.min(signal).alias("min_signal"),
        F.max(signal).alias("max_signal"),
        F.avg(snr).alias("avg_snr"),
    )


def time_bucketed_activity(df: DataFrame, ts: str, value: str, bucket: str = "hour") -> DataFrame:
    """Tumbling time-bucket aggregation over an event-time column."""
    return df.groupBy(F.date_trunc(bucket, F.col(ts)).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(value).alias("total_value"),
    )


def top_k(df: DataFrame, order_cols: list[Column], k: int) -> DataFrame:
    """Deterministic top-k: Spark plans orderBy+limit as
    TakeOrderedAndProject (per-partition heap + driver merge — no global
    sort, no shuffle of the full data)."""
    return df.orderBy(*order_cols).limit(k)


def latest_per_key(df: DataFrame, key: str, order_col: str, tiebreak: str) -> DataFrame:
    """row_number()==1 per key by descending order (latest inventory row per
    gateway pattern, follower.py:130-133)."""
    w = Window.partitionBy(key).orderBy(F.desc(order_col), F.desc(tiebreak))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def lag_delta_seconds(df: DataFrame, key: str, ts: str, tiebreak: str) -> DataFrame:
    """Per-key previous-event delta in seconds — the windowed general form of
    the reference's processing_time_s arithmetic (follower.py:196)."""
    w = Window.partitionBy(key).orderBy(F.col(ts), F.col(tiebreak))
    prev = F.lag(F.col(ts)).over(w)
    return df.withColumn(
        "delta_s",
        (F.unix_micros(F.col(ts)) - F.unix_micros(prev)) / F.lit(1000000.0),
    )


def distributed_ntile(
    df: DataFrame, order_cols: list[str], k: int
) -> DataFrame:
    """Exact global ntile WITHOUT a single-task window — the 100 TB path
    for total-order ranking (an unpartitioned ``Window.orderBy`` drags the
    whole table through one task; this keeps every stage at full
    parallelism).

    Three-step range-rank pattern:
      1. ``repartitionByRange`` on the order key — range partition i holds
         strictly smaller keys than i+1, so a partition-local rank plus
         the row-count of the partitions before it IS the global rank;
      2. local ranks from one Arrow ``mapInPandas`` pass over the sorted
         partitions (order-preserving, zero shuffle);
      3. per-partition row counts collect to the driver (#partitions rows,
         not #rows) and come back as a broadcast pid->offset map.
    The bucket index then applies SQL ntile semantics (first N mod k
    buckets take one extra row) as a map-side expression. One range
    shuffle total, localCheckpointed so the size probe and the main pass
    share it. Ties across the full key go to the same partition, so ranks
    are deterministic whenever the key is unique (pass a tiebreaker).
    """
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    parts = df.sparkSession.sparkContext.defaultParallelism
    d = (
        df.repartitionByRange(parts, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )

    # StructType.add mutates in place — build the output schema from a copy
    out_schema = StructType(list(d.schema.fields) + [StructField("_rn", LongType(), False)])

    def local_ranks(it):
        rn = 0
        for pdf in it:
            pdf = pdf.copy()
            pdf["_rn"] = np.arange(rn + 1, rn + len(pdf) + 1, dtype=np.int64)
            rn += len(pdf)
            yield pdf

    ranked = d.mapInPandas(local_ranks, out_schema)

    sizes = sorted(
        (r["_pid"], r["c"])
        for r in d.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    total, offsets = 0, {}
    for pid, c in sizes:
        offsets[pid] = total
        total += c

    off_map = F.create_map(
        *[F.lit(v) for pid_off in offsets.items() for v in pid_off]
    )
    grank = F.col("_rn") + F.coalesce(off_map[F.col("_pid")], F.lit(0))
    q, rem = divmod(total, k)
    if q == 0:  # fewer rows than buckets: bucket == rank
        bucket = grank
    else:
        head = rem * (q + 1)  # rows covered by the `rem` larger buckets
        bucket = F.when(
            grank <= head, ((grank - 1) / (q + 1)).cast("long") + 1
        ).otherwise(rem + ((grank - 1 - head) / q).cast("long") + 1)
    return ranked.withColumn("ntile", bucket.cast("int")).drop("_pid", "_rn")


def distributed_prefix_sum(
    df: DataFrame, order_cols: list[str], value_col: str, out_col: str = "running"
) -> DataFrame:
    """Exact global running sum of an integral column over a total order,
    with NO single-task window — the companion to :func:`distributed_ntile`
    (sequence packing, running balances, offset assignment all reduce to
    this prefix-sum).

    Same range-rank skeleton: range repartition on the order key, one
    Arrow pass computes each partition's LOCAL cumulative sum, the
    per-partition totals (#partitions values) collect to the driver and
    come back as a broadcast pid->offset map added on top. The value must
    be integral (exact, order-independent addition) — float prefix sums
    would make the result depend on partition boundaries.
    """
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    parts = df.sparkSession.sparkContext.defaultParallelism
    d = (
        df.repartitionByRange(parts, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    out_schema = StructType(
        list(d.schema.fields) + [StructField("_lsum", LongType(), False)]
    )

    def local_cumsum(it):
        acc = 0
        for pdf in it:
            pdf = pdf.copy()
            c = pdf[value_col].to_numpy(dtype=np.int64).cumsum() + acc
            pdf["_lsum"] = c
            if len(c):
                acc = int(c[-1])
            yield pdf

    summed = d.mapInPandas(local_cumsum, out_schema)

    totals = sorted(
        (r["_pid"], r["t"])
        for r in d.groupBy("_pid").agg(F.sum(value_col).alias("t")).collect()
    )
    running, offsets = 0, {}
    for pid, t in totals:
        offsets[pid] = running
        running += int(t or 0)

    off_map = F.create_map(
        *[F.lit(v) for pid_off in offsets.items() for v in pid_off]
    )
    return summed.withColumn(
        out_col, F.col("_lsum") + F.coalesce(off_map[F.col("_pid")], F.lit(0))
    ).drop("_pid", "_lsum")


# HyperLogLog constants (m = 64 buckets, Flajolet et al. 2007): hash64 is
# 60 bits -> 6 bucket bits + 54 rank bits, so rho in [1, 55].
HLL_M = 64
HLL_ALPHA = 0.709  # alpha_64
# alpha * m^2 * 2^55 as ONE Python float literal so Spark and the SQL
# oracle divide the identical constant (no cross-engine multiply chains)
HLL_NUMERATOR = HLL_ALPHA * HLL_M * HLL_M * float(1 << 55)


def hll_distinct(
    df: DataFrame, group: str, value: str, est_dp: int = 4,
) -> DataFrame:
    """Per-group distinct-count estimate via a from-first-principles
    HyperLogLog (m=64 registers), next to the exact count for accuracy
    accounting — unlike ``approx_count_distinct`` (whose HLL++ internals
    no oracle can reproduce), every step here is deterministic in both
    engines, so the sketch itself sits under the driver's value hash.

    Scale shape: the register build is one partial-agg'd shuffle whose
    output is <= m rows PER GROUP regardless of cardinality, and the
    registers are MERGEABLE (max cell-wise) across executors, partitions
    or streaming micro-batches — the property that lets 1000 executors
    estimate distincts over 100 TB without ever shuffling the values.
    (The exact count_distinct column exists for the accuracy report; a
    production pass drops it.)

    Float discipline: Z = sum(2^-r) is computed as the INTEGER
    ``sum(1 << (55 - r))`` (exact, order-free — float summation of
    powers of two can round differently per order), divided into the
    single precomputed double :data:`HLL_NUMERATOR`; the small-range
    correction ``m * ln(m/V)`` applies when E <= 2.5m and V > 0 empty
    registers exist (standard HLL).
    """
    return hll_estimate(
        hll_registers(df, group, value), df, group, value, est_dp=est_dp
    )


def hll_registers(df: DataFrame, group: str, value: str) -> DataFrame:
    """Build the per-group HLL register table ``(group, b, r)`` — the
    mergeable half of :func:`hll_distinct`, split out so a streaming
    replay can maintain the registers in per-cell state (max-merge)
    and feed them into the same :func:`hll_estimate` readout."""
    from ..functions.hashing import hash64

    h = hash64(F.col(value).cast("string"))
    b = (h % HLL_M).alias("b")
    w = F.floor(h / HLL_M)
    # rho = leading zeros in the 54-bit rank + 1 = 55 - bit_length(w);
    # integer bit-length (length(bin(w))), never float log2
    rho = F.when(w == 0, F.lit(55)).otherwise(
        F.lit(55) - F.length(F.bin(w)).cast("long")
    ).alias("rho")
    return (
        df.select(F.col(group), b, rho)
        .groupBy(group, "b")
        .agg(F.max("rho").alias("r"))
    )


def hll_estimate(
    regs: DataFrame, exact_src: DataFrame, group: str, value: str,
    est_dp: int = 4,
) -> DataFrame:
    """Estimate distinct counts from a ``(group, b, r)`` register table
    (built by :func:`hll_registers` or read back from a streaming state
    store) next to the exact count over ``exact_src`` — the readout half
    of :func:`hll_distinct`."""
    hll = regs.groupBy(group).agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - r AS INT))")).alias("zp"),
        F.count(F.lit(1)).alias("nb"),
    )
    v_empty = F.lit(HLL_M) - F.col("nb")
    z_total = (F.col("zp") + v_empty * F.lit(1 << 55)).cast("double")
    e_raw = F.lit(HLL_NUMERATOR) / z_total
    e = F.when(
        (e_raw <= F.lit(2.5 * HLL_M)) & (v_empty > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v_empty.cast("double")),
    ).otherwise(e_raw)
    exact = exact_src.groupBy(group).agg(
        F.count_distinct(F.col(value)).alias("n_exact")
    )
    return (
        exact.join(hll, group)
        .select(
            group,
            "n_exact",
            F.round(e, est_dp).alias("n_hll"),
            F.round(
                F.abs(e - F.col("n_exact").cast("double"))
                / F.col("n_exact").cast("double"),
                est_dp,
            ).alias("rel_err"),
        )
    )
