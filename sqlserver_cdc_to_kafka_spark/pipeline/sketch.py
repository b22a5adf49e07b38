"""Deterministic distributed sketches: count-min and HyperLogLog.

The streaming-analytics staples for frequency and cardinality at 100 TB,
built so the SAME sketch comes out of any engine: every hash is an
md5-derived integer (no engine-native hash functions, no RNG), so a DuckDB
oracle reproduces the sketch bit-for-bit and the driver's hash-exact gate
applies to an *approximate* structure.

- **Count-min**: ``depth`` md5 hash rows x ``width`` counters. Building it
  is one explode(depth) + groupBy((depth, bucket)) — map-side combine makes
  the shuffle at most depth x width rows per partition regardless of input
  size. Point estimate = min over rows of the counter at that row's bucket;
  always >= the true count (property-tested).
- **HyperLogLog**: 60-bit md5 value split bucket/rank; rank = trailing
  zeros + 1 via the integer-exact ``bit_count((v & -v) - 1)`` identity (no
  float log2 — engines disagree on its exactness at power-of-two
  boundaries). Registers are ``MAX(rank) GROUP BY bucket`` — one shuffle of
  at most ``buckets`` rows per partition; sketches merge by the same MAX,
  which is what makes HLL distributable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CMS_DEPTH = 4
CMS_WIDTH = 256
HLL_BUCKETS = 64  # 6 index bits; 54-bit rank domain; empty-rank sentinel 55


def _cms_bucket(depth_col, item_col):
    """Row-``depth`` hash bucket of an item: md5('<d>:<item>') first 8 hex
    digits mod width — identical arithmetic in any engine."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(depth_col.cast("string"), F.lit(":"), item_col)),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % CMS_WIDTH
    )


def count_min_estimates(df: DataFrame, item_col: str) -> DataFrame:
    """(item, exact_count, cms_estimate): every distinct item's true count
    next to its CMS point estimate (min over depth rows of the hashed
    counter). estimate >= exact always — collisions only inflate."""
    # r15 (guide §2.3 "aggregate before you shuffle"): the counter table is
    # a linear function of the exact-count table — c(depth, bucket) =
    # Σ exact_count over items hashing there — so both sketch sides derive
    # from ONE aggregation of the item stream instead of two full
    # derivations (the r14 shape exploded the RAW stream ×CMS_DEPTH and
    # md5-hashed every occurrence; now the ×4 explode and the hashes run
    # over distinct items only). Exact integer sums → identical counters.
    exact = (
        df.select(F.col(item_col).alias("item"))
        .groupBy("item")
        .agg(F.count("*").alias("exact_count"))
    )
    probes = exact.withColumn(
        "depth", F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1)))
    ).withColumn("bucket", _cms_bucket(F.col("depth"), F.col("item")))
    counters = probes.groupBy("depth", "bucket").agg(
        F.sum("exact_count").alias("count")
    )
    return (
        probes.join(counters, ["depth", "bucket"])
        .groupBy("item", "exact_count")
        .agg(F.min("count").cast("bigint").alias("cms_estimate"))
    )


def hll_registers(df: DataFrame, item_col: str) -> DataFrame:
    """(bucket, register) — the HyperLogLog register table. Merge two
    sketches (or two partitions' partials) with MAX per bucket."""
    hv = F.conv(F.substring(F.md5(F.col(item_col)), 1, 15), 16, 10).cast(
        "bigint"
    )
    r = df.select(
        (hv % HLL_BUCKETS).alias("bucket"),
        F.shiftright(hv, 6).alias("v"),
    )
    rank = F.expr(
        "CASE WHEN v = 0 THEN 55 ELSE bit_count((v & -v) - 1) + 1 END"
    )
    return (
        r.withColumn("rank", rank)
        .groupBy("bucket")
        .agg(F.max("rank").cast("int").alias("register"))
    )


def hll_estimate(registers) -> float:
    """Driver-side cardinality estimate from a collected register table:
    standard HLL harmonic mean (m=HLL_BUCKETS) with the small-range
    linear-counting correction (raw <= 2.5m with empty buckets — the
    Flajolet et al. regime where raw HLL overshoots ~2x)."""
    import math

    regs = {r["bucket"]: r["register"] for r in registers}
    m = HLL_BUCKETS
    alpha = 0.709  # alpha_64
    s = sum(2.0 ** -regs.get(b, 0) for b in range(m))
    raw = alpha * m * m / s
    empty = m - len(regs)
    if raw <= 2.5 * m and empty > 0:
        return m * math.log(m / empty)
    return raw


BLOOM_BITS = 1 << 16  # m: filter size in bits
BLOOM_K = 3  # hash probes per key
_BLOOM_WORD = 32  # bits per bitmap word (positive-bigint-safe shifts)


def _bloom_positions(df: DataFrame, key_col: str) -> DataFrame:
    """One row per (key, probe-bit position): classic double hashing
    pos_i = (h1 + i*h2) mod m, with h1/h2 taken from disjoint md5 hex
    spans and h2 forced odd so the probe sequence cycles the whole table.
    Engine-portable (md5 + integer arithmetic only) — a DuckDB oracle
    builds the bit-identical filter."""
    key_s = F.col(key_col).cast("string")
    h1 = F.conv(F.substring(F.md5(key_s), 1, 8), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(F.md5(key_s), 9, 8), 16, 10).cast("bigint") * 2 + 1
    return (
        df.select(F.col(key_col).alias("k"), h1.alias("h1"), h2.alias("h2"))
        .withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))))
        .select("k", ((F.col("h1") + F.col("i") * F.col("h2")) % BLOOM_BITS).alias("pos"))
    )


def bloom_build_words(keys: DataFrame, key_col: str) -> DataFrame:
    """(word_idx, bits) — the Bloom filter as a sparse bitmap of 32-bit
    words packed in bigints.  bit_or is the merge operator: partition
    partials, shard filters, and day-over-day filters all union by the
    same aggregate, which is what makes the structure distributable.  At
    most m/32 rows regardless of input size."""
    pos = _bloom_positions(keys, key_col).select("pos").distinct()
    return (
        pos.groupBy((F.col("pos") / _BLOOM_WORD).cast("bigint").alias("word_idx"))
        .agg(
            # shiftleft's python wrapper takes only a literal shift count —
            # the per-row bit position needs the SQL form
            F.bit_or(
                F.expr(f"shiftleft(cast(1 as bigint), cast(pos % {_BLOOM_WORD} as int))")
            ).alias("bits")
        )
    )


def bloom_membership(probes: DataFrame, build_keys: DataFrame, key_col: str) -> DataFrame:
    """Probe keys flagged by the filter built from build_keys: a key is
    flagged iff ALL of its probe positions are set.  Distributed as a
    LEFT join of probe positions against the (distinct, ≤m-row) set-bit
    table — the set-bit side is bounded by the filter size, so this is a
    broadcast-scale join no matter how large the build input was."""
    set_bits = (
        _bloom_positions(build_keys, key_col)
        .select("pos")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    ppos = _bloom_positions(probes, key_col)
    return (
        ppos.join(set_bits, "pos", "left")
        .groupBy("k")
        .agg(F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0)).alias("n_miss"))
        .filter(F.col("n_miss") == 0)
        .select(F.col("k").alias(key_col))
    )
