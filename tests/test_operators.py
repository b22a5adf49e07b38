"""Direct unit tests of operator semantics on tiny hand-built inputs —
independent of the oracle harness."""

from __future__ import annotations

from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.operators.compaction import (
    last_value_per_key,
    tombstones,
)
from sqlserver_cdc_to_kafka_spark.operators.replay import replay_merge, set_reconciliation
from sqlserver_cdc_to_kafka_spark.operators.validation import missing_offsets

FEED_SCHEMA = "k long, __operation int, change_seq long, v string"


def _feed(spark, rows):
    return spark.createDataFrame(rows, FEED_SCHEMA)


def test_last_value_per_key_with_tombstone(spark):
    feed = _feed(
        spark,
        [
            (1, 2, 10, "a"),
            (1, 4, 20, "b"),
            (2, 2, 11, "x"),
            (2, 1, 30, None),  # deleted last -> compacted away
        ],
    )
    out = last_value_per_key(feed, ["k"], "change_seq")
    rows = {r["k"]: r for r in out.collect()}
    assert set(rows) == {1}
    assert rows[1]["v"] == "b"
    ts = tombstones(feed, ["k"]).collect()
    assert [(r["k"], r["value"]) for r in ts] == [(2, None)]


def test_replay_merge_insert_update_delete(spark):
    target = spark.createDataFrame([(1, "old"), (2, "gone"), (3, "keep")], "k long, v string")
    feed = _feed(
        spark,
        [
            (1, 4, 10, "new"),   # update existing
            (2, 1, 11, None),    # delete existing
            (9, 2, 12, "ins"),   # insert brand-new key
            (9, 4, 13, "ins2"),  # ...then update it: last-op-per-key wins
        ],
    )
    out = replay_merge(target, feed.select("k", "__operation", "change_seq", "v"), ["k"])
    rows = {r["k"]: r["v"] for r in out.collect()}
    assert rows == {1: "new", 3: "keep", 9: "ins2"}


def test_missing_offsets_gaps(spark):
    df = spark.createDataFrame(
        [(0, 0), (0, 1), (0, 5), (1, 3), (1, 4)], "part int, offset long"
    )
    out = {r["part"]: r["missing"] for r in missing_offsets(df, "part", "offset").collect()}
    assert out == {0: 3, 1: 0}


def test_set_reconciliation(spark):
    snap = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    ins = spark.createDataFrame([(4,), (4,)], "k long")
    dele = spark.createDataFrame([(2,)], "k long")
    actual = spark.createDataFrame([(1,), (3,), (4,)], "k long")
    row = set_reconciliation(snap, ins, dele, actual).collect()[0]
    assert (row["expected_count"], row["actual_count"], row["is_match"]) == (3, 3, True)


def test_global_order_via_range_partitioning(spark, sf_dir):
    """The 100 TB path for O1 (SURVEY §4): repartitionByRange(change_idx) +
    sortWithinPartitions gives a total order across partition ids without a
    single-partition sort — verify partitions are internally sorted AND
    their ranges don't overlap."""
    from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import cdc_events

    feed = cdc_events(spark, sf_dir).select("change_seq")
    n_parts = 8
    arranged = feed.repartitionByRange(n_parts, F.col("change_seq")).sortWithinPartitions(
        "change_seq"
    )
    stats = (
        arranged.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            F.min("change_seq").alias("lo"),
            F.max("change_seq").alias("hi"),
            F.count("*").alias("n"),
            # in-partition sortedness: rows arrive sorted, so a windowless
            # check: collect is overkill — compare count of regressions via lag
        )
        .orderBy("pid")
        .collect()
    )
    assert sum(r["n"] for r in stats) == feed.count()
    # ranges must be non-overlapping and increasing with partition id
    for prev, cur in zip(stats, stats[1:]):
        assert prev["hi"] <= cur["lo"]


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """IVF (nprobe=2 of 8 clusters) must recover most of the exact top-10 —
    the recall/throughput trade the scale path buys."""
    from sqlserver_cdc_to_kafka_spark.pipeline.similarity import cosine_topk, ivf_topk
    from sqlserver_cdc_to_kafka_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(queries, emb, "vec_id", "embedding", k=10).collect()
    approx = ivf_topk(emb, "vec_id", "embedding", query_max_id=5, k=10).collect()
    exact_set = {(r["q_id"], r["c_id"]) for r in exact}
    approx_set = {(r["q_id"], r["c_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall@10 too low: {recall}"


def test_threshold_pairs_lsh_recall(spark, sf_dir):
    """The LSH threshold-pairs query is the LSH-recall SUBSET of the exact
    quadratic spec — pin both directions of that trade: precision must be
    exact (every emitted pair truly ≥ threshold) and recall vs the
    brute-force baseline must clear the tuned floor (params from
    lsh_params_for_threshold(0.4) measure ≈ 0.80 on this corpus)."""
    from sqlserver_cdc_to_kafka_spark.pipeline.similarity import (
        cosine_threshold_pairs,
        cosine_threshold_pairs_lsh,
    )
    from sqlserver_cdc_to_kafka_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in cosine_threshold_pairs(emb, "vec_id", "embedding", 0.4).collect()
    }
    approx = {
        (r["vec_a"], r["vec_b"])
        for r in cosine_threshold_pairs_lsh(emb, "vec_id", "embedding", 0.4).collect()
    }
    assert approx <= exact, "LSH emitted a pair below the exact threshold"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.75, f"LSH threshold-pairs recall too low: {recall}"


def test_bucket_near_pairs_guards():
    """r16 (VERDICT task 3): the GEMM-prefilter kernel must fail LOUDLY on
    an oversized bucket (previously a silent Python-worker OOM) and warn at
    construction when margin <= 0 silently disables the prefilter."""
    import warnings

    import pandas as pd
    import pytest

    from sqlserver_cdc_to_kafka_spark.pipeline.similarity import (
        _bucket_near_pairs,
    )

    gen = _bucket_near_pairs(0.4, max_bucket_rows=10)
    oversized = pd.DataFrame(
        {"vid": list(range(11)), "v": [[1.0, 0.0]] * 11}
    )
    with pytest.raises(RuntimeError, match="max_bucket_rows"):
        gen(oversized)
    # at the limit it still runs (boundary is inclusive)
    ok = gen(oversized.head(10))
    assert {"vec_a", "vec_b"} == set(ok.columns)

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        _bucket_near_pairs(0.0)
    assert any(
        "margin" in str(w.message) and w.category is RuntimeWarning
        for w in caught
    ), "margin<=0 must raise a RuntimeWarning at construction"


def test_lsh_params_for_threshold_tuning():
    """The parameter chooser must widen bands as the threshold rises (higher
    p1 → selectivity is cheap) and respect the plane budget."""
    from sqlserver_cdc_to_kafka_spark.pipeline.similarity import (
        lsh_params_for_threshold,
    )

    b04, l04 = lsh_params_for_threshold(0.4)
    assert (b04, l04) == (4, 10)  # the tuned default the query/oracle embed
    b09, l09 = lsh_params_for_threshold(0.9)
    assert b09 > b04  # near-dup threshold affords much wider bands
    assert b09 * l09 <= 64


def test_mismatch_blocks_groups_consecutive_failures(spark):
    from sqlserver_cdc_to_kafka_spark.operators.row_compare import (
        mismatch_blocks,
        row_diff,
    )

    e = spark.createDataFrame(
        [(i, "v" if i not in (3, 4, 5, 9) else "bad") for i in range(12)],
        "idx bigint, v string",
    )
    a = spark.createDataFrame(
        [(i, "v") for i in range(12) if i != 9], "idx bigint, v string"
    )
    diff = row_diff(e, a, "idx", ["v"])
    by_status = {r["status"]: r["n"] for r in
                 diff.groupBy("status").agg(F.count("*").alias("n")).collect()}
    assert by_status == {"match": 8, "mismatch": 3, "missing_in_actual": 1}
    blocks = sorted(
        (r["block_start"], r["block_end"], r["n_rows"])
        for r in mismatch_blocks(diff).collect()
    )
    assert blocks == [(3, 5, 3), (9, 9, 1)]


def test_mismatch_blocks_string_hex_index(spark):
    """The row_diff contract allows non-numeric change indexes (hex LSN
    strings); blocks must still group on the string order via the monotone
    byte-prefix bucketing key."""
    from sqlserver_cdc_to_kafka_spark.operators.row_compare import (
        mismatch_blocks,
        row_diff,
    )

    def lsn(i):
        return f"00000a{i:02x}:000000{i:02x}:0001"

    e = spark.createDataFrame(
        [(lsn(i), "v" if i not in (3, 4, 9) else "bad") for i in range(12)],
        "idx string, v string",
    )
    a = spark.createDataFrame(
        [(lsn(i), "v") for i in range(12) if i != 9], "idx string, v string"
    )
    blocks = sorted(
        (r["block_start"], r["block_end"], r["n_rows"])
        for r in mismatch_blocks(row_diff(e, a, "idx", ["v"])).collect()
    )
    assert blocks == [(lsn(3), lsn(4), 2), (lsn(9), lsn(9), 1)]


def test_asof_join_left_semantics(spark):
    from sqlserver_cdc_to_kafka_spark.operators.asof import asof_join

    versions = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 15, None)],
        "k int, vt int, state string",
    )
    probes = spark.createDataFrame(
        [(1, 5), (1, 10), (1, 25), (2, 16), (3, 99)], "k int, pt int"
    )
    out = asof_join(
        probes, versions, ["k"], "pt", "vt", ["state"], how="left"
    ).collect()
    got = {(r["k"], r["__t"]): r["state"] for r in out}
    assert got == {
        (1, 5): None,    # before any version
        (1, 10): "a",    # ties match (>=)
        (1, 25): "b",    # latest at-or-before
        (2, 16): None,   # matched row carries a NULL field (delete-style)
        (3, 99): None,   # key never versioned
    }
    assert len(out) == 5  # left keeps all probes
    inner = asof_join(probes, versions, ["k"], "pt", "vt", ["state"])
    assert inner.count() == 3  # (1,10), (1,25), (2,16): matched rows only


def test_grouped_prefix_sum_matches_plain_window(spark):
    from pyspark.sql import Window

    from sqlserver_cdc_to_kafka_spark.operators.merge import grouped_prefix_sum

    rows = [(f"s{i % 3}", i, (i * 7) % 13 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "g string, ord long, v long")
    got = {
        (r["g"], r["ord"]): r["prefix_sum"]
        for r in grouped_prefix_sum(df, "g", "ord", "v", buckets=8).collect()
    }
    w = (
        Window.partitionBy("g")
        .orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = {
        (r["g"], r["ord"]): r["ps"]
        for r in df.withColumn("ps", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_grouped_prefix_sum_empty_input(spark):
    from sqlserver_cdc_to_kafka_spark.operators.merge import grouped_prefix_sum

    df = spark.createDataFrame([], "g string, ord long, v long")
    assert grouped_prefix_sum(df, "g", "ord", "v").count() == 0


def test_asof_join_banded_matches_union_carry(spark):
    from sqlserver_cdc_to_kafka_spark.operators.rangejoin import asof_join_banded

    versions = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 15, "c")],
        "k int, vt long, state string",
    )
    probes = spark.createDataFrame(
        [(1, 5), (1, 10), (1, 25), (2, 16), (3, 99)], "k int, pt long"
    )
    out = asof_join_banded(probes, versions, ["k"], "pt", "vt", band_width=8)
    got = {(r["k"], r["pt"]): (r["state"], r["vt"]) for r in out.collect()}
    # inner semantics: (1,5) before first version and (3,99) unversioned drop
    assert got == {
        (1, 10): ("a", 10),  # ties match (>=)
        (1, 25): ("b", 20),  # latest at-or-before, across a band boundary
        (2, 16): ("c", 15),
    }


def test_count_min_never_underestimates(spark, sf_dir):
    from pyspark.sql import functions as F2

    from sqlserver_cdc_to_kafka_spark.pipeline.sketch import count_min_estimates
    from sqlserver_cdc_to_kafka_spark.tables import load_table

    toks = load_table(spark, sf_dir, "documents").select(
        F2.explode(F2.split("text", " ")).alias("item")
    )
    est = count_min_estimates(toks, "item").collect()
    assert len(est) > 0
    for r in est:
        assert r["cms_estimate"] >= r["exact_count"], r


def test_hll_estimate_close_to_exact(spark, sf_dir):
    from pyspark.sql import functions as F2

    from sqlserver_cdc_to_kafka_spark.pipeline.sketch import (
        hll_estimate,
        hll_registers,
    )
    from sqlserver_cdc_to_kafka_spark.tables import load_table

    toks = load_table(spark, sf_dir, "documents").select(
        F2.explode(F2.split("text", " ")).alias("item")
    )
    exact = toks.distinct().count()
    est = hll_estimate(hll_registers(toks, "item").collect())
    # 64 buckets => ~1.04/sqrt(64) = 13% standard error; allow 3 sigma
    assert abs(est - exact) / exact < 0.4, (est, exact)


def test_quantile_histogram_close_to_exact(spark, sf_dir):
    from sqlserver_cdc_to_kafka_spark.registry import load_all
    from sqlserver_cdc_to_kafka_spark.tables import load_table

    est = {
        (r["event_type"], r["quantile"]): r["est_value"]
        for r in load_all()["sketch_quantile_histogram"]
        .fn(spark, sf_dir)
        .collect()
    }
    ev = load_table(spark, sf_dir, "events")
    by_type = {}
    for r in ev.select("event_type", "value").collect():
        by_type.setdefault(r["event_type"], []).append(r["value"])
    assert est
    for etype, vals in by_type.items():
        vals.sort()
        n = len(vals)
        for q in (0.5, 0.95, 0.99):
            e = est[(etype, q)]
            # the histogram targets rank q*n (inverse CDF); its estimate
            # interpolates inside that element's 1.0-wide bin
            import math

            elem = vals[min(max(math.ceil(q * n) - 1, 0), n - 1)]
            assert abs(e - elem) <= 1.0, (etype, q, e, elem)


def test_star_components_match_label_propagation(spark):
    """Both physical strategies agree on a mixed random graph."""
    import random

    from sqlserver_cdc_to_kafka_spark.pipeline.components import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    lp = {(r.doc_id, r.component) for r in connected_components(df).collect()}
    st = {
        (r.doc_id, r.component)
        for r in connected_components_star(df).collect()
    }
    assert st == lp


def test_star_components_long_chain_logarithmic_rounds(spark):
    """A 200-node path has diameter 199 — min-label propagation's 20-round
    cap cannot close it, but large-star/small-star collapses it in O(log n)
    rounds: every node must land in component 0."""
    from sqlserver_cdc_to_kafka_spark.pipeline.components import (
        connected_components_star,
    )

    chain = [(i, i + 1) for i in range(199)]
    df = spark.createDataFrame(chain, ["doc_a", "doc_b"])
    out = connected_components_star(df).collect()
    assert len(out) == 200
    assert all(r.component == 0 for r in out)


def test_label_propagation_raises_instead_of_silent_partial(spark):
    """Min-label propagation must FAIL LOUDLY when the diameter exceeds its
    round cap — a silently returned partial propagation would merge dedup
    clusters incorrectly downstream.  (The star variant is the documented
    long-chain path; see test above.)"""
    import pytest

    from sqlserver_cdc_to_kafka_spark.pipeline.components import (
        connected_components,
    )

    chain = [(i, i + 1) for i in range(60)]  # diameter 60 > cap
    df = spark.createDataFrame(chain, ["doc_a", "doc_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iterations=10)


def test_label_propagation_converging_exactly_at_cap_returns(spark):
    """diameter == max_iterations is CONVERGED, not an error: the cap round
    makes the last change, so the loop exhausts with n_changed > 0, but a
    final no-change probe must accept the fixpoint instead of raising the
    false positive (round-7 ADVICE on pipeline/components.py)."""
    from sqlserver_cdc_to_kafka_spark.pipeline.components import (
        connected_components,
    )

    chain = [(i, i + 1) for i in range(7)]  # 8 nodes, diameter 7
    df = spark.createDataFrame(chain, ["doc_a", "doc_b"])
    out = connected_components(df, max_iterations=7).collect()
    assert len(out) == 8
    assert all(r.component == 0 for r in out)


def test_star_components_singleton_and_pair(spark):
    from sqlserver_cdc_to_kafka_spark.pipeline.components import (
        connected_components_star,
    )

    df = spark.createDataFrame([(5, 9), (9, 5), (3, 3)], ["doc_a", "doc_b"])
    out = {(r.doc_id, r.component) for r in connected_components_star(df).collect()}
    assert out == {(5, 5), (9, 5), (3, 3)}


def test_banded_range_join_equals_naive_on_adversarial_data(spark):
    """The single-pass null-safe-band implementation must equal a naive
    cross-join range join on data hitting every edge: points exactly at lo
    (inclusive) and hi (exclusive), NULL-hi open intervals, zero-length
    intervals, negative times (cast-truncation banding), and intervals
    spanning many bands."""
    import random

    from sqlserver_cdc_to_kafka_spark.operators.rangejoin import banded_range_join

    rng = random.Random(20260813)
    W = 10
    intervals = []
    for i in range(120):
        key = rng.randint(0, 5)
        lo = rng.randint(-60, 60)
        kind = rng.random()
        if kind < 0.2:
            hi = None  # open
        elif kind < 0.35:
            hi = lo  # zero-length (matches nothing: lo <= p < hi empty)
        elif kind < 0.5:
            hi = lo + rng.randint(25, 70)  # spans several bands
        else:
            hi = lo + rng.randint(1, 9)  # sub-band
        intervals.append((key, i, lo, hi))
    points = [
        (rng.randint(0, 5), j, rng.randint(-65, 75)) for j in range(300)
    ] + [(k, 1000 + i, v) for i, (k, _, lo, hi) in enumerate(intervals)
         for v in ([lo] + ([hi] if hi is not None else []))]

    iv = spark.createDataFrame(intervals, "k int, iid int, lo long, hi long")
    pt = spark.createDataFrame(points, "k int, pid int, p long")

    got = {
        (r["k"], r["pid"], r["iid"])
        for r in banded_range_join(pt, iv, ["k"], "p", "lo", "hi", band_width=W)
        .select("k", "pid", "iid")
        .collect()
    }
    want = {
        (r["k"], r["pid"], r["iid"])
        for r in pt.join(iv, "k")
        .filter((F.col("p") >= F.col("lo"))
                & (F.col("hi").isNull() | (F.col("p") < F.col("hi"))))
        .select("k", "pid", "iid")
        .collect()
    }
    assert got == want
    assert len(want) > 0
    # closed-ended variant (<= hi) too
    got_cl = {
        (r["k"], r["pid"], r["iid"])
        for r in banded_range_join(
            pt, iv, ["k"], "p", "lo", "hi", band_width=W, open_ended_hi=False
        ).select("k", "pid", "iid").collect()
    }
    want_cl = {
        (r["k"], r["pid"], r["iid"])
        for r in pt.join(iv, "k")
        .filter((F.col("p") >= F.col("lo"))
                & (F.col("hi").isNull() | (F.col("p") <= F.col("hi"))))
        .select("k", "pid", "iid").collect()
    }
    assert got_cl == want_cl and got_cl != want


def test_interval_overlap_join_each_pair_once_across_bands(spark):
    """A pair overlapping through MANY shared bands must match exactly once
    (first-shared-band filter), and non-overlapping intervals never match."""
    from sqlserver_cdc_to_kafka_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    left = spark.createDataFrame(
        [(1, 0, 1000), (2, 5000, 5010), (3, 100, 200)],
        "lid long, s_lo long, s_hi long",
    )
    right = spark.createDataFrame(
        [(10, 500, 2000), (11, 150, 160), (12, 3000, 4000)],
        "rid long, b_lo long, b_hi long",
    )
    out = interval_overlap_join(
        left, right, "s_lo", "s_hi", "b_lo", "b_hi", band_width=10
    ).select("lid", "rid")
    got = {(r["lid"], r["rid"]) for r in out.collect()}
    # lid=1 spans 100 bands and overlaps rid=10 through 150 of them: once.
    # lid=1 also contains rid=11 entirely; lid=2/rid=12 never overlap.
    assert got == {(1, 10), (1, 11), (3, 11)}
    assert out.count() == 3  # no duplicate matches from shared bands


def test_interval_overlap_join_equals_naive_theta_join(spark):
    """Randomized (seeded) equivalence: the banded overlap join must equal
    the naive l_lo < r_hi AND r_lo < l_hi theta join exactly — across
    interval lengths far above and below the band width."""
    import random

    from sqlserver_cdc_to_kafka_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    rng = random.Random(42)
    lrows = []
    for i in range(150):
        lo = rng.randrange(0, 10_000)
        lrows.append((i, lo, lo + rng.choice([1, 5, 37, 400, 2_500])))
    rrows = []
    for j in range(150):
        lo = rng.randrange(0, 10_000)
        rrows.append((j, lo, lo + rng.choice([2, 9, 80, 900])))
    left = spark.createDataFrame(lrows, "lid long, s_lo long, s_hi long")
    right = spark.createDataFrame(rrows, "rid long, b_lo long, b_hi long")
    banded = interval_overlap_join(
        left, right, "s_lo", "s_hi", "b_lo", "b_hi", band_width=100
    )
    got = {(r["lid"], r["rid"]) for r in banded.select("lid", "rid").collect()}
    want = {
        (li, rj)
        for (li, slo, shi) in lrows
        for (rj, blo, bhi) in rrows
        if slo < bhi and blo < shi
    }
    assert got == want
    assert banded.count() == len(want)  # exactly-once per pair


def test_pagerank_mass_invariants(spark):
    """Every node retains at least the teleport floor (0.15·MASS), no node
    exceeds total initial mass, and total mass never grows (integer
    division only discards)."""
    from sqlserver_cdc_to_kafka_spark.registry import load_all

    q = load_all()["graph_pagerank_bipartite"]
    rows = q.fn(spark, "/root/testdata/sf0.001").collect()
    total0 = len(rows) * 10**12
    floor = 10**12 * 15 // 100
    assert all(r["pr_mass"] >= floor for r in rows)
    assert sum(r["pr_mass"] for r in rows) <= total0
    assert max(r["pr_mass"] for r in rows) < total0
