"""Round-11 additions (second + third batch): triangle counting, the
KS two-sample drift test, the block jackknife CI, the l-diversity
audit, per-key OLS, entity resolution, the median CI, connected
components (star contraction and dedup's min-label loop), k-core
peeling, target encoding, and the temporal embargo split — each
pinned on tiny crafted inputs against hand-computed or pure-Python
brute-force expectations (the oracle harness cross-checks the same
queries against DuckDB at sf0.01; these pin SEMANTICS)."""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import dedup
from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.graph import (
    connected_components,
    triangle_count,
)
from aws_sql_server_to_s3_datalake_etl_migration_spark import (
    workloads_analytics,
    workloads_quality,
    workloads_timeseries,
)


# ---------------------------------------------------------------------------
# triangle_count
# ---------------------------------------------------------------------------


def _triangles_bruteforce(nodes, edges):
    """O(n^3) reference: per-node triangle participation counts."""
    adj = set()
    for s, d in edges:
        if s != d:
            adj.add((min(s, d), max(s, d)))
    out = {n: 0 for n in nodes}
    for a, b, c in itertools.combinations(sorted(nodes), 3):
        if (
            (a, b) in adj
            and (a, c) in adj
            and (b, c) in adj
        ):
            out[a] += 1
            out[b] += 1
            out[c] += 1
    return out


def test_triangle_count_matches_bruteforce(spark):
    # K4 on 1-4 (4 triangles), a hub 5 joined to all of K4 (6 more),
    # an isolated node 6; duplicate, reversed, and self-loop edges
    # must not change counts.
    nodes = [1, 2, 3, 4, 5, 6]
    k4 = [(a, b) for a, b in itertools.combinations([1, 2, 3, 4], 2)]
    hub = [(5, x) for x in [1, 2, 3, 4]]
    noise = [(2, 1), (1, 2), (3, 3), (4, 5)]
    edges = k4 + hub + noise
    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_count(ndf, edf).collect()
    }
    assert got == _triangles_bruteforce(nodes, edges)
    assert got[6] == 0  # isolated node present with a zero row


def test_triangle_count_path_graph_is_triangle_free(spark):
    nodes = list(range(8))
    edges = [(i, i + 1) for i in range(7)]
    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    rows = triangle_count(ndf, edf).collect()
    assert len(rows) == 8
    assert all(r["n_triangles"] == 0 for r in rows)


# ---------------------------------------------------------------------------
# events_ks_drift
# ---------------------------------------------------------------------------


def test_ks_drift_hand_case(spark, tmp_path):
    # shard A (even event_id): values {1, 2, 3}
    # shard B (odd  event_id): values {2, 3, 4}
    # pooled x:  1    2    3    4
    # F_A(x):   1/3  2/3  3/3  3/3
    # F_B(x):    0   1/3  2/3  3/3
    # D = 1/3 at x=1 (also 2, 3); d_num = max|ca*n2 - cb*n1| = 3.
    rows = [
        (0, 1.0),
        (2, 2.0),
        (4, 3.0),
        (1, 2.0),
        (3, 3.0),
        (5, 4.0),
        (6, None),  # NULL value rows are excluded on both engines
    ]
    src = str(tmp_path / "ks_events")
    (
        spark.createDataFrame(rows, "event_id long, value double")
        .select(
            "event_id",
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
            F.lit(1).cast("long").alias("user_id"),
            F.lit("view").alias("event_type"),
            "value",
            F.lit("{}").alias("props"),
        )
        .write.mode("overwrite")
        .parquet(f"{src}/events.parquet")
    )
    out = workloads_timeseries.events_ks_drift(spark, src).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_a, r.n_b, r.d_num) == (3, 3, 3)
    assert r.ks_d == 3 / 9


def test_ks_drift_identical_shards_score_zero(spark, tmp_path):
    # every value appears once in each shard -> ECDFs coincide at
    # every pooled point -> D = 0 exactly
    rows = [(2 * i + p, float(i)) for i in range(5) for p in (0, 1)]
    src = str(tmp_path / "ks_aa")
    (
        spark.createDataFrame(rows, "event_id long, value double")
        .select(
            "event_id",
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
            F.lit(1).cast("long").alias("user_id"),
            F.lit("view").alias("event_type"),
            "value",
            F.lit("{}").alias("props"),
        )
        .write.mode("overwrite")
        .parquet(f"{src}/events.parquet")
    )
    r = workloads_timeseries.events_ks_drift(spark, src).collect()[0]
    assert (r.n_a, r.n_b, r.d_num, r.ks_d) == (5, 5, 0, 0.0)


# ---------------------------------------------------------------------------
# orders_block_jackknife_ci
# ---------------------------------------------------------------------------


def test_block_jackknife_mirror(spark, tmp_path):
    # 3 blocks (keys 0,1,2 mod 32), unequal sizes, exact-cent prices
    rows = [
        (0, 10.00),
        (32, 20.00),
        (64, 30.00),  # blk 0: n=3, s=60
        (1, 40.00),
        (33, 60.00),  # blk 1: n=2, s=100
        (2, 50.00),  # blk 2: n=1, s=50
    ]
    src = str(tmp_path / "jk_orders")
    (
        spark.createDataFrame(rows, "o_orderkey long, o_totalprice double")
        .write.mode("overwrite")
        .parquet(f"{src}/orders.parquet")
    )
    got = {
        r.blk: r
        for r in workloads_analytics.orders_block_jackknife_ci(
            spark, src
        ).collect()
    }
    assert set(got) == {0, 1, 2}
    S, N, B = 210.0, 6, 3
    theta = S / N
    for blk, (n_i, s_i) in {0: (3, 60.0), 1: (2, 100.0), 2: (1, 50.0)}.items():
        r = got[blk]
        assert (r.n_block, r.n_excl) == (n_i, N - n_i)
        assert r.sum_excl == S - s_i
        assert r.theta_excl == (S - s_i) / (N - n_i)
        assert r.theta_all == theta
        assert r.pseudovalue == B * theta - (B - 1) * r.theta_excl
    # the pseudovalue mean recovers a valid estimator: for the mean
    # statistic it is n-weighted-consistent, and with equal-size
    # blocks it equals theta exactly -- here just pin the identity
    # sum(pv) = B*B*theta - (B-1)*sum(theta_excl)
    pv_sum = sum(r.pseudovalue for r in got.values())
    te_sum = sum(r.theta_excl for r in got.values())
    assert abs(pv_sum - (B * B * theta - (B - 1) * te_sum)) < 1e-9


# ---------------------------------------------------------------------------
# customer_l_diversity
# ---------------------------------------------------------------------------


def test_l_diversity_hand_case(spark, tmp_path):
    # group (1,'A'): bands {0,0,1} -> l=2, n=3
    # group (1,'B'): bands {5}     -> l=1, n=1  (violates l<3)
    # group (2,'A'): bands {0,1,2} -> l=3, n=3  (first non-violating)
    data = [
        (1, "c1", 1, 10.0, "A"),
        (2, "c2", 1, 999.0, "A"),
        (3, "c3", 1, 1500.0, "A"),
        (4, "c4", 1, 5200.0, "B"),
        (5, "c5", 2, 10.0, "A"),
        (6, "c6", 2, 1200.0, "A"),
        (7, "c7", 2, 2500.0, "A"),
    ]
    src = str(tmp_path / "ld_customer")
    (
        spark.createDataFrame(
            data,
            "c_custkey long, c_name string, c_nationkey int,"
            " c_acctbal double, c_mktsegment string",
        )
        .write.mode("overwrite")
        .parquet(f"{src}/customer.parquet")
    )
    got = {
        r.l: r
        for r in workloads_quality.customer_l_diversity(
            spark, src
        ).collect()
    }
    assert set(got) == {1, 2, 3}
    assert (got[1].n_groups, got[1].n_rows, got[1].violates_l3) == (1, 1, True)
    assert (got[2].n_groups, got[2].n_rows, got[2].violates_l3) == (1, 3, True)
    assert (got[3].n_groups, got[3].n_rows, got[3].violates_l3) == (1, 3, False)


# ---------------------------------------------------------------------------
# events_ols_trend
# ---------------------------------------------------------------------------


def test_ols_trend_hand_case(spark, tmp_path):
    # type "lin": hourly counts 1,2,3 at hours h0,h0+1,h0+2 ->
    # perfect line: slope=1, intercept=1, r2=1
    # type "flat": counts 2,2 -> slope=0, syy-den=0 -> r2 NULL
    # type "one": a single hour -> dden=0 -> slope/intercept/r2 NULL
    base = "2024-01-01 0{h}:00:0{i}"
    rows = []
    eid = 0
    for h, n in [(0, 1), (1, 2), (2, 3)]:
        for i in range(n):
            rows.append((eid, f"2024-01-01 0{h}:00:0{i}", "lin"))
            eid += 1
    for h in (0, 1):
        for i in range(2):
            rows.append((eid, f"2024-01-02 0{h}:00:0{i}", "flat"))
            eid += 1
    rows.append((eid, "2024-01-03 00:00:00", "one"))
    src = str(tmp_path / "ols_events")
    (
        spark.createDataFrame(rows, "event_id long, ts_s string, event_type string")
        .select(
            "event_id",
            F.col("ts_s").cast("timestamp").alias("ts"),
            F.lit(1).cast("long").alias("user_id"),
            "event_type",
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        .write.mode("overwrite")
        .parquet(f"{src}/events.parquet")
    )
    got = {
        r.event_type: r
        for r in workloads_timeseries.events_ols_trend(spark, src).collect()
    }
    lin = got["lin"]
    assert (lin.n_hours, lin.slope, lin.intercept, lin.r2) == (3, 1.0, 1.0, 1.0)
    flat = got["flat"]
    assert (flat.n_hours, flat.slope, flat.intercept) == (2, 0.0, 2.0)
    assert flat.r2 is None  # zero variance in y
    one = got["one"]
    assert one.n_hours == 1
    assert one.slope is None and one.intercept is None and one.r2 is None


# ---------------------------------------------------------------------------
# customer_entity_resolution
# ---------------------------------------------------------------------------


def test_entity_resolution_hand_case(spark, tmp_path):
    # nation 1: "ann"/"anne"/"annet" chain (ann~anne dist 1,
    #   anne~annet dist 1 -> one 3-member cluster via transitivity,
    #   even though ann~annet is dist 2); "bob" is a singleton
    # nation 2: "ann2" matches nation-1 "anne" by name distance but
    #   the nation block must keep it separate
    from aws_sql_server_to_s3_datalake_etl_migration_spark.workloads_curation import (
        customer_entity_resolution,
    )

    data = [
        (1, "ann", 1, 10.0, "A"),
        (2, "anne", 1, 20.0, "A"),
        (3, "annet", 1, 30.0, "B"),
        (4, "bob", 1, 40.0, "A"),
        (5, "anne", 2, 50.0, "A"),
    ]
    src = str(tmp_path / "er_customer")
    (
        spark.createDataFrame(
            data,
            "c_custkey long, c_name string, c_nationkey int,"
            " c_acctbal double, c_mktsegment string",
        )
        .write.mode("overwrite")
        .parquet(f"{src}/customer.parquet")
    )
    got = {
        r.cluster_id: r
        for r in customer_entity_resolution(spark, src).collect()
    }
    assert set(got) == {1, 4, 5}
    g1 = got[1]
    assert (g1.n_members, g1.canonical_name, g1.total_acctbal, g1.n_nations) == (
        3,
        "ann",
        60.0,
        1,
    )
    assert (got[4].n_members, got[4].canonical_name) == (1, "bob")
    assert (got[5].n_members, got[5].canonical_name) == (1, "anne")


# ---------------------------------------------------------------------------
# orders_median_ci
# ---------------------------------------------------------------------------


def test_median_ci_hand_case(spark, tmp_path):
    import math

    # group "A": n=9, values 10..90 by 10 -> median = 5th = 50;
    # l = max(1, ceil((9 - 1.96*3)/2)) = max(1, ceil(1.56)) = 2 ->
    # ci_lo = 20, u = 9 + 1 - 2 = 8 -> ci_hi = 80
    # group "B": n=1 -> l=1, m=1, u=1 -> all three equal the value
    rows = [(k + 1, float((k + 1) * 10), "A") for k in range(9)]
    rows.append((100, 7.0, "B"))
    src = str(tmp_path / "mci_orders")
    (
        spark.createDataFrame(
            rows, "o_orderkey long, o_totalprice double,"
            " o_orderpriority string"
        )
        .write.mode("overwrite")
        .parquet(f"{src}/orders.parquet")
    )
    got = {
        r.o_orderpriority: r
        for r in workloads_analytics.orders_median_ci(
            spark, src
        ).collect()
    }
    z = 1.959963984540054
    l = max(1, math.ceil((9 - z * 3.0) / 2))
    assert l == 2
    a = got["A"]
    assert (a.n_orders, a.ci_lo, a.median, a.ci_hi) == (9, 20.0, 50.0, 80.0)
    b = got["B"]
    assert (b.n_orders, b.ci_lo, b.median, b.ci_hi) == (1, 7.0, 7.0, 7.0)


# ---------------------------------------------------------------------------
# connected components: graph (star contraction) and dedup (min-label)
# ---------------------------------------------------------------------------


def _wcc_mirror(nodes, edges):
    """Union-find reference."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # label = min of component
    comp = {}
    for n in nodes:
        r = find(n)
        comp.setdefault(r, []).append(n)
    out = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def _graph_cases():
    rng = random.Random(1234)
    return {
        # min id attached as a leaf at the FAR end of a path whose ids
        # ascend away from it — a diameter-40 crawl for label-based
        # kernels
        "caterpillar": (
            list(range(0, 41)),
            [(i, i + 1) for i in range(1, 40)] + [(40, 0)],
        ),
        "cliques_pairs_singletons": (
            list(range(60)),
            [(i, j) for i in range(8) for j in range(i + 1, 8)]
            + [(30 + 2 * i, 31 + 2 * i) for i in range(5)],
        ),
        "random200": (
            list(range(200)),
            [
                (rng.randrange(200), rng.randrange(200))
                for _ in range(160)
            ],
        ),
        "selfloops_dups_reversed": (
            list(range(12)),
            [(5, 5), (1, 2), (2, 1), (1, 2), (7, 3), (3, 9)],
        ),
        "star_high_center": (
            list(range(50)),
            [(49, i) for i in range(15)],
        ),
    }


def _graph_cc(ndf, edf):
    return connected_components(ndf, edf)


def _dedup_cc(ndf, edf):
    return dedup.connected_components(
        edf.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b")),
        ndf,
        "node",
    ).select("node", F.col("cluster_id").alias("component"))


_CC_KERNELS = {"graph": _graph_cc, "dedup": _dedup_cc}
# dedup's min-label loop needs diameter-many rounds (41 on the
# caterpillar, 21 on random200) and its per-round planning cost grows
# with depth: a 10-round chain takes ~40 s and a 40-round one exhausts
# the driver heap. Deep graphs are graph.connected_components' job.
_DEEP_FOR_MIN_LABEL = {"caterpillar", "random200"}


@pytest.mark.parametrize(
    "case,kernel",
    [
        pytest.param(case, kernel, id=f"{case}-{kernel}")
        for case in sorted(_graph_cases())
        for kernel in sorted(_CC_KERNELS)
        if not (kernel == "dedup" and case in _DEEP_FOR_MIN_LABEL)
    ],
)
def test_cc_kernels_match_union_find(spark, case, kernel):
    nodes, edges = _graph_cases()[case]
    ndf = spark.createDataFrame([(n,) for n in nodes], "node bigint")
    edf = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {
        r["node"]: r["component"]
        for r in _CC_KERNELS[kernel](ndf, edf).collect()
    }
    assert got == _wcc_mirror(nodes, edges)


def test_connected_components_no_edges_all_singletons(spark):
    ndf = spark.createDataFrame([(i,) for i in range(5)], "node bigint")
    edf = spark.createDataFrame(
        [(0, 0)], "src bigint, dst bigint"
    ).where(F.lit(False))
    got = {
        r["node"]: r["component"]
        for r in connected_components(ndf, edf).collect()
    }
    assert got == {i: i for i in range(5)}


def test_connected_components_serves_string_ids(spark):
    ndf = spark.createDataFrame(
        [("a",), ("b",), ("c",)], "node string"
    )
    edf = spark.createDataFrame([("a", "b")], "src string, dst string")
    got = {
        r["node"]: r["component"]
        for r in connected_components(ndf, edf).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "c"}


def test_star_wcc_long_path_converges_in_log_rounds(spark):
    # a 120-node path: diameter 119 -- min-label propagation would
    # need 119 rounds; star contraction must close it inside the
    # default 20 (in practice ~10)
    nodes = list(range(120))
    edges = [(i, i + 1) for i in range(119)]
    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(ndf, edf).collect()
    }
    assert got == {n: 0 for n in nodes}


def test_star_wcc_matches_union_find_on_mixed_graph(spark):
    # deterministic pseudo-random graph: multiple components, a
    # cycle, a binary-ish tree, duplicate + reversed edges, isolates
    # (roster covers the modular edges' max endpoint, 61)
    nodes = list(range(62))
    edges = []
    edges += [(i, i + 1) for i in range(0, 9)]          # path 0-9
    edges += [(10 + i, 10 + (i + 1) % 7) for i in range(7)]  # cycle 10-16
    edges += [(20 + i, 20 + 2 * i + 1) for i in range(5)]    # tree-ish
    edges += [(40, 41), (41, 40), (42, 42), (43, 44), (44, 45), (43, 45)]
    edges += [(x * 7919 % 17 + 45, x * 104729 % 13 + 45) for x in range(12)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(ndf, edf).collect()
    }
    assert got == _wcc_mirror(nodes, [(a, b) for a, b in edges if a != b])


def test_graph_connected_components_delegates_same_labels(spark):
    # the public connected_components keeps the min-label semantics
    nodes = [1, 2, 3, 4, 5, 9]
    edges = [(1, 2), (2, 3), (4, 5)]
    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(ndf, edf).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 9: 9}


# ---------------------------------------------------------------------------
# k_core
# ---------------------------------------------------------------------------


def _kcore_mirror(nodes, edges, k):
    import collections

    adj = collections.defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    alive = set(nodes)
    while True:
        doomed = {x for x in alive if len(adj[x] & alive) < k}
        if not doomed:
            break
        alive -= doomed
    return alive


def test_k_core_cascade_matches_mirror(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.graph import (
        k_core,
    )

    # a triangle with a pendant chain: 2-core = the triangle only,
    # and discovering that takes a CASCADE (5 -> 4 -> 3 peel waves)
    nodes = [0, 1, 2, 3, 4, 5, 9]
    edges = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5)]
    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["in_core"] for r in k_core(ndf, edf, 2).collect()
    }
    expect = _kcore_mirror(nodes, edges, 2)
    assert got == {n: (n in expect) for n in nodes}
    assert got[9] is False  # isolated node present, out of core
    assert [n for n in nodes if got[n]] == [0, 1, 2]


def test_k_core_k3_empty_on_triangle(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.graph import (
        k_core,
    )

    nodes = [0, 1, 2]
    edges = [(0, 1), (1, 2), (0, 2)]
    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["in_core"] for r in k_core(ndf, edf, 3).collect()
    }
    assert got == {0: False, 1: False, 2: False}


# ---------------------------------------------------------------------------
# customer_target_encoding / events_embargo_split
# ---------------------------------------------------------------------------


def test_target_encoding_hand_case(spark, tmp_path):
    # seg A: 2 orders sum 300 -> raw 150; seg B: 1 order 60 -> raw 60
    # global mean = 360/3 = 120; m = 100
    # enc(A) = (300 + 100*120) / (2 + 100) = 12300/102
    # enc(B) = (60 + 100*120) / (1 + 100) = 12060/101
    src = str(tmp_path / "te")
    (
        spark.createDataFrame(
            [(1, 100.0), (1, 200.0), (2, 60.0)],
            "o_custkey long, o_totalprice double",
        )
        .write.mode("overwrite")
        .parquet(f"{src}/orders.parquet")
    )
    (
        spark.createDataFrame(
            [(1, "A"), (2, "B")], "c_custkey long, c_mktsegment string"
        )
        .write.mode("overwrite")
        .parquet(f"{src}/customer.parquet")
    )
    got = {
        r.c_mktsegment: r
        for r in workloads_analytics.customer_target_encoding(
            spark, src
        ).collect()
    }
    a, b = got["A"], got["B"]
    assert (a.n_orders, a.raw_mean) == (2, 150.0)
    assert a.encoded == (300.0 + 100 * 120.0) / 102.0
    assert (b.n_orders, b.raw_mean) == (1, 60.0)
    assert b.encoded == (60.0 + 100 * 120.0) / 101.0


def test_embargo_split_hand_case(spark, tmp_path):
    # 6 hourly events over [0h, 5h]: range = 5h, cut = 0 + 4h (80%);
    # embargo = 1 day >> range, so 'test' is empty and the post-cut
    # tail is all purged
    rows = [(i, f"2024-01-01 0{i}:00:00") for i in range(6)]
    src = str(tmp_path / "emb")
    (
        spark.createDataFrame(rows, "event_id long, ts_s string")
        .select(
            "event_id",
            F.col("ts_s").cast("timestamp").alias("ts"),
            F.lit(1).cast("long").alias("user_id"),
            F.lit("view").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        .write.mode("overwrite")
        .parquet(f"{src}/events.parquet")
    )
    got = {
        r.split: r
        for r in workloads_timeseries.events_embargo_split(
            spark, src
        ).collect()
    }
    assert set(got) == {"train", "purged"}
    assert got["train"].n_events == 5   # hours 0..4 inclusive of cut
    assert got["purged"].n_events == 1  # hour 5, inside the embargo


# ---------------------------------------------------------------------------
# customer_survival_km / events_diff_in_diff
# ---------------------------------------------------------------------------


def test_survival_km_hand_case(spark, tmp_path):
    # horizon = day of the latest last-order (cust 4). Lifetimes:
    #   c1: days 0..10   -> t=10, last day 10  -> churned (10 < 200-90)
    #   c2: days 0..10   -> t=10, churned
    #   c3: days 0..30   -> t=30, churned
    #   c4: days 0..200  -> t=200, last day 200 -> censored
    # KM: t=10: n_risk=4, d=2 -> S=0.5; t=30: n_risk=2, d=1 -> 0.25;
    #     t=200: n_risk=1, d=0 -> 0.25 (censored tail)
    def ts(day):
        import datetime

        return (
            datetime.datetime(1970, 1, 1)
            + datetime.timedelta(days=day)
        ).strftime("%Y-%m-%d %H:%M:%S")

    rows = []
    for ck, days in [(1, [0, 10]), (2, [0, 5, 10]), (3, [0, 30]),
                     (4, [0, 100, 200])]:
        for d in days:
            rows.append((len(rows), ck, ts(d)))
    src = str(tmp_path / "km")
    (
        spark.createDataFrame(
            rows, "o_orderkey long, o_custkey long, ts_s string"
        )
        .select(
            "o_orderkey",
            "o_custkey",
            F.lit("O").alias("o_orderstatus"),
            F.lit(1.0).alias("o_totalprice"),
            F.col("ts_s").cast("timestamp").alias("o_orderdate"),
            F.lit("1-URGENT").alias("o_orderpriority"),
        )
        .write.mode("overwrite")
        .parquet(f"{src}/orders.parquet")
    )
    got = {
        r.t_days: r
        for r in workloads_analytics.customer_survival_km(
            spark, src
        ).collect()
    }
    assert set(got) == {10, 30, 200}
    assert (got[10].n_risk, got[10].n_events, got[10].n_censored) == (4, 2, 0)
    assert got[10].survival == 1.0 - 2 / 4
    assert (got[30].n_risk, got[30].n_events) == (2, 1)
    assert got[30].survival == (1.0 - 2 / 4) * (1.0 - 1 / 2)
    assert (got[200].n_risk, got[200].n_events, got[200].n_censored) == (1, 0, 1)
    assert got[200].survival == got[30].survival


def test_diff_in_diff_hand_case(spark, tmp_path):
    # time range [0, 10]s -> mid = 5; treated = odd user
    #   ctrl pre: values 10, 20 (mean 15); ctrl post: 30 (mean 30)
    #   treat pre: 100 (mean 100);  treat post: 150, 250 (mean 200)
    # DiD = (200 - 100) - (30 - 15) = 85
    rows = [
        (0, 2, 0, 10.0), (1, 2, 4, 20.0), (2, 2, 8, 30.0),
        (3, 1, 2, 100.0), (4, 1, 7, 150.0), (5, 3, 10, 250.0),
    ]
    src = str(tmp_path / "did")
    (
        spark.createDataFrame(
            rows, "event_id long, user_id long, sec int, value double"
        )
        .select(
            "event_id",
            (F.lit("2024-01-01 00:00:00").cast("timestamp")
             + F.make_interval(secs=F.col("sec"))).alias("ts"),
            "user_id",
            F.lit("view").alias("event_type"),
            "value",
            F.lit("{}").alias("props"),
        )
        .write.mode("overwrite")
        .parquet(f"{src}/events.parquet")
    )
    r = workloads_timeseries.events_diff_in_diff(spark, src).collect()[0]
    assert (r.n_ctrl_pre, r.n_ctrl_post, r.n_treat_pre, r.n_treat_post) == (
        2, 1, 1, 2,
    )
    assert (r.mean_ctrl_pre, r.mean_ctrl_post) == (15.0, 30.0)
    assert (r.mean_treat_pre, r.mean_treat_post) == (100.0, 200.0)
    assert r.did == (200.0 - 100.0) - (30.0 - 15.0)
