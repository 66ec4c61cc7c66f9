"""Round-15 optimization guards, plus the ``fixed_point`` loop contract.

1. ``session.fixed_point`` — the one convergence loop behind graph
   connected components, k-core, coreness and dedup's min-label
   components — measures once per step, chains ``rounds_per_step``
   rounds per step, raises past its bound, and releases every frame
   but the one it returns.
2. The materialize-then-release pattern must not leave stale cached
   data behind: after a sweep or iterative operator's returned frame
   is consumed and unpersisted — or after an iterative operator
   raised at its ``max_iter`` bound — NO cached RDD may survive (r14
   verdict item 3 — this is the regression test that goes red if
   someone removes an input's ``finally`` unpersist, which would
   silently turn the bench's min-of-5 into a cache benchmark on a
   future Spark).
3. Bench-style consumption (count + ``spark.catalog.clearCache()``)
   keeps the CacheManager flat across catalog queries (r14 verdict
   item 5).
4. Label propagation keeps its keep/seed/vote semantics, seed clamp
   included.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_sql_server_to_s3_datalake_etl_migration_spark.session import (
    fixed_point,
)


# ---------------------------------------------------------------------------
# fixed_point: step/measure cadence, bound, frame ownership
# ---------------------------------------------------------------------------


class _Frame:
    """Stand-in for a DataFrame: a value plus a persisted flag."""

    def __init__(self, value):
        self.value = value
        self.persisted = False

    def persist(self):
        self.persisted = True
        return self

    def unpersist(self, blocking=False):
        self.persisted = False
        return self


def _counting_loop(start, **kw):
    frames, calls = [], {"step": 0, "measure": 0}

    def step(f):
        calls["step"] += 1
        frames.append(_Frame(max(f.value - 1, 0)))
        return frames[-1]

    def measure(f):
        assert f.persisted
        calls["measure"] += 1
        return f.value

    first = _Frame(start)
    frames.append(first)
    try:
        out = fixed_point(first, step, measure=measure, name="demo", **kw)
    except RuntimeError as e:
        out = e
    return out, frames, calls


def test_fixed_point_measures_once_per_step_and_chains_rounds():
    # 5 -> 3 -> 1 -> 0 -> 0: four steps, the last one unchanged
    out, frames, calls = _counting_loop(
        5, rounds_per_step=2, max_rounds=100
    )
    assert isinstance(out, _Frame) and out.value == 0
    assert calls == {"measure": 1 + 4, "step": 4 * 2}
    # the returned frame is the only one left persisted
    assert out.persisted
    assert [f for f in frames if f.persisted] == [out]


def test_fixed_point_raises_at_bound_and_releases_everything():
    out, frames, calls = _counting_loop(
        100, rounds_per_step=3, max_rounds=7
    )
    assert isinstance(out, RuntimeError)
    assert "demo did not converge in 7 rounds" in str(out)
    # ceil(7 / 3) = 3 steps of 3 rounds each
    assert calls == {"measure": 1 + 3, "step": 3 * 3}
    assert not any(f.persisted for f in frames)


def test_fixed_point_confirm_gates_convergence_before_release():
    seen = []

    def confirm(prev, nxt):
        # runs while prev is still cached; refuse once
        assert prev.persisted and nxt.persisted
        seen.append(prev.value)
        return len(seen) > 1

    first = _Frame(2)
    out = fixed_point(
        first,
        lambda f: _Frame(max(f.value - 1, 0)),
        measure=lambda f: f.value,
        max_rounds=10,
        name="demo",
        confirm=confirm,
    )
    # 2 -> 1 -> 0 -> 0 (refused) -> 0 (confirmed)
    assert out.value == 0 and seen == [0, 0]
    assert out.persisted and not first.persisted


def test_default_driver_memory_fits_host_and_keeps_env_override(monkeypatch):
    import os

    from aws_sql_server_to_s3_datalake_etl_migration_spark.session import (
        default_driver_memory,
    )

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    got = default_driver_memory()
    assert got.endswith("m")
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert 0 < int(got[:-1]) <= min(16 << 10, ram_mb // 2)


def test_connected_components_algo_param_same_labels(spark):
    # one graph CC kernel: the min-label contract holds and there is no
    # algo= knob left to route callers to another kernel
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.graph import (
        connected_components,
    )

    nodes = [1, 2, 3, 4, 5, 9]
    edges = [(1, 2), (2, 3), (4, 5)]
    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(ndf, edf).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 9: 9}
    with pytest.raises(TypeError, match="algo"):
        connected_components(ndf, edf, algo="pointer_jump")


# ---------------------------------------------------------------------------
# cache hygiene: materialize-then-release must not strand cached data
# ---------------------------------------------------------------------------


def _cached_rdd_count(spark) -> int:
    """Cached-RDD count; polls briefly because block drops of
    non-blocking unpersists (e.g. operators' internal ``finally``
    releases) land asynchronously."""
    import time

    n = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    deadline = time.time() + 10.0
    while n and time.time() < deadline:
        time.sleep(0.2)
        n = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    return n


def _consume_and_release(spark, df) -> None:
    df.count()
    df.unpersist(blocking=True)


def test_sweep_operators_leave_no_stale_cache(spark):
    """After consuming a sweep operator's returned (persisted) frame
    and unpersisting it, no cached RDD may survive. Red if an
    operator's input ``finally`` unpersist is removed — the stranded
    input cache would show up here AND would turn repeat bench
    iterations into cache reads."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        dedup,
        linkage,
        retrieval,
    )

    spark.catalog.clearCache()
    docs = spark.createDataFrame(
        [
            (i, f"alpha beta gamma delta epsilon zeta token{i % 7} "
                f"eta theta iota kappa{i % 3}")
            for i in range(60)
        ],
        "doc_id bigint, text string",
    )
    names = spark.createDataFrame(
        [(i, f"Customer#{i:05d}") for i in range(80)],
        "cid bigint, name string",
    )

    _consume_and_release(
        spark,
        linkage.edit_distance_self_join(names, "cid", "name"),
    )
    assert _cached_rdd_count(spark) == 0, "edit_distance_self_join"

    _consume_and_release(
        spark,
        dedup.ngram_containment_pairs(docs, n=2, threshold=0.5),
    )
    assert _cached_rdd_count(spark) == 0, "ngram_containment_pairs"

    _consume_and_release(
        spark,
        retrieval.bm25_topk(docs, ["alpha", "token1"], k=5),
    )
    assert _cached_rdd_count(spark) == 0, "bm25_topk"


def test_iterative_operators_leave_no_stale_cache(spark):
    """The iterative loops (the four ``fixed_point`` users, BPE
    learner, label propagation) release every per-round frame except
    the returned result — and when a ``fixed_point`` user raises at
    its ``max_iter`` bound, nothing at all."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        dedup,
        graph,
        similarity,
        textops,
    )

    spark.catalog.clearCache()
    ndf = spark.createDataFrame([(i,) for i in range(12)], "node bigint")
    edf = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "src bigint, dst bigint"
    )
    pairs = edf.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
    doc_ids = ndf.select(F.col("node").alias("doc_id"))
    loops = {
        "dedup.connected_components": lambda **kw: (
            dedup.connected_components(pairs, doc_ids, "doc_id", **kw)
        ),
        "graph.connected_components": lambda **kw: (
            graph.connected_components(ndf, edf, **kw)
        ),
        "graph.k_core": lambda **kw: graph.k_core(ndf, edf, 2, **kw),
        "graph.coreness": lambda **kw: graph.coreness(ndf, edf, **kw),
    }
    for name, run in loops.items():
        _consume_and_release(spark, run())
        assert _cached_rdd_count(spark) == 0, name
        # a 12-node path needs more than one round in every loop
        with pytest.raises(RuntimeError, match="did not converge"):
            run(max_iter=1)
        assert _cached_rdd_count(spark) == 0, f"{name} (max_iter=1)"

    docs = spark.createDataFrame(
        [(1, "low lower lowest newer newest wide wider")],
        "doc_id bigint, text string",
    )
    merges = textops.bpe_learn_merges(docs, n_merges=4)
    merges.collect()  # plain driver-side frame, nothing persisted
    assert _cached_rdd_count(spark) == 0, "bpe_learn_merges"

    embs = spark.createDataFrame(
        [
            (i, [float(i % 4) + 1.0, float((i + 1) % 3)], f"L{i % 2}")
            for i in range(24)
        ],
        "vec_id bigint, embedding array<double>, label string",
    )
    _consume_and_release(
        spark,
        similarity.label_propagation(
            embs, k=3, n_cells=2, iterations=3, seeded_cells=True
        ),
    )
    assert _cached_rdd_count(spark) == 0, "label_propagation"


def test_bench_style_consumption_keeps_cachemanager_flat(spark, sf_dir):
    """Bench/checker consumption contract: count + clearCache after
    each catalog query keeps the CacheManager empty — one entry per
    sweep query must not accumulate across a catalog pass."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark import (
        workloads,
    )

    spark.catalog.clearCache()
    qs = workloads.queries()
    cm = spark._jsparkSession.sharedState().cacheManager()
    for name in (
        "customer_name_neardup_pairs",
        "doc_ngram_containment_pairs",
        "doc_link_components",
    ):
        qs[name](spark, sf_dir).count()
        spark.catalog.clearCache()
        assert cm.isEmpty(), f"CacheManager not flat after {name}"
        assert _cached_rdd_count(spark) == 0, name


# ---------------------------------------------------------------------------
# label propagation: the folded self-vote arm must keep the exact
# keep/seed/vote semantics (negative vote masses included)
# ---------------------------------------------------------------------------


def test_label_propagation_adopts_negative_mass_votes(spark):
    """A non-seed whose only labeled neighbor votes with NEGATIVE
    cosine mass must still ADOPT the vote (the old join-back rule's
    coalesce took any vote); the r15 self-vote sentinel must lose to
    it. Seeds keep their label against any vote."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        similarity,
    )

    embs = spark.createDataFrame(
        [
            (0, [1.0, 0.0], "A"),
            (1, [-1.0, 0.01], "B"),  # non-seed; cosine to 0 is ~ -1
        ],
        "vec_id bigint, embedding array<double>, label string",
    )
    for fp in (False, True):
        out = {
            r["vec_id"]: (r["label"], r["is_seed"])
            for r in similarity.label_propagation(
                embs,
                k=2,
                n_cells=1,
                iterations=1,
                seed_filter=F.col("vec_id") == 0,
                seeded_cells=True,
                fp_weights=fp,
            ).collect()
        }
        assert out[0] == ("A", True), fp
        assert out[1] == ("A", False), fp


def test_label_propagation_unreached_nodes_keep_null(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        similarity,
    )

    # two isolated seedless vectors in their own cell never get a
    # label; the seed keeps its own
    embs = spark.createDataFrame(
        [
            (0, [1.0, 0.0], "A"),
            (7, [0.0, 1.0], "B"),
            (9, [0.0, 0.9], "C"),
        ],
        "vec_id bigint, embedding array<double>, label string",
    )
    out = {
        r["vec_id"]: r["label"]
        for r in similarity.label_propagation(
            embs,
            k=1,
            n_cells=2,
            iterations=2,
            seed_filter=F.col("vec_id") == 0,
            seeded_cells=True,
        ).collect()
    }
    assert out[0] == "A"
    # 7 and 9 share a cell with each other only (both unlabeled):
    # no labeled component ever reaches them
    assert out[7] is None and out[9] is None


def test_label_propagation_seeds_keep_label_on_degenerate_vector(spark):
    """A seed whose vector holds a NaN scores a NaN cosine to every
    neighbor. In float mode Spark sorts that NaN vote mass ABOVE the
    +inf seed sentinel, so before the final seed clamp the two seeds
    below swapped labels; in fp mode floor(NaN) is 0 and the 2^62
    sentinel already held. (A zero-norm vector never reaches the vote:
    under the session's ANSI default its cosine raises
    DIVIDE_BY_ZERO.)"""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        similarity,
    )

    embs = spark.createDataFrame(
        [
            (0, [float("nan"), 0.0], "A"),
            (1, [1.0, 0.0], "B"),
            (2, [1.0, 0.1], "C"),
        ],
        "vec_id bigint, embedding array<double>, label string",
    )
    for fp in (False, True):
        out = {
            r["vec_id"]: (r["label"], r["is_seed"])
            for r in similarity.label_propagation(
                embs,
                k=2,
                n_cells=1,
                iterations=1,
                seed_filter=F.col("vec_id").isin(0, 1),
                seeded_cells=True,
                fp_weights=fp,
            ).collect()
        }
        assert out[0] == ("A", True), fp
        assert out[1] == ("B", True), fp
