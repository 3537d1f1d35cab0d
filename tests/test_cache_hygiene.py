"""Deterministic cache lifecycle: no persisted blocks survive a dedup /
ANN query beyond the handle the caller owns.

The pair miners and index builders persist O(corpus) intermediates
(compute sharing + plan barriers — see operators/caching.py). The
contract under test: every internal cache is unpersisted before the
operator returns, and the returned (checkpointed) result is the ONLY
new persistent RDD — freed by ``release_result`` when the caller is
done, leaving the context exactly as it started.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from unimib_simpss_spark.catalog import load_table
from unimib_simpss_spark.operators import dedup as D
from unimib_simpss_spark.operators import similarity as S
from unimib_simpss_spark.operators.caching import persistent_rdd_ids, release_result

SF_SMALL = "/root/testdata/sf0.001"


def _docs(spark):
    return load_table(spark, SF_SMALL, "documents")


def _emb(spark):
    return load_table(spark, SF_SMALL, "embeddings")


OPS = {
    "jaccard_pairs": lambda spark: D.jaccard_pairs(_docs(spark), threshold=0.8),
    "minhash_pairs": lambda spark: D.minhash_dedup_pairs(_docs(spark), threshold=0.8),
    "simhash_pairs": lambda spark: D.simhash_pairs(_docs(spark), max_hamming=3),
    "incremental_dedup": lambda spark: D.incremental_dedup_pairs(
        _docs(spark), is_new=(F.col("doc_id") % 5 == 0), threshold=0.8
    ),
    "decontaminate": lambda spark: D.decontaminate(
        _docs(spark), is_benchmark=(F.col("doc_id") % 97 == 0)
    ),
    "kmeans_cells": lambda spark: S.kmeans_cells(_emb(spark), k=4, iters=2),
    "lsh_topk": lambda spark: S.hyperplane_lsh_topk(_emb(spark), k=3, n_tables=4),
}


@pytest.mark.parametrize("name", sorted(OPS))
def test_op_releases_every_internal_cache(spark, name):
    before = persistent_rdd_ids(spark)
    out = OPS[name](spark)
    out.collect()
    leaked = persistent_rdd_ids(spark) - before
    # the only new blocks may be the result's own checkpoint
    release_result(out)
    assert persistent_rdd_ids(spark) - before == set(), (
        f"{name} leaked persistent RDDs beyond its result handle "
        f"(new ids while held: {sorted(leaked)})"
    )


def test_dedup_clusters_single_handle(spark):
    before = persistent_rdd_ids(spark)
    docs = _docs(spark)
    pairs = D.jaccard_pairs(docs, threshold=0.8)
    clusters = D.dedup_clusters(docs, pairs)
    release_result(pairs)
    clusters.collect()
    release_result(clusters)
    assert persistent_rdd_ids(spark) - before == set()


def test_release_result_noop_on_lazy_plan(spark):
    df = _docs(spark).select("doc_id")
    release_result(df)  # must not raise
    assert df.count() > 0


def test_durable_checkpoint_mode(spark, tmp_path):
    """The 100 TB deployment path: checkpoint_mode('durable') routes
    materialize_release through reliable ``checkpoint()`` against the
    context checkpoint dir (files survive executor churn, unlike
    localCheckpoint blocks)."""
    import os

    from unimib_simpss_spark.operators.caching import (
        checkpoint_mode,
        materialize_release,
        set_checkpoint_mode,
    )

    ckpt_dir = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt_dir)
    set_checkpoint_mode("durable")
    try:
        assert checkpoint_mode() == "durable"
        out = materialize_release(_docs(spark).select("doc_id"))
        assert out.count() > 0
        # reliable checkpoint wrote files under the checkpoint dir
        found = [
            os.path.join(root, f)
            for root, _, files in os.walk(ckpt_dir)
            for f in files
        ]
        assert found, "durable mode must write checkpoint files"
        # dedup ops still honor the hygiene contract in durable mode
        before = persistent_rdd_ids(spark)
        pairs = D.jaccard_pairs(_docs(spark), threshold=0.8)
        pairs.collect()
        release_result(pairs)
        assert persistent_rdd_ids(spark) - before == set()
    finally:
        set_checkpoint_mode("local")

    with pytest.raises(ValueError):
        set_checkpoint_mode("bogus")


# Registry-level sweep: every query that persists/checkpoints internally
# must leave the context clean once the caller releases its one handle.
# (Catches composition leaks the per-operator tests can't — e.g. a lazy
# union over two checkpointed legs, where release_result on the union
# cannot reach the children's blocks.)
CACHE_HEAVY_QUERIES = (
    "q31_dedup_groups",
    "q33_jaccard_pairs",
    "q34_hash_band_pairs",
    "q36_cosine_topk",
    "q38_decontamination",
    "q59_dedup_clusters",
    "q61_incremental_dedup",
    "q62_corpus_pipeline",
    "q64_bigram_lm_score",
    "x41_media_pipeline",
    "x50_ann_learned_index",
    "x66_pq_topk",
)


@pytest.mark.parametrize("name", CACHE_HEAVY_QUERIES)
def test_query_releases_all_caches(spark, name):
    from unimib_simpss_spark.plans import registry as R

    qs = R.queries()
    before = persistent_rdd_ids(spark)
    df = qs[name](spark, SF_SMALL)
    df.count()
    release_result(df)
    leaked = persistent_rdd_ids(spark) - before
    assert leaked == set(), f"{name} leaked persistent RDDs: {sorted(leaked)}"


def test_entire_registry_leaves_context_clean(spark):
    """Run EVERY registered query once (sf0.001) and require the
    context's persistent-RDD set to return to its starting state after
    each result handle is released — the catch-all for queries added
    after the named CACHE_HEAVY_QUERIES list above."""
    from unimib_simpss_spark.plans import registry as R

    qs = R.queries()
    before = persistent_rdd_ids(spark)
    leaks: dict[str, list[int]] = {}
    for name, fn in sorted(qs.items()):
        df = fn(spark, SF_SMALL)
        df.count()
        release_result(df)
        leaked = persistent_rdd_ids(spark) - before
        if leaked:
            leaks[name] = sorted(leaked)
            break  # attribute the first leak precisely, then stop
    assert not leaks, leaks


def test_checkpoint_table_mode(spark, tmp_path):
    """VERDICT r8 #5 — the explicit checkpoint-TABLE contract: in
    'table' mode, cache_intermediate / materialize_release write
    parquet tables instead of holding executor blocks, q34's miner
    returns the identical answer, no persistent RDDs appear at any
    point, and release deletes the backing directories."""
    import os

    from unimib_simpss_spark.operators.caching import (
        cache_intermediate,
        live_checkpoint_tables,
        materialize_release,
        release_intermediate,
        set_checkpoint_mode,
        set_checkpoint_table_dir,
        sweep_checkpoint_tables,
    )

    def ckpt_dirs():
        return sorted(
            os.path.join(root, d)
            for root, dirs, _ in os.walk(tdir)
            for d in dirs
            if d.startswith("ckpt-")
        )

    tdir = str(tmp_path / "ckpt_tables")
    # mode requires a dir first
    with pytest.raises(ValueError, match="set_checkpoint_table_dir"):
        set_checkpoint_mode("table")
    set_checkpoint_table_dir(tdir)
    set_checkpoint_mode("table")
    # clearing the dir while table mode is active must be loud, not a
    # silent write to the relative path 'None/ckpt-N'
    with pytest.raises(ValueError, match="table"):
        set_checkpoint_table_dir(None)
    before = persistent_rdd_ids(spark)
    try:
        # round-trip: a cached intermediate is written + re-read intact
        src = _docs(spark).select("doc_id", "source")
        inter = cache_intermediate(src)
        assert ckpt_dirs() != []
        assert live_checkpoint_tables() != frozenset()
        assert {r.doc_id for r in inter.collect()} == {
            r.doc_id for r in src.collect()
        }
        release_intermediate(inter)
        assert live_checkpoint_tables() == frozenset()

        # releasing a TRANSFORMED handle (which loses the stashed path
        # attribute) still finds and deletes the backing directory via
        # the live-path registry (ADVICE r9)
        inter2 = cache_intermediate(src)
        n_live = len(live_checkpoint_tables())
        derived = inter2.select("doc_id").where("doc_id IS NOT NULL")
        assert not hasattr(derived, "_simpss_checkpoint_table_path")
        release_intermediate(derived)
        assert len(live_checkpoint_tables()) == n_live - 1

        # the heavy query: identical pairs via table-backed caches
        expect = {
            (r.doc1, r.doc2, r.jaccard)
            for r in D.minhash_dedup_pairs(_docs(spark), threshold=0.8).collect()
        }
        set_checkpoint_mode("local")
        local_pairs = D.minhash_dedup_pairs(_docs(spark), threshold=0.8)
        got_local = {
            (r.doc1, r.doc2, r.jaccard) for r in local_pairs.collect()
        }
        release_result(local_pairs)
        set_checkpoint_mode("table")
        assert expect == got_local

        # zero block usage while in table mode, and result release
        # removes the result's backing directory
        out = materialize_release(_docs(spark).select("doc_id"))
        assert persistent_rdd_ids(spark) - before == set()
        n_dirs = len(ckpt_dirs())
        release_result(out)
        assert len(ckpt_dirs()) == n_dirs - 1

        # end-of-job sweep removes anything still live
        sweep_checkpoint_tables(spark)
        assert live_checkpoint_tables() == frozenset()
    finally:
        set_checkpoint_mode("local")
        set_checkpoint_table_dir(None)
    assert persistent_rdd_ids(spark) - before == set()


def test_block_persisted_handle_never_releases_upstream_table(spark, tmp_path):
    """CODE-REVIEW r10 — the mode-flip trap: a block-persisted handle
    built OVER a table-backed intermediate must release by unpersist,
    never by deleting the upstream table other handles still read."""
    from unimib_simpss_spark.operators.caching import (
        cache_intermediate,
        live_checkpoint_tables,
        release_intermediate,
        set_checkpoint_mode,
        set_checkpoint_table_dir,
        sweep_checkpoint_tables,
    )

    set_checkpoint_table_dir(str(tmp_path / "ckpt"))
    set_checkpoint_mode("table")
    try:
        a = cache_intermediate(_docs(spark).select("doc_id", "source"))
        n_live = len(live_checkpoint_tables())
        set_checkpoint_mode("local")
        d = cache_intermediate(a.where("doc_id % 2 = 0"))  # block persist
        d.count()
        release_intermediate(d)  # must unpersist d, NOT delete a's table
        assert len(live_checkpoint_tables()) == n_live
        # a is still readable
        assert a.count() > 0
        release_intermediate(a)
        assert len(live_checkpoint_tables()) == n_live - 1
    finally:
        set_checkpoint_mode("local")
        sweep_checkpoint_tables(spark)
        set_checkpoint_table_dir(None)


def test_q61_releases_everything_when_a_leg_fails(spark, monkeypatch):
    """ADVICE r18: a leg failure in the threaded q61 host must not leak
    the shared caches, the sibling legs' already-materialized handles,
    or the pool's non-daemon threads. The edit leg is planted to raise;
    the host must propagate the error with the context left clean."""
    import threading

    from unimib_simpss_spark.plans import llm_dedup

    before = persistent_rdd_ids(spark)
    threads_before = set(threading.enumerate())

    def boom(*a, **kw):
        raise RuntimeError("planted leg failure")

    monkeypatch.setattr(D, "edit_distance_join", boom)
    with pytest.raises(RuntimeError, match="planted leg failure"):
        llm_dedup.q61_incremental_dedup(spark, SF_SMALL)
    leaked = persistent_rdd_ids(spark) - before
    assert leaked == set(), f"q61 leaked persistent RDDs: {sorted(leaked)}"
    # the pool was shut down: no worker thread the host started survives
    # it (pools other code left running are not this host's to judge)
    assert not [
        t
        for t in set(threading.enumerate()) - threads_before
        if t.name.startswith("ThreadPoolExecutor") and t.is_alive()
    ]
