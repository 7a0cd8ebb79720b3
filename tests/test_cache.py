"""Session cache contracts (`modforms_db_spark.cache`).

A cached index is a materialization of the same frames, never a semantic
change: cold (``cache.clear()`` then a call) ≡ cached for every consumer.
Entries are keyed on (applicationId, abspath(sf_dir)), revalidated against
their input file, bounded per store, and clearing them never breaks a
frame a caller still holds.
"""

from __future__ import annotations

import gc
import os
import shutil

import pyarrow.parquet as pq

from modforms_db_spark import cache
from tests.conftest import SF_DIR

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# sf0.001 and sf0.01 ship the same documents and embeddings tables; only
# the sf0.1 tier can tell two datasets' frames apart by content.
_OTHER_SF = "/root/testdata/sf0.1"


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def _builder(name: str):
    from modforms_db_spark.registry import get_registry

    return get_registry()[name].builder


def test_lsh_core_cache_cannot_change_results(spark):
    """Both LSH consumers give the same rows cold and cached; a hit
    serves the same rows as the miss that populated it."""
    m, f = _builder("q_dedup_minhash_lsh"), _builder("q_dedup_fuzzy_apply")
    try:
        cache.clear()
        cold_m = _rows(m(spark, SF_DIR))
        hit_m = _rows(m(spark, SF_DIR))
        hit_f = _rows(f(spark, SF_DIR))  # core hit, labels miss
        cache.clear()
        cold_f = _rows(f(spark, SF_DIR))
        assert cold_m == hit_m
        assert cold_f == hit_f
    finally:
        cache.clear()


def test_lsh_core_cache_keyed_by_dataset(spark):
    """Two datasets never share an entry; a trailing slash does."""
    import modforms_db_spark.llm.dedup as dd

    try:
        cache.clear()
        g1, _ = dd._lsh_groups_rep_pairs(spark, SF_DIR)
        g1b, _ = dd._lsh_groups_rep_pairs(spark, SF_DIR + "/")
        assert g1 is g1b
        if os.path.isdir(_OTHER_SF) and os.path.abspath(_OTHER_SF) != os.path.abspath(
            SF_DIR
        ):
            g2, _ = dd._lsh_groups_rep_pairs(spark, _OTHER_SF)
            assert g1 is not g2
            assert g1.count() != g2.count(), "distinct datasets, distinct groups"
    finally:
        cache.clear()


def test_kmeans_core_cache_cannot_change_results(spark):
    """Both k-means consumers give the same rows cold and cached; a hit
    serves the same rows as the miss that populated it."""
    k, s = _builder("q_cluster_kmeans"), _builder("q_dedup_semantic")
    try:
        cache.clear()
        cold_k = _rows(k(spark, SF_DIR))
        hit_k = _rows(k(spark, SF_DIR))
        miss_s = _rows(s(spark, SF_DIR))  # k-means hit, semantic labels miss
        hit_s = _rows(s(spark, SF_DIR))
        cache.clear()
        cold_s = _rows(s(spark, SF_DIR))
        assert cold_k == hit_k
        assert cold_s == miss_s == hit_s
    finally:
        cache.clear()


def test_kmeans_core_cache_keyed_by_dataset(spark):
    """Two datasets never share an entry; a trailing slash does."""
    import modforms_db_spark.llm.similarity as sim

    try:
        cache.clear()
        a1 = sim.kmeans_core(spark, SF_DIR)
        assert a1 is sim.kmeans_core(spark, SF_DIR + "/")
        if os.path.isdir(_OTHER_SF) and os.path.abspath(_OTHER_SF) != os.path.abspath(
            SF_DIR
        ):
            a2 = sim.kmeans_core(spark, _OTHER_SF)
            assert a1 is not a2
            assert a1.count() != a2.count(), "distinct datasets, distinct frames"
    finally:
        cache.clear()


def test_session_caches_bounded_and_clearable(spark):
    """Index stores evict oldest-first at MAX_DATASETS; clear() empties
    them in place and keeps the catalog. The store objects perfbench
    reads stay the live ones and grow by one per build."""
    import modforms_db_spark.llm.dedup as dd
    import modforms_db_spark.llm.similarity as sim
    from modforms_db_spark.io import load

    appid = spark.sparkContext.applicationId
    try:
        cache.clear()
        real = sim.kmeans_core(spark, SF_DIR)
        assert len(sim._KMEANS_CORE_CACHE) == 1
        assert real is sim.kmeans_core(spark, SF_DIR)
        # Lazy-safe fake datasets: the build never reads anything.
        fakes = [f"/nonexistent/sf{i}" for i in range(cache.MAX_DATASETS + 3)]
        for d in fakes:
            cache.get(cache.KMEANS_CORE, spark, d, "embeddings", object)
        assert list(cache.KMEANS_CORE) == [
            (appid, d) for d in fakes[-cache.MAX_DATASETS :]
        ]
        assert real is not sim.kmeans_core(spark, SF_DIR), "evicted, rebuilt"

        dd.lsh_core_cache_clear()
        assert not sim._KMEANS_CORE_CACHE
        dd._lsh_groups_rep_pairs(spark, SF_DIR)
        assert len(dd._LSH_CORE_CACHE) == 1
        assert dd._LSH_CORE_CACHE is cache.LSH_CORE
        assert sim._KMEANS_CORE_CACHE is cache.KMEANS_CORE

        load(spark, SF_DIR, "region")
        sim.kmeans_core_cache_clear()
        assert not any(cache._INDEXES)
        assert (appid, os.path.abspath(SF_DIR), "region") in cache.CATALOG
    finally:
        cache.clear()


def test_rewritten_inputs_give_new_results(spark, tmp_path):
    """Rewriting documents and embeddings at the same path in a live
    session changes the LSH and k-means results to exactly what a
    cleared session computes, never the stale cached ones; the stale
    entries are replaced in place."""
    sf = str(tmp_path / "sf")
    shutil.copytree(os.path.join(_REPO, "perfbench", "data", "sf0.001"), sf)
    m, k = _builder("q_dedup_minhash_lsh"), _builder("q_cluster_kmeans")
    try:
        cache.clear()
        before_m, before_k = _rows(m(spark, sf)), _rows(k(spark, sf))
        for table in ("documents", "embeddings"):
            path = os.path.join(sf, f"{table}.parquet")
            t = pq.read_table(path)
            pq.write_table(t.slice(0, t.num_rows // 2), path)
        got_m, got_k = _rows(m(spark, sf)), _rows(k(spark, sf))
        assert len(cache.LSH_CORE) == len(cache.KMEANS_CORE) == 1
        cache.clear()
        fresh_m, fresh_k = _rows(m(spark, sf)), _rows(k(spark, sf))
        assert len(got_m) == len(fresh_m) != len(before_m)
        assert got_m == fresh_m
        assert got_k == fresh_k != before_k
    finally:
        cache.clear()


def test_relative_sf_dir_shares_absolute_entry(spark):
    """A relative sf_dir and its absolute form hit the same entry."""
    import modforms_db_spark.llm.similarity as sim
    from modforms_db_spark.io import load

    rel = os.path.relpath(SF_DIR)
    try:
        cache.clear()
        assert load(spark, rel, "documents") is load(spark, SF_DIR, "documents")
        assert sim.kmeans_core(spark, rel) is sim.kmeans_core(spark, SF_DIR)
        assert len(cache.KMEANS_CORE) == 1
    finally:
        cache.clear()


def test_frames_survive_clear(spark):
    """A frame returned before clear() still executes after it: clearing
    drops references only, so checkpoint blocks a held frame reads are
    never unpersisted under it."""
    m, k = _builder("q_dedup_minhash_lsh"), _builder("q_cluster_kmeans")
    try:
        cache.clear()
        dm, dk = m(spark, SF_DIR), k(spark, SF_DIR)
        before_m, before_k = _rows(dm), _rows(dk)
        cache.clear()
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        assert _rows(dm) == before_m
        assert _rows(dk) == before_k
    finally:
        cache.clear()
