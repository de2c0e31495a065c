"""Round-6 guard rails (ADVICE r5 items, all in catalog.py / paths.py):

- SQL-literal escaping of table/schema names in constraint discovery
  (a quoted identifier containing ' must not break the info-schema query).
- _INFOSCHEMA cache entries are weakref-validated so a recycled id() from
  a garbage-collected session can never serve a stale probe verdict.
- constraint_foreign_keys schema-qualifies cross-schema referenced tables.
- materialize()'s Spark Connect persist fallback bounds its cached-frame
  residue (oldest unpersisted past a keep window).
- default_parallelism tolerates a non-numeric shuffle-partitions conf.
"""

from __future__ import annotations

from duckpgq_extension_spark import catalog as C
from duckpgq_extension_spark.operators import paths as P


# ------------------------------------------------- SQL literal escaping


def test_sql_str_escapes_single_quotes():
    assert C._sql_str("o'brien") == "o''brien"
    assert C._sql_str("plain") == "plain"
    assert C._sql_str("a''b") == "a''''b"


def test_constraint_discovery_survives_quoted_identifier(spark):
    # Session catalog has no information_schema, so both return [] — the
    # point is that a name containing a single quote must not raise on the
    # way there (the f-string used to produce invalid SQL, swallowed by the
    # bare except and indistinguishable from "no constraints").
    assert C.constraint_primary_key(spark, "`it's`.`o'brien`") == []
    assert C.constraint_foreign_keys(spark, "`it's`.`o'brien`") == []


# ------------------------------------------------- stale-id cache guard


def test_infoschema_cache_revalidates_on_id_reuse(spark):
    """A cache entry whose weakref no longer points at the probing session
    (CPython id() reuse after GC) must be re-probed, not served."""

    class _DeadSession:
        pass

    dead = _DeadSession()
    key = (id(spark), "")
    # Poison the cache: claim information_schema IS available, attributed
    # to a different (collected) session that happens to share the id.
    import weakref

    C._INFOSCHEMA[key] = (weakref.ref(dead), True)
    try:
        # The real session catalog has no information_schema: a stale hit
        # would return True; revalidation must re-probe and say False.
        assert C._infoschema_available(spark, "") is False
        ref, val = C._INFOSCHEMA[key]
        assert ref() is spark and val is False
    finally:
        C._INFOSCHEMA.pop(key, None)


def test_infoschema_cache_hit_for_same_session(spark):
    C._INFOSCHEMA.pop((id(spark), ""), None)
    try:
        first = C._infoschema_available(spark, "")
        # Second call must come from cache (entry unchanged, same verdict).
        assert C._infoschema_available(spark, "") is first
    finally:
        C._INFOSCHEMA.pop((id(spark), ""), None)


# --------------------------------------- Connect persist residue bound


def test_connect_persist_residue_bounded():
    class _Frame:
        def __init__(self, log):
            self.log = log
            self.released = False

        def unpersist(self):
            self.released = True
            self.log.append(self)

    released: list = []
    P._CONNECT_PERSISTED.clear()
    try:
        frames = [_Frame(released) for _ in range(P._CONNECT_PERSIST_KEEP + 3)]
        for f in frames:
            P._bound_connect_persist_residue(f)
        # Oldest 3 released, most recent KEEP retained in order.
        assert released == frames[:3]
        assert P._CONNECT_PERSISTED == frames[3:]
        assert not any(f.released for f in frames[3:])
    finally:
        P._CONNECT_PERSISTED.clear()


def test_connect_persist_residue_swallows_unpersist_errors():
    class _Torn:
        def unpersist(self):
            raise RuntimeError("session closed")

    P._CONNECT_PERSISTED.clear()
    try:
        for _ in range(P._CONNECT_PERSIST_KEEP + 2):
            P._bound_connect_persist_residue(_Torn())  # must not raise
        assert len(P._CONNECT_PERSISTED) == P._CONNECT_PERSIST_KEEP
    finally:
        P._CONNECT_PERSISTED.clear()


# --------------------------------------- non-numeric parallelism conf


def test_default_parallelism_non_numeric_conf_falls_back():
    class _Conf:
        def get(self, key, default=None):
            return "auto"  # AQE-managed platforms use sentinel strings

    class _FakeConnectSession:
        conf = _Conf()

        @property
        def sparkContext(self):
            raise AttributeError("sparkContext is not supported on Connect")

    assert P.default_parallelism(_FakeConnectSession()) == 200


# --------------------------------------- session adjacency cache


def test_prep_edges_cache_hits_same_plan(spark):
    from pyspark.sql import functions as F

    P.clear_prep_cache()
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    a = P._prep_edges(df, 4)
    b = P._prep_edges(df, 4)
    assert a is b, "same analyzed plan + partitions must hit the cache"
    # a different partition count is a different entry
    c = P._prep_edges(df, 8)
    assert c is not a
    # a semantically different frame misses
    d = P._prep_edges(df.where(F.col("src") > 1), 4)
    assert d is not a
    P.clear_prep_cache(spark)
    e = P._prep_edges(df, 4)
    assert e is not a, "clear_prep_cache must drop the entry"


def test_prep_edges_cache_not_stale_across_view_repoint(spark, tmp_path):
    """Re-pointing a temp view at DIFFERENT files must miss the cache —
    the file index lives in the analyzed plan (the round-3 bench bug
    class: silently measuring the previous tier)."""
    p1, p2 = str(tmp_path / "e1"), str(tmp_path / "e2")
    spark.createDataFrame([(1, 2)], "src long, dst long").write.parquet(p1)
    spark.createDataFrame(
        [(1, 2), (2, 3)], "src long, dst long"
    ).write.parquet(p2)
    P.clear_prep_cache()
    spark.read.parquet(p1).createOrReplaceTempView("__adjcache_e")
    out1 = P._prep_edges(spark.table("__adjcache_e"), 4)
    spark.read.parquet(p2).createOrReplaceTempView("__adjcache_e")
    out2 = P._prep_edges(spark.table("__adjcache_e"), 4)
    assert out1.count() == 1 and out2.count() == 2


def test_prep_edges_cache_fifo_cap(spark):
    from pyspark.sql import functions as F

    P.clear_prep_cache()
    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    first = P._prep_edges(df, 4)
    for i in range(P._PREP_CACHE_MAX):
        P._prep_edges(df.where(F.col("src") != F.lit(1000 + i)), 4)
    again = P._prep_edges(df, 4)
    assert again is not first, "FIFO cap must have evicted the oldest"
    assert again.count() == 2, "evicted frames must still be rebuildable"


def test_cache_invalidation_is_public_api(spark, tmp_path):
    """clear_prep_cache is exported at package top level and wrapped as
    PGQSession.clear_adjacency_cache (the delete_csr analog) — users who
    rewrite table files in-session need a supported invalidation path
    (round-6 advice)."""
    import duckpgq_extension_spark as dpq
    from duckpgq_extension_spark.operators import paths as P

    assert dpq.clear_prep_cache is P.clear_prep_cache
    assert "clear_prep_cache" in dpq.__all__

    sess = dpq.PGQSession(spark, catalog_path=str(tmp_path / "cat.json"))
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    prepped = P._prep_edges(edges, 4)  # populate this session's cache
    assert prepped is P._prep_edges(edges, 4), "expected a cache hit"
    sess.clear_adjacency_cache()
    assert prepped is not P._prep_edges(edges, 4), "method must drop the entry"
