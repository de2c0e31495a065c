"""The workloads: their ops, their seeded parameters and their oracles.

Every op goes through the engine's public entry points (`PGQSession.sql` /
`graph_table`, `algorithms`, `operators.paths`, `operators.dedup`,
`operators.corpus`, `sources.tables.load_table`, `PGQSession.execute`).
An op's `build` returns the DataFrame the user would get; the harness
times `build` plus an action that evaluates every output column.

A workload hands out *rounds*: each round holds a fixed mix of op types in
a seeded order, so a run that measures whole rounds always measures the
same mix.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import functions as F

from duckpgq_extension_spark import algorithms
from duckpgq_extension_spark import entry_queries as EQ
from duckpgq_extension_spark.functions import text as TX
from duckpgq_extension_spark.operators import corpus, dedup
from duckpgq_extension_spark.operators import paths as pathops
from duckpgq_extension_spark.sources.tables import load_table

import datagen

TABLES = ["customer", "orders", "documents"]
E = EQ.EDGES_SQL

GRAPH_DDL = """
CREATE OR REPLACE PROPERTY GRAPH social
VERTEX TABLES (
    customer PROPERTIES (c_custkey, c_name, c_acctbal, c_nationkey) LABEL Customer
)
EDGE TABLES (
    c_edges SOURCE KEY (src) REFERENCES customer (c_custkey)
            DESTINATION KEY (dst) REFERENCES customer (c_custkey)
            EDGE ID (eid) LABEL Follows
)
"""


@dataclass
class Op:
    type: str
    kind: str  # "read" or "write"
    build: Callable  # () -> DataFrame (reads) or None (writes)
    expect: Callable | None = None  # (Oracle) -> rows, for live oracles
    digest_key: str | None = None  # name in digests.json, for stored ones
    prepare: Callable | None = None  # untimed, runs just before build
    after_write: bool = False
    orders_files: list = field(default_factory=list)  # data the op saw


class Context:
    """The running engine and the run's input files."""

    def __init__(self, spark, pgq, data_dir: str, n_rows: dict):
        self.spark = spark
        self.pgq = pgq
        self.data_dir = data_dir
        self.n_cust = n_rows["customer"]
        self.n_orders = n_rows["orders"]
        self.orders_files = [os.path.join(data_dir, "orders.parquet", "part-0.parquet")]
        self.vocab = datagen.vocabulary(os.path.join(data_dir, "documents.parquet"))
        self.batches = 0
        self.registrations: list[tuple[float, float]] = []  # (views s, DDL s)

    def register(self) -> None:
        """The public set-up path: views over the input files, then the
        graph DDL. `orders` is read from its explicit file list, so a view
        over new files has a new analyzed plan and the engine's adjacency
        cache misses on its own; nothing here clears the cache. (A view
        over the `orders.parquet` directory would keep its plan when a
        batch lands in it, and path reads would serve the old adjacency.)"""
        t0 = time.perf_counter()
        for t in TABLES:
            if t == "orders":
                df = self.spark.read.parquet(*self.orders_files)
            else:
                df = load_table(self.spark, self.data_dir, t)
            df.createOrReplaceTempView(t)
        self.spark.sql(f"CREATE OR REPLACE TEMP VIEW c_edges AS {E}")
        t1 = time.perf_counter()
        self.pgq.execute(GRAPH_DDL)
        self.registrations.append((t1 - t0, time.perf_counter() - t1))

    def vertices(self):
        return self.spark.table("customer").select(F.col("c_custkey").cast("long"))

    def edges(self, weighted: bool = False):
        return pathops.edge_frame(
            self.spark.table("c_edges"), "src", "dst", weight_col="w" if weighted else None
        )


def _keys(rng: random.Random, n: int, k: int) -> str:
    return ", ".join(str(x) for x in sorted(rng.sample(range(n), k)))


def _with_e(body: str, recursive: bool = False) -> str:
    return f"WITH {'RECURSIVE ' if recursive else ''}e AS MATERIALIZED ({E}) {body}"


# --------------------------------------------------------------------------
# pgq_interactive
# --------------------------------------------------------------------------


def _hop1(ctx, rng):
    lo = round(rng.uniform(-999.0, 9800.0), 2)
    hi = round(lo + 150.0, 2)
    where = f"a.c_acctbal >= {lo} AND a.c_acctbal < {hi}"
    spark_q = f"""SELECT a_key, b_key, w FROM GRAPH_TABLE (social
        MATCH (a:Customer)-[f:Follows]->(b:Customer) WHERE {where}
        COLUMNS (a.c_custkey AS a_key, b.c_custkey AS b_key, f.w AS w)) t
        ORDER BY a_key, b_key, w LIMIT 100"""
    oracle_q = _with_e(f"""SELECT a.c_custkey AS a_key, b.c_custkey AS b_key, e.w AS w
        FROM customer a JOIN e ON e.src = a.c_custkey
        JOIN customer b ON b.c_custkey = e.dst WHERE {where}
        ORDER BY 1, 2, 3 LIMIT 100""")
    return lambda: ctx.pgq.sql(spark_q), oracle_q


def _hop2(ctx, rng):
    ks = _keys(rng, ctx.n_cust, 3)
    body = f"""social MATCH (a:Customer)-[f1:Follows]->(b:Customer)-[f2:Follows]->(c:Customer)
        WHERE a.c_custkey IN ({ks})
        COLUMNS (a.c_custkey AS a_key, b.c_custkey AS b_key, c.c_custkey AS c_key)"""
    oracle_q = _with_e(f"""SELECT a.c_custkey AS a_key, b.c_custkey AS b_key, c.c_custkey AS c_key
        FROM customer a
        JOIN e e1 ON e1.src = a.c_custkey JOIN customer b ON b.c_custkey = e1.dst
        JOIN e e2 ON e2.src = b.c_custkey JOIN customer c ON c.c_custkey = e2.dst
        WHERE a.c_custkey IN ({ks})""")
    return lambda: ctx.pgq.graph_table(body), oracle_q


def _hop3(ctx, rng):
    k = rng.randrange(ctx.n_cust)
    spark_q = f"""SELECT d_nation, count(*) AS n FROM GRAPH_TABLE (social
        MATCH (a:Customer)-[f1:Follows]->(b:Customer)-[f2:Follows]->(c:Customer)-[f3:Follows]->(d:Customer)
        WHERE a.c_custkey = {k}
        COLUMNS (d.c_nationkey AS d_nation)) g GROUP BY d_nation"""
    oracle_q = _with_e(f"""SELECT d.c_nationkey AS d_nation, count(*) AS n
        FROM customer a
        JOIN e e1 ON e1.src = a.c_custkey JOIN customer b ON b.c_custkey = e1.dst
        JOIN e e2 ON e2.src = b.c_custkey JOIN customer c ON c.c_custkey = e2.dst
        JOIN e e3 ON e3.src = c.c_custkey JOIN customer d ON d.c_custkey = e3.dst
        WHERE a.c_custkey = {k} GROUP BY d.c_nationkey""")
    return lambda: ctx.pgq.sql(spark_q), oracle_q


def _triangle(ctx, rng):
    nation = rng.randrange(25)
    body = f"""social MATCH (a:Customer)-[f1:Follows]->(b:Customer),
                    (b:Customer)-[f2:Follows]->(c:Customer),
                    (c:Customer)-[f3:Follows]->(a:Customer)
        WHERE a.c_nationkey = {nation} AND a.c_custkey < b.c_custkey AND a.c_custkey < c.c_custkey
        COLUMNS (a.c_custkey AS a_key, b.c_custkey AS b_key, c.c_custkey AS c_key)"""
    oracle_q = _with_e(f"""SELECT a.c_custkey AS a_key, b.c_custkey AS b_key, c.c_custkey AS c_key
        FROM customer a
        JOIN e e1 ON e1.src = a.c_custkey JOIN customer b ON b.c_custkey = e1.dst
        JOIN e e2 ON e2.src = b.c_custkey JOIN customer c ON c.c_custkey = e2.dst
        JOIN e e3 ON e3.src = c.c_custkey AND e3.dst = a.c_custkey
        WHERE a.c_nationkey = {nation} AND a.c_custkey < b.c_custkey AND a.c_custkey < c.c_custkey""")
    return lambda: ctx.pgq.graph_table(body), oracle_q


def _undirected(ctx, rng):
    ks = _keys(rng, ctx.n_cust, 4)
    spark_q = f"""SELECT a_key, count(*) AS deg FROM GRAPH_TABLE (social
        MATCH (a:Customer)-[f:Follows]-(b:Customer) WHERE a.c_custkey IN ({ks})
        COLUMNS (a.c_custkey AS a_key, b.c_custkey AS b_key)) u GROUP BY a_key"""
    oracle_q = _with_e(f"""SELECT a.c_custkey AS a_key, count(*) AS deg
        FROM customer a
        JOIN (SELECT src AS s, dst AS d FROM e UNION ALL SELECT dst, src FROM e) u
          ON u.s = a.c_custkey
        JOIN customer b ON b.c_custkey = u.d
        WHERE a.c_custkey IN ({ks}) GROUP BY a.c_custkey""")
    return lambda: ctx.pgq.sql(spark_q), oracle_q


def _bfs_cte(sources: str, depth: int) -> str:
    return f""", bfs(src, dst, d) AS (
        SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey IN ({sources})
        UNION
        SELECT b.src, e.dst, b.d + 1 FROM bfs b JOIN e ON e.src = b.dst WHERE b.d < {depth})"""


def _varlen(ctx, rng):
    ks = _keys(rng, ctx.n_cust, 2)
    spark_q = f"""SELECT a_key, dist, count(*) AS n FROM GRAPH_TABLE (social
        MATCH (a:Customer WHERE a.c_custkey IN ({ks}))-[f:Follows]->{{1,2}}(b:Customer)
        COLUMNS (a.c_custkey AS a_key, b.c_custkey AS b_key, CAST(f.dist AS BIGINT) AS dist)) v
        GROUP BY a_key, dist"""
    oracle_q = _with_e(
        _bfs_cte(ks, 2)
        + """, m AS (SELECT src, dst, min(d) AS d FROM bfs GROUP BY src, dst
                     HAVING min(d) BETWEEN 1 AND 2)
        SELECT src AS a_key, CAST(d AS BIGINT) AS dist, count(*) AS n FROM m GROUP BY src, d""",
        recursive=True,
    )
    return lambda: ctx.pgq.sql(spark_q), oracle_q


def _shortest(ctx, rng):
    ks = _keys(rng, ctx.n_cust, 3)
    spark_q = f"""SELECT a_key, b_key, plen FROM GRAPH_TABLE (social
        MATCH p = ANY SHORTEST (a:Customer WHERE a.c_custkey IN ({ks}))-[f:Follows]->{{1,4}}(b:Customer)
        COLUMNS (a.c_custkey AS a_key, b.c_custkey AS b_key, path_length(p) AS plen)) s
        ORDER BY plen DESC, a_key, b_key LIMIT 100"""
    oracle_q = _with_e(
        _bfs_cte(ks, 4)
        + """SELECT src AS a_key, dst AS b_key, CAST(min(d) AS BIGINT) AS plen
        FROM bfs GROUP BY src, dst HAVING min(d) BETWEEN 1 AND 4
        ORDER BY plen DESC, a_key, b_key LIMIT 100""",
        recursive=True,
    )
    return lambda: ctx.pgq.sql(spark_q), oracle_q


def _reach(ctx, rng):
    ss = _keys(rng, ctx.n_cust, 2)
    ts = _keys(rng, ctx.n_cust, 3)
    body = f"""social MATCH ANY SHORTEST (a:Customer WHERE a.c_custkey IN ({ss}))-[f:Follows]->*(b:Customer WHERE b.c_custkey IN ({ts}))
        COLUMNS (a.c_custkey AS a_key, b.c_custkey AS b_key)"""
    oracle_q = _with_e(
        f""", r(src, dst) AS (
        SELECT c_custkey, c_custkey FROM customer WHERE c_custkey IN ({ss})
        UNION
        SELECT r.src, e.dst FROM r JOIN e ON e.src = r.dst)
        SELECT src AS a_key, dst AS b_key FROM r WHERE dst IN ({ts})""",
        recursive=True,
    )
    return lambda: ctx.pgq.graph_table(body), oracle_q


PGQ_READS = {
    "hop1": _hop1,
    "hop2": _hop2,
    "hop3": _hop3,
    "triangle": _triangle,
    "undirected": _undirected,
    "varlen": _varlen,
    "shortest": _shortest,
    "reach": _reach,
}
# a round's reads besides the ones after writes: 10 joins, 3 {1,2} reads,
# one ANY SHORTEST and one ->*. A two-round run has 34 reads: the 8
# slowest are the shortest-path, reachability and after-write reads, the
# next 6 the plain {1,2} reads. Its 10-samples-beyond read percentile is
# the 11th slowest read, the third of those 6, so it lands in the middle
# of a group of like reads and not on the gap between two groups
ROUND_READS = ["hop1", "hop2", "hop3", "triangle", "undirected"] * 2 + [
    "varlen"] * 3 + ["shortest", "reach"]
# the path read that follows every write and pays the adjacency rebuild
AFTER_WRITE_READ = "varlen"
WRITES_PER_ROUND = 2


class PgqInteractive:
    """Analyst reads through the SQL/PGQ front end, plus writes (insert
    batches of new orders, i.e. new edges), about one op in ten."""

    name = "pgq_interactive"
    rounds = 2

    def __init__(self, ctx: Context, rng: random.Random):
        self.ctx, self.rng = ctx, rng
        self.batch_rows = max(20, ctx.n_orders // 100)

    def _read(self, kind: str, after_write: bool = False) -> Op:
        build, oracle_q = PGQ_READS[kind](self.ctx, self.rng)
        return Op(kind, "read", build, expect=lambda o, q=oracle_q: o.rows(q),
                  after_write=after_write)

    def _write(self) -> Op:
        ctx = self.ctx
        seed = self.rng.randrange(2**31)

        def prepare():
            ctx.batches += 1
            path = os.path.join(ctx.data_dir, "orders.parquet", f"batch-{ctx.batches:04d}.parquet")
            first = ctx.n_orders + (ctx.batches - 1) * self.batch_rows
            datagen.write_order_batch(path, ctx.orders_files[0], random.Random(seed), first,
                                      self.batch_rows, ctx.n_cust)
            ctx.orders_files.append(path)

        return Op("write", "write", ctx.register, prepare=prepare)

    def warm_ops(self) -> list[Op]:
        # a whole round: every op type, and enough ops that the timed loop
        # starts past the steepest JIT warm-up. After only one op of each
        # type, reads of the first timed round still ran up to 1.6x slower
        # than in the second, and the seeded op order decided which reads
        # paid for it
        return self.round()

    def probe_ops(self) -> list[Op]:
        return []  # the loop's own writes give the write metrics

    def round(self) -> list[Op]:
        """19 ops: ROUND_READS, and two writes, each followed by the path
        read that pays the rebuild."""
        kinds = list(ROUND_READS)
        self.rng.shuffle(kinds)
        ops = [self._read(k) for k in kinds]
        for at in sorted(self.rng.sample(range(len(ops) + 1), WRITES_PER_ROUND), reverse=True):
            ops[at:at] = [self._write(), self._read(AFTER_WRITE_READ, after_write=True)]
        return ops


# --------------------------------------------------------------------------
# graph_kernels
# --------------------------------------------------------------------------


def _cheapest_oracle(o, sources: str) -> list[tuple]:
    """Bellman-Ford in DuckDB, iterated from Python to its fixpoint."""
    o.con.execute(f"CREATE OR REPLACE TEMP VIEW bf_e AS {E}")
    o.con.execute(f"""CREATE OR REPLACE TEMP TABLE bf_d AS
        SELECT c_custkey AS src, c_custkey AS dst, CAST(0 AS BIGINT) AS cost
        FROM customer WHERE c_custkey IN ({sources})""")
    prev = None
    while True:
        o.con.execute("""CREATE OR REPLACE TEMP TABLE bf_d AS
            SELECT src, dst, min(cost) AS cost FROM (
              SELECT src, dst, cost FROM bf_d
              UNION ALL
              SELECT d.src, e.dst, d.cost + e.w FROM bf_d d JOIN bf_e e ON e.src = d.dst)
            GROUP BY src, dst""")
        state = o.con.execute("SELECT count(*), sum(cost) FROM bf_d").fetchone()
        if state == prev:
            return o.rows("SELECT src AS a_key, dst AS b_key, cost FROM bf_d")
        prev = state


_BC_SEEDS = "FROM customer WHERE c_custkey < 5"


def _betweenness_oracle(seeds: str) -> str:
    sql = EQ.O_BETWEENNESS
    if sql.count(_BC_SEEDS) != 1:
        raise RuntimeError("entry_queries.O_BETWEENNESS changed shape; update the seed rewrite")
    return sql.replace(_BC_SEEDS, f"FROM customer WHERE c_custkey IN ({seeds})")


# --------------------------------------------------------------------------
# corpus pipeline operators
# --------------------------------------------------------------------------


def _pipeline_corpus(spark):
    """entry_queries.q_pipeline_corpus over the registered `documents`."""
    docs = spark.table("documents").withColumn("__toks", TX.tokens(F.col("text")))
    t = F.col("__toks")
    scored = docs.select(
        "doc_id",
        "text",
        TX.lang_id(F.col("text"), toks=t).alias("lang"),
        F.round(TX.quality_score(F.col("text"), toks=t), 6).alias("q"),
        TX.token_count(F.col("text"), toks=t).cast("long").alias("n_tok"),
    )
    kept = scored.where((F.col("lang") == "en") & (F.col("q") >= 0.5))
    exact = dedup.deduplicate_exact(kept, "doc_id", "text").persist()
    exact.count()
    pairs = dedup.minhash_lsh_pairs(
        exact, "doc_id", "text", n=2, num_perm=16, bands=8, threshold=0.5
    )
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    surv = pathops.materialize(
        exact.join(drop, "doc_id", "left_anti").select("doc_id", "n_tok")
    )
    exact.unpersist()
    packed = corpus.pack_sequences(surv, "doc_id", "n_tok", budget=512, num_shards=4)
    return packed.groupBy("shard", "bin_id").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("bin_tokens")
    )


_BM25_VALUES = ", ".join(f"({q}, '{t}')" for q, t in EQ._BM25_QUERY_TERMS)


def _bm25_oracle(terms: list[tuple[int, str]]) -> str:
    if EQ.O_BM25.count(_BM25_VALUES) != 1:
        raise RuntimeError("entry_queries.O_BM25 changed shape; update the term rewrite")
    values = ", ".join(f"({q}, '{t}')" for q, t in terms)
    return EQ.O_BM25.replace(_BM25_VALUES, values)


def _corpus_op(ctx: Context, rng: random.Random, kind: str) -> Op:
    spark = ctx.spark
    if kind == "edit_distance_pairs":
        return Op(kind, "read", lambda: dedup.edit_distance_pairs(
            spark.table("documents"), "doc_id", "text", n=2, num_perm=16, bands=8,
            threshold=0.4), digest_key="dedup_edit")
    if kind == "dedup_clusters":
        return Op(kind, "read", lambda: dedup.dedup_clusters(
            spark.table("documents"), "doc_id", "text", n=2, num_perm=16, bands=8,
            threshold=0.5), digest_key="dedup_clusters")
    if kind == "pipeline":
        return Op(kind, "read", lambda: _pipeline_corpus(spark), digest_key="pipeline_corpus")
    if kind == "bm25":
        terms = [(q, t) for q in range(3) for t in rng.sample(ctx.vocab, 3)]

        def build():
            qdf = spark.createDataFrame(terms, "qid long, term string")
            return corpus.bm25_scores(spark.table("documents"), "doc_id", "text", qdf, top_k=20)
        return Op(kind, "read", build, expect=lambda o: o.rows(_bm25_oracle(terms)))
    raise ValueError(kind)


class GraphKernels:
    """Whole-graph iterative analytics on the standing customer graph, plus
    the corpus pipeline operators on `documents` (edit-distance pairs, dedup
    clusters, BM25, the composed pipeline)."""

    name = "graph_kernels"
    rounds = 1
    kernel_types = ["pagerank", "wcc", "label_propagation", "k_core", "lcc",
                    "cheapest_path", "betweenness"]
    corpus_types = ["edit_distance_pairs", "dedup_clusters", "bm25", "pipeline"]
    op_types = kernel_types + corpus_types

    def __init__(self, ctx: Context, rng: random.Random):
        self.ctx, self.rng = ctx, rng

    def _op(self, kind: str, warm: bool = False, after_write: bool = False) -> Op:
        """One op of `kind`. A warm-up op of an iterative kernel runs two
        rounds instead of the full count: the same plans, code paths and
        adjacency build at a fraction of the cost. Warm-up variants have
        no oracle and are not checked."""
        ctx = self.ctx

        def checked(op: Op) -> Op:
            if warm:
                op.digest_key = op.expect = None
            return op

        if kind == "pagerank":
            return checked(Op(kind, "read", lambda: algorithms.pagerank(
                ctx.edges(), ctx.vertices(), tol=0.0, max_iter=2 if warm else 10
            ).select("vid", F.round("pagerank", 6).alias("pr")), digest_key="pagerank"))
        if kind == "wcc":
            return Op(kind, "read", lambda: algorithms.weakly_connected_component(
                ctx.edges(), ctx.vertices()), digest_key="wcc")
        if kind == "label_propagation":
            return checked(Op(kind, "read", lambda: algorithms.label_propagation(
                ctx.spark.table("c_edges"), ctx.vertices(), max_iter=2 if warm else 5),
                digest_key="communities"))
        if kind == "k_core":
            return Op(kind, "read", lambda: algorithms.k_core(
                ctx.edges(), ctx.vertices(), k=15), digest_key="k_core")
        if kind == "lcc":
            return Op(kind, "read", lambda: algorithms.local_clustering_coefficient(
                ctx.edges(), ctx.vertices()
            ).select("vid", F.round("local_clustering_coefficient", 6).alias("lcc")),
                digest_key="lcc", after_write=after_write)
        if kind == "cheapest_path":
            ks = _keys(self.rng, ctx.n_cust, 10)

            def build():
                dist = pathops.cheapest_path_distances(
                    ctx.edges(weighted=True), sources=ctx.vertices().where(f"c_custkey IN ({ks})"),
                    max_iters=2 if warm else None)
                return dist.select(F.col("src").alias("a_key"), F.col("dst").alias("b_key"),
                                   F.col("cost").cast("bigint").alias("cost"))
            return checked(Op(kind, "read", build, expect=lambda o: _cheapest_oracle(o, ks)))
        if kind == "betweenness":
            ks = _keys(self.rng, ctx.n_cust, 5)

            def build():
                bc = algorithms.betweenness_centrality(
                    ctx.spark.table("c_edges"), ctx.vertices().where(f"c_custkey IN ({ks})"),
                    max_hops=2 if warm else 8)
                return bc.select("vid", F.round("betweenness", 6).alias("betweenness"))
            return checked(Op(kind, "read", build,
                              expect=lambda o: o.rows(_betweenness_oracle(ks))))
        return _corpus_op(ctx, self.rng, kind)

    def warm_ops(self) -> list[Op]:
        return [self._op(k, warm=True) for k in self.op_types]

    def probe_ops(self) -> list[Op]:
        """No op here writes, but every workload reports the write metrics:
        after the timed loop, five re-registrations of the unchanged
        inputs, each followed by LCC. The files are unchanged, so the
        adjacency cache should hold."""
        ops = []
        for _ in range(5):
            ops += [Op("reregister", "write", self.ctx.register),
                    self._op("lcc", after_write=True)]
        return ops

    def round(self) -> list[Op]:
        kinds = list(self.op_types)
        self.rng.shuffle(kinds)
        return [self._op(k) for k in kinds]


WORKLOADS = {w.name: w for w in (PgqInteractive, GraphKernels)}
