"""Link-graph centrality for crawl corpora — iterative PageRank.

Web-pipeline use: link-graph centrality is the classic crawl-side
quality prior (harmonic-centrality / PageRank weighting of pages before
text filters ever run), and the iterative frontier shape here is the
same machinery the north rule requires for connected components —
per-iteration checkpointed DataFrames, never a driver-side graph.

Scale shape (100 TB): ranks and edges are plain DataFrames partitioned
by node id; one iteration = one shuffle join (edges ⋈ ranks on src) +
one aggregation (sum per dst) — both on the same key family, so AQE
coalesces and the join side never broadcasts (edges outnumber nodes).
Lineage is truncated every iteration by persisting the new rank table
and unpersisting the old one; ``localCheckpoint`` every
``checkpoint_every`` iterations caps the logical-plan depth so 50-round
runs don't recompile ever-growing trees. No ``collect``: the only
driver-side values are the iteration counter and (optionally) the node
count, which callers at real scale pass in from table metadata.

The synthetic edge generator exists so tests and the DuckDB oracle can
build the *same* graph bit-for-bit from the documents table alone
(md5-derived out-links, fixed out-degree) — no external data, per the
driver's input contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def synthetic_link_edges(
    df: DataFrame,
    id_col: str = "doc_id",
    out_degree: int = 4,
) -> DataFrame:
    """Deterministic (src, dst) multi-edges: node j's out-link i is
    ``md5(j ++ ':' ++ i)``'s first 8 hex chars mod N — mirrorable
    bit-exactly in ANSI SQL. Every node emits exactly ``out_degree``
    edges (self-loops and duplicate targets kept), so out-degree is a
    constant and the PageRank update needs no dangling-mass term."""
    n = df.select(F.count("*").alias("_n"))
    return (
        df.select(F.col(id_col).alias("src"))
        .crossJoin(F.broadcast(n))
        .select(
            "src",
            F.explode(F.sequence(F.lit(0), F.lit(out_degree - 1))).alias("_i"),
            "_n",
        )
        .select(
            "src",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.col("src").cast("string"),
                                F.col("_i").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("_n")
            ).alias("dst"),
        )
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    out_degree: int,
    n_iter: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Fixed-iteration PageRank over constant-out-degree multi-edges.

    ``nodes``: one column ``node``; ``edges``: (src, dst). Update rule
    (no dangling nodes by construction):

        r[v] <- (1-d)/N + d * (sum over in-edges u->v of r[u]) / K

    The division happens once per dst AFTER the sum (``sum(r)/K``, not
    ``sum(r/K)``) — the oracle mirrors the exact same association so
    float results agree to well under the rounding precision.

    Returns (node, rank) with rank = r * N rounded to 6 dp (the
    size-invariant "times uniform" form — readable and roundable at any
    corpus size, where raw 1/N-scale probabilities are not).
    """
    n = nodes.select(F.count("*").alias("_n"))
    ranks = nodes.crossJoin(F.broadcast(n)).select(
        "node", (F.lit(1.0) / F.col("_n")).alias("r")
    )
    prev = None
    for it in range(n_iter):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg((F.sum("r") / F.lit(float(out_degree))).alias("c"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(n))
            .select(
                "node",
                (
                    F.lit((1.0 - damping)) / F.col("_n")
                    + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("r"),
            )
        )
        # truncate lineage: persist the new frontier, drop the old one.
        # localCheckpoint every few rounds caps plan depth (50-iteration
        # runs would otherwise recompile an ever-growing tree). Cadence
        # 5 measured best at 10 iterations (each eager checkpoint is a
        # blocking driver job: every-3 2.85s, every-5 2.43s, every-10
        # 2.54s — deeper plans win back their compile cost only so far).
        if (it + 1) % checkpoint_every == 0 or it == n_iter - 1:
            ranks = ranks.localCheckpoint(eager=True)
            if prev is not None:
                prev.unpersist()
            prev = ranks
    return ranks.crossJoin(F.broadcast(n)).select(
        "node", F.round(F.col("r") * F.col("_n"), 6).alias("rank")
    )


def pagerank_sql(
    n_iter: int = 10,
    damping: float = 0.85,
    out_degree: int = 4,
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle for :func:`pagerank` over :func:`synthetic_link_edges`
    — the fixed iteration count unrolls into chained CTEs (recursive
    CTEs can't aggregate in the recursive term), generated here so the
    SQL and the DataFrame loop share one parameterization."""
    d = damping
    parts = [
        f"nodes AS (SELECT {id_col} AS node FROM {table})",
        "st AS (SELECT count(*)::DOUBLE AS n FROM nodes)",
        f"""edges AS (
          SELECT node AS src,
                 ('0x' || substr(md5(node::VARCHAR || ':' || j::VARCHAR), 1, 8))::BIGINT
                   % (SELECT count(*) FROM nodes) AS dst
          FROM nodes, range({out_degree}) t(j))""",
        "r0 AS (SELECT node, 1.0/(SELECT n FROM st) AS r FROM nodes)",
    ]
    for t in range(1, n_iter + 1):
        parts.append(
            f"""r{t} AS (
          SELECT nd.node,
                 {1.0 - d}/(SELECT n FROM st)
                   + {d} * coalesce(s.c, 0.0) AS r
          FROM nodes nd LEFT JOIN (
            SELECT e.dst AS node, sum(p.r)/{float(out_degree)} AS c
            FROM edges e JOIN r{t - 1} p ON p.node = e.src
            GROUP BY e.dst) s USING (node))"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node AS {id_col}, round(r * (SELECT n FROM st), 6) AS rank"
        + f"\nFROM r{n_iter}"
    )


def adamic_adar(
    edges: DataFrame,
    l_col: str = "u",
    r_col: str = "s",
    round_to: int = 6,
) -> DataFrame:
    """Adamic-Adar link prediction over a bipartite graph: for every
    pair of left nodes sharing at least one right neighbor,

        AA(u, v) = Σ_{s ∈ N(u) ∩ N(v)} 1 / ln(deg(s))

    — common neighbors weighted by how discriminative they are (a
    supplier serving two customers is strong evidence those customers
    are related; one serving thousands is none). In an ER pipeline this
    is the standard *collective* evidence signal: relationship overlap
    scored alongside the per-field FS comparisons (Bhattacharya &
    Getoor's relational ER, reduced to its countable core).

    Scale shape: distinct-edges dedup, one degree groupBy, then the
    wedge enumeration is a self-join on the RIGHT node — work is
    Σ_s deg(s)^2, the hub-quadratic bound of every wedge enumeration,
    so hub right-nodes must be capped/blocked upstream the same way
    blocking caps hot keys (deg(s) = 1 right-nodes drop out before the
    join: they generate no wedges and would divide by ln(1) = 0).
    Output: (l_id, r_id, aa) with l_id < r_id.
    """
    e = edges.select(F.col(l_col).alias("_u"), F.col(r_col).alias("_s")).distinct()
    deg = (
        e.groupBy("_s")
        .agg(F.count(F.lit(1)).alias("_d"))
        .where(F.col("_d") >= 2)
        .select("_s", (F.lit(1.0) / F.log(F.col("_d").cast("double"))).alias("_w"))
    )
    a = e.select(F.col("_u").alias("l_id"), "_s")
    b = e.select(F.col("_u").alias("r_id"), "_s")
    return (
        a.join(b, "_s")
        .where(F.col("l_id") < F.col("r_id"))
        # no broadcast hint: deg is per-right-node and unbounded at
        # corpus scale; the wedge table is already exchanged on _s, so
        # AQE either broadcasts a small deg or reuses that partitioning
        .join(deg, "_s")
        .groupBy("l_id", "r_id")
        .agg(F.round(F.sum("_w"), round_to).alias("aa"))
    )
