"""Transitive clustering: large-star/small-star connected components.

Implements Kiveris et al., "Connected Components in MapReduce and
Beyond" (SOCC'14) directly in DataFrame ops — GraphFrames is an external
package and GraphX has no Python API (SURVEY.md §2.3). Converges in
O(log^2 n) rounds on pathological graphs; planted duplicate clusters
(tiny diameter) converge in 2-3 rounds.

    large-star: for each node u (edges made bidirectional), let
        m = min(N(u) ∪ {u}); emit (v, m) for every neighbor v > u.
    small-star: orient edges large→small; let m = min(N(u) ∪ {u});
        emit (v, m) for v ∈ N(u) ∪ {u}, v ≠ m.

Fixpoint when the canonical edge set stops changing. Each round is
``localCheckpoint``-ed (or written through the catalog when provided) to
truncate lineage — Catalyst has no recursion and an uncheckpointed loop
grows the plan exponentially (north_star: "checkpointed frontier
DataFrames").

Output: assignment (node, entity_id) with entity_id = min node id of the
component — deterministic, golden-comparable (never
``monotonically_increasing_id``, SURVEY.md §7.3).

Nodes are ``long``; string keys (urls) are mapped through a dictionary
beforehand (:func:`cluster_pairs`) because 8-byte shuffle keys beat
200-byte urls at 10^12 scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set as (u>v) ordered pairs, no self-loops, deduped."""
    return (
        edges.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _large_star(edges: DataFrame) -> DataFrame:
    bidir = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        bidir.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least(F.col("_mn"), F.col("u")).alias("m"))
    )
    return (
        bidir.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _small_star(edges: DataFrame) -> DataFrame:
    oriented = _canonical(edges)  # u > v: from larger to smaller
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    neighbor_links = (
        oriented.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    center_links = mins.select(F.col("u"), F.col("m").alias("v"))
    return (
        neighbor_links.unionByName(center_links)
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row.n), int(row.h)


#: Arrow bytes of the local assignment per uploaded slice
_UPLOAD_SLICE_BYTES = 64 << 20


def _local_components(edges: DataFrame, key_col: str | None = None) -> DataFrame:
    """Driver-side connected components for edge sets that fit in memory.

    ``edges`` may be raw: duplicates, both orientations and self-loops
    give the same assignment as their :func:`_canonical` form. Arrow
    collect (``toArrow``), then fully-vectorized min-label
    propagation in numpy: hook every edge endpoint to the min label,
    pointer-jump (``L = L[L]``) to a fixpoint, repeat until every edge
    is monochrome. entity_id = min node id of the component --
    bit-identical to the distributed path's output. A row-at-a-time
    Python union-find was seconds at 10^6 edges; this is ~0.2 s.

    With ``key_col``, each node also gets ``entity_key``, the min key
    over its component's edges (self-loops excluded, NULLs skipped):
    one Arrow ``group_by(component).aggregate(min)`` over the edges,
    taken back to the nodes by component.
    """
    import numpy as np
    import pyarrow as pa

    spark = edges.sparkSession
    tbl = edges.select("u", "v", *([key_col] if key_col is not None else [])).toArrow()
    u = np.asarray(tbl["u"].to_numpy(), dtype=np.int64)
    v = np.asarray(tbl["v"].to_numpy(), dtype=np.int64)
    # raw edges are fine: propagation ignores duplicates and orientation;
    # a self-loop alone must not make a node appear (as in _canonical)
    keep = u != v
    if not keep.all():
        u, v = u[keep], v[keep]
        tbl = tbl.filter(pa.array(keep))
    if len(u) == 0:
        schema = "node long, entity_id long"
        if key_col is not None:
            schema += f", entity_key {edges.schema[key_col].dataType.simpleString()}"
        return spark.createDataFrame([], schema)
    nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    ui, vi = inv[: len(u)], inv[len(u):]
    label = np.arange(len(nodes), dtype=np.int64)
    while True:
        mn = np.minimum(label[ui], label[vi])
        np.minimum.at(label, ui, mn)
        np.minimum.at(label, vi, mn)
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped
        if np.array_equal(label[ui], label[vi]):
            break
    assign = {"node": nodes, "entity_id": nodes[label]}
    if key_col is not None:
        mins = pa.table({"c": label[ui], "k": tbl[key_col]}).group_by("c").aggregate(
            [("k", "min")]
        )
        # every component has an edge, so every root label has a row
        row_of = np.empty(len(nodes), dtype=np.int64)
        row_of[mins["c"].to_numpy()] = np.arange(mins.num_rows)
        assign["entity_key"] = mins["k_min"].take(pa.array(row_of[label]))
    # Arrow upload: columnar buffers, not 10^6 pickled rows. Spark
    # slices it finely (a LocalTableScan of up to defaultParallelism
    # slices; above spark.sql.execution.arrow.localRelationThreshold, an
    # RDD of one partition per maxRecordsPerBatch rows: 120 at 1.2M
    # nodes), so every consumer (the cluster write's broadcast of it)
    # would run that many tiny tasks. The coalesce keeps one slice per
    # _UPLOAD_SLICE_BYTES (one at bench sizes; 2 at 1.2M keyed nodes):
    # a slice travels inside its serialized task, and one slice of a
    # keyed assignment at millions of nodes overflowed the driver heap
    # while the task was serialized
    table = pa.table(assign)
    return spark.createDataFrame(table).coalesce(table.nbytes // _UPLOAD_SLICE_BYTES + 1)


def _with_entity_keys(assign: DataFrame, edges: DataFrame, key_col: str) -> DataFrame:
    """``entity_key`` for the distributed path: the min ``key_col`` over
    each component's edges (self-loops excluded, NULLs skipped), one
    groupBy over the edges tagged with their component, joined back to
    the assignment — the value :func:`_local_components` computes."""
    keys = (
        edges.where(F.col("u") != F.col("v"))
        .join(assign, F.col("u") == F.col("node"))
        .groupBy("entity_id")
        .agg(F.min(key_col).alias("entity_key"))
    )
    return assign.join(keys, "entity_id", "left").select("node", "entity_id", "entity_key")


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    rounds_per_check: int = 2,
    local_threshold: int = 8_000_000,
    edge_count: int | None = None,
    key_col: str | None = None,
) -> DataFrame:
    """edges(u long, v long) -> assignment(node long, entity_id long).

    Singleton nodes (no edges) are the caller's concern — join the
    result back with a coalesce to self (see :func:`cluster_pairs`).

    ``key_col`` names an edge column (the pipeline passes each Match
    edge's ``match_key``, the pair's smaller url); the assignment then
    gains ``entity_key``, the min key over the component's edges
    (NULL keys skipped, as ``min`` skips them; self-loops excluded).
    The local path computes it with one Arrow
    ``group_by(component).aggregate(min)`` over the collected edges,
    the distributed path with one groupBy over the edges tagged with
    their component (:func:`_with_entity_keys`). Without ``key_col``
    the assignment is as before.

    Size-gated hybrid (the CC analogue of AQE's broadcast-join cutover):
    when the deduped edge set is at most ``local_threshold`` rows
    (16 bytes/edge — two 64 MB Arrow int64 buffers at the default), the
    O(log^2 n) distributed star loop is pure scheduler latency, so the
    components finish driver-side with vectorized min-label propagation
    (same min-id entity ids, one Arrow collect). Measured at the 2.4M-
    page corpus (3.16M match edges): the star loop took 24.3 s of
    round-trip-bound wall; the local path is ~1 s. Above the threshold
    — the 10^12-row regime where the match graph has billions of edges
    — the distributed large-star/small-star loop runs.

    The default fits a 4 GiB driver, the smallest the benchmark runs.
    Measured on a 4-core host (``local[4]``, ``spark.driver.memory=4g``)
    at 8M raw edges with ``edge_count`` given, collect to a materialized
    assignment. Without keys: 8M disjoint edges (16M nodes, the largest
    assignment) took 6.3 s with a JVM heap peak of 1.6 GiB (sum of the
    heap pools' peaks), 2.2 GiB JVM RSS and 1.2 GiB Python RSS. With
    64-byte keys (every node then carries its component's key): 8M
    disjoint edges took 19.8 s, heap peak 4.2 GiB, 4.3 GiB JVM RSS and
    5.6 GiB Python RSS; the same run completes with a 3 GiB driver
    (heap peak 3.3 GiB) and fails with 2 GiB. 8M keyed edges in 6-node
    chains (9.6M nodes) took 13.4 s, heap peak 3.9 GiB, 2.8 GiB Python
    RSS. The keyed upload is what needs the heap: the assignment travels
    as slices of at most ``_UPLOAD_SLICE_BYTES`` of Arrow (one at bench
    sizes). The keyed 16M-node table is 1.3 GB of Arrow, uploaded as
    1,600 partitions of 10,000 rows and coalesced to 21 slices; as one
    slice it overflowed the heap while its task was serialized.

    Known-count path: ``edge_count`` is the raw row count of ``edges``
    when the caller has already measured it (the pipeline observes the
    score write's label mix, so the Match count arrives with no job).
    The raw count bounds the deduped one from above, so when it is at
    most ``local_threshold`` the local path is certain and runs on the
    raw edges directly: one Arrow collect, with no ``_canonical``
    shuffle, checkpoint or fingerprint job. Over the threshold, or with
    no count, the edges are deduped and measured as above. Either way
    the assignment is the same.

    ``rounds_per_check`` star-rounds run between checkpoints/convergence
    fingerprints: each fingerprint is a driver round-trip, and the loop
    is latency-bound, so batching rounds per job halves the fixed cost;
    star rounds on a converged graph are idempotent, so the possible
    extra round is harmless.
    """
    if edge_count is not None and edge_count <= local_threshold:
        return _local_components(edges, key_col)
    assign = _star_components(edges, max_iter, rounds_per_check, local_threshold)
    return assign if key_col is None else _with_entity_keys(assign, edges, key_col)


def _star_components(
    edges: DataFrame, max_iter: int, rounds_per_check: int, local_threshold: int
) -> DataFrame:
    """The deduped path of :func:`connected_components`: canonical edges,
    measured, then the local path or the large-star/small-star loop."""
    spark = edges.sparkSession
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")

    # The fixpoint loop is latency-bound, not throughput-bound: each star
    # round is a shuffle over the (shrinking) edge set, and at web scale
    # the match-edge set is orders of magnitude smaller than the pair
    # table. The loop therefore minimizes *jobs per round*: checkpoints
    # are lazy (eager=False) and the per-round fingerprint aggregation is
    # the single job that materializes the checkpoint, checks
    # convergence, AND supplies the edge count — one job per round
    # instead of three. try/finally restores the session's shuffle
    # parallelism even if an executor loss aborts mid-iteration.
    try:
        cur = _canonical(edges).localCheckpoint(eager=False)
        n_edges, _ = _fingerprint(cur)
        if n_edges <= local_threshold:
            return _local_components(cur)
        # size the loop's shuffle parallelism to the (small) edge set
        # instead of inheriting the pair-stage setting — hundreds of
        # near-empty reduce tasks per round dominate wall-clock otherwise
        loop_sp = max(1, min(int(old_sp), n_edges // 200_000 + 1))
        spark.conf.set("spark.sql.shuffle.partitions", str(loop_sp))

        prev_fp: tuple[int, int] | None = None
        for _ in range(max_iter):
            nxt = cur
            for _r in range(max(rounds_per_check, 1)):
                nxt = _small_star(_large_star(nxt))
            nxt = nxt.localCheckpoint(eager=False)
            fp = _fingerprint(nxt)
            if fp == prev_fp:
                cur = nxt
                break
            prev_fp = fp
            cur = nxt
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)

    # converged: star graphs, every edge points member -> component min
    members = cur.select(F.col("u").alias("node"), F.col("v").alias("entity_id"))
    centers = cur.select(F.col("v").alias("node"), F.col("v").alias("entity_id")).distinct()
    return (
        members.unionByName(centers)
        .groupBy("node")
        .agg(F.min("entity_id").alias("entity_id"))
    )


def key_counts(df: DataFrame, key: str) -> tuple[int, int]:
    """(rows, distinct non-NULL ``key`` values) of ``df``, exactly.

    The one copy of the engine's hash-collision check: the uid check of
    the pipeline's extract stage and :func:`node_dictionary` both call
    it. One exchange: ``groupBy(key).count()`` with its map-side partial
    count, drained through the ``noop`` sink while an observation sums
    the group sizes and counts the groups. A fused
    ``count``/``countDistinct`` aggregate plans two exchanges.
    """
    obs = Observation()
    (
        df.groupBy(key)
        .count()
        .observe(obs, F.sum("count").alias("n"), F.count(key).alias("nk"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    got = obs.get
    return int(got["n"] or 0), int(got["nk"])


def _dense_ids(ids: DataFrame) -> DataFrame:
    """Exact dense dictionary (_id, _nid): DISTRIBUTED range-sort +
    zipWithIndex — deterministic given the global sort order.

    The collision fallback for the xxhash64 node dictionary. A
    row_number() over an unpartitioned window would pull every id
    through one reducer — a driver-killer at 10^9+ ids, where a 64-bit
    birthday collision is in fact expected.
    """
    rdd = ids.sort("_id").rdd.zipWithIndex()
    return (
        rdd.map(lambda t: (t[0]["_id"], int(t[1])))
        .toDF(["_id", "_nid"])
        .select("_id", F.col("_nid").cast("long").alias("_nid"))
    )


def node_dictionary(ids: DataFrame) -> DataFrame:
    """ids(_id) -> exact (_id, _nid long) node dictionary.

    Integral ids pass through (the id IS the node: no hash, no check,
    zero extra jobs). Anything else — strings, 128-bit uid structs —
    gets xxhash64 labels with one :func:`key_counts` collision check (a
    hash collision would MERGE two entities, so the dictionary must be
    exact) and the sorted ``_dense_ids`` fallback on the ~never
    collision. Shared by :func:`cluster_pairs` and the pipeline's
    128-bit-uid cluster stage.
    """
    if isinstance(ids.schema["_id"].dataType, (T.LongType, T.IntegerType)):
        return ids.select("_id", F.col("_id").cast("long").alias("_nid"))
    hashed = ids.select("_id", F.xxhash64("_id").alias("_nid"))
    n, nh = key_counts(hashed, "_nid")
    if nh != n:
        return _dense_ids(ids)
    return hashed


def cluster_pairs(
    match_pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "url",
    entity_col: str = "entity_id",
) -> DataFrame:
    """match_pairs(l_id, r_id string) + all_ids(id) -> (id, entity_id long).

    Builds the string→long node dictionary deterministically
    (dense rank over sorted ids via ``zipWithIndex``-free hashing is
    unsafe; we use xxhash64 of the id — collisions at 10^12 keys are
    ~1e-14 per pair and clustering only merges, never splits, on a
    collision... no: a hash collision would *merge* two entities. So the
    dictionary is exact: min-id-per-hash is validated and the rare
    collision falls back to a row_number dictionary).

    In practice: xxhash64(url) is used as the node id after an explicit
    collision check; on collision (detected by one aggregation) we fall
    back to a sorted ``row_number`` dictionary, which costs one global
    sort but is exact.

    Integral id columns skip the dictionary entirely: the id IS the
    node (already 8 bytes, already distinct), so no hash, no
    collision check, and zero extra jobs — the pipeline path (uid =
    xxhash64(url), validated unique at the extract stage) lands here.
    """
    ids = all_ids.select(F.col(id_col).alias("_id")).distinct()
    hashed = node_dictionary(ids)

    le = hashed.select(F.col("_id").alias("l_id"), F.col("_nid").alias("u"))
    re_ = hashed.select(F.col("_id").alias("r_id"), F.col("_nid").alias("v"))
    edges = match_pairs.join(le, "l_id").join(re_, "r_id").select("u", "v")

    assign = connected_components(edges)
    out = (
        hashed.join(assign, hashed["_nid"] == assign["node"], "left")
        .select(
            F.col("_id"),
            F.coalesce(F.col("entity_id"), F.col("_nid")).alias("_eid"),
        )
    )
    # entity ids are component-min *node* ids; remap to the component's
    # min original id's hash is already stable, but for golden comparison
    # we expose the min *string* id per entity as entity_key as well.
    min_key = out.groupBy("_eid").agg(F.min("_id").alias("entity_key"))
    return (
        out.join(min_key, "_eid")
        .select(
            F.col("_id").alias(id_col),
            F.col("_eid").alias(entity_col),
            F.col("entity_key"),
        )
    )


def golden_records(
    assign: DataFrame,
    records: DataFrame,
    id_col: str,
    entity_col: str = "entity_id",
    longest_col: str | None = None,
    length_col: str | None = None,
    mode_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Survivorship: one canonical ("golden") row per entity — the merge
    step that follows clustering in every MDM/ER pipeline (the reference
    stops at human labels; the canonical-record construction is what
    those labels feed downstream).

    Deterministic rules, one aggregation, no UDFs:

    - ``entity_key``: min member id (the same canonical-id rule the
      cluster stage uses),
    - ``n_members``: cluster size,
    - ``longest_col``: the value whose ``length_col`` is greatest
      (ties -> smallest member id) via ``min_by`` over a
      (-length, id) struct — lexicographic struct comparison keeps it
      ONE aggregation (not a window + filter re-shuffle), and negating
      the numeric LENGTH rather than the id keeps the tie-break valid
      for string ids (the cluster stage's url-keyed assignments),
    - each of ``mode_cols``: the most frequent non-NULL value (ties ->
      smallest value) via ``F.mode(col, deterministic=True)`` — the
      deterministic variant pins exactly our tie rule (lowest value),
      and as a plain aggregate it rides the SAME groupBy as everything
      else.

    Scale shape: ONE groupBy on the entity key, no matter how many mode
    columns golden records carry — round-5 shipped one count-groupBy +
    one join per mode column (3 extra shuffles per attribute, ruinous
    for wide golden records); ``mode``'s per-group state is a
    value->count map bounded by cluster size x per-column cardinality.
    NULLs: aggregates skip NULL inputs, so a mode column's golden value
    is the most frequent value among members that HAVE one — an
    all-NULL column yields NULL (survivorship wants a non-null canonical
    value whenever any member supplies one).
    """
    joined = records.join(assign, id_col)
    aggs = [
        F.min(id_col).alias("entity_key"),
        F.count("*").alias("n_members"),
    ]
    if longest_col is not None:
        if length_col is None:
            raise ValueError("longest_col needs length_col")
        aggs.append(
            F.min_by(
                F.col(longest_col),
                F.struct(
                    (-F.col(length_col).cast("double")).alias("_neglen"),
                    F.col(id_col),
                ),
            ).alias(f"{longest_col}_golden")
        )
    aggs.extend(
        F.mode(F.col(c), deterministic=True).alias(f"{c}_golden")
        for c in mode_cols
    )
    return joined.groupBy(entity_col).agg(*aggs)
