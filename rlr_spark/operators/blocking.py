"""Multi-pass blocking and candidate-pair generation, skew-aware.

Pass 1 — normalized-domain key (the "same blocking key" clause of the
north rule; normalization mirrors the reference comparator's strip/lower,
pages/02_Linkage_Review.py:139-140).

Pass 2 — banded MinHash-LSH over text shingles. Hand-rolled with pure
column ops (xxhash64 inside ``transform`` lambdas — JVM-side, codegen,
deterministic seeds) rather than ``pyspark.ml.feature.MinHashLSH``, whose
``approxSimilarityJoin`` hides salting and determinism (SURVEY.md §4.2).

Pair materialization is a *salted self-join*: within a blocking key the
pair set is quadratic, so a hot key (one mega-domain holding 30% of rows)
would pin a single reducer. Each row gets a deterministic salt in
``[0, K)``; the probe side is replicated across all K salts, so the join
key becomes ``(block_key, salt)`` and the hot key's quadratic work is
spread over K reducers. Salting changes physical distribution only —
the logical pair set is invariant in K (tested). Blocks larger than
``max_block_size`` are dropped from that pass and *logged* (never
silently), per SURVEY.md §2.2 pair-gen: at web scale a 10^7-page domain
must not generate 10^14 pairs from the coarse pass; the LSH pass still
covers its duplicates with bounded bucket sizes.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalized_domain(url: Column) -> Column:
    """hostname, lowercased, leading ``www.`` stripped — the pass-1 key."""
    host = F.lower(F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1))
    return F.regexp_replace(host, r"^www\.", "")


def with_domain_key(df: DataFrame, url_col: str = "url", out_col: str = "blk_key") -> DataFrame:
    return df.withColumn(out_col, normalized_domain(F.col(url_col)))


# ---------------------------------------------------------------------------
# MinHash-LSH banding
# ---------------------------------------------------------------------------

def shingle_col(text: Column, k: int = 3) -> Column:
    """Distinct k-token shingles of lower-cased whitespace tokens
    (string form — kept for readability/tests; the LSH hot path uses
    :func:`hashed_shingle_col`, which never builds the strings)."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    full = F.array(F.concat_ws(" ", toks))  # short-doc fallback: one shingle
    windows = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    return F.array_distinct(F.when(F.size(toks) >= k, windows).otherwise(full))


def hashed_shingle_col(text: Column, k: int = 3) -> Column:
    """Distinct 8-byte shingle identities WITHOUT building shingle
    strings: tokens are hashed once, a shingle's identity is
    ``xxhash64`` of its k-slice of token hashes (xxhash64 accepts array
    input). Equal windows <-> equal identities (modulo 64-bit
    collisions, which only ever ADD candidates), so the minhash
    statistics are those of :func:`shingle_col` — at a third of the
    cost (measured 19.0s -> 8.9s for the 300k-page key job; string
    concat of ~58 windows x ~20 chars per doc was half the stage)."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    th = F.transform(toks, lambda t: F.xxhash64(t))
    windows = F.transform(
        F.sequence(F.lit(1), F.size(th) - (k - 1)),
        lambda i: F.xxhash64(F.slice(th, i, k)),
    )
    full = F.array(F.xxhash64(th))  # short-doc fallback: one shingle
    return F.array_distinct(F.when(F.size(th) >= k, windows).otherwise(full))


def _perm_min(shingles: Column, j: int) -> Column:
    # single-arg lambda: a two-arg lambda would make F.transform pass the
    # array *index* as the second argument instead of the permutation seed
    return F.array_min(F.transform(shingles, lambda s: F.xxhash64(s, F.lit(j))))


def minhash_signature(shingles: Column, num_perm: int) -> list[Column]:
    """num_perm min-hashes; permutation j = xxhash64(shingle, j). Deterministic."""
    return [_perm_min(shingles, j) for j in range(num_perm)]


def _arrow_minhash_kernel(
    shingle_k: int, bands: int, rows_per_band: int, emit_prefixes: bool = False
):
    """Build the mapInArrow generator computing per-row LSH band keys.

    Input batches: (id, _th: array<long>) — token xxhash64 values, hashed
    JVM-side (string hashing stays in codegen; fixed-width hashing comes
    here).  Output batches: (id, blk_key: long), ``bands`` rows per input
    row, bit-identical to the JVM struct-fold path (tested): a window's
    shingle identity is the chained ``hashLong`` fold over its k token
    hashes from seed 42 (== ``xxhash64(slice(th, i, k))``), permutation
    j is ``hash_int(j, hash_long(identity, 42))`` (== ``xxhash64(id,
    lit(j))``), and band key b chains ``hash_int(b, 42)`` through that
    band's ``rows_per_band`` minima (== ``xxhash64(lit(b), m...)``).

    Why this exists: the JVM ``F.aggregate`` struct-fold pays a
    ``bands*rows_per_band``-field struct copy per shingle element — the
    measured bottleneck of the pairs stage (round-4 dead-end log below).
    Here the same arithmetic is flat numpy uint64 ufunc passes over a
    cache-resident Arrow batch: zero per-element structure, and the
    segment minima are single ``np.minimum.reduceat`` calls.
    """
    import numpy as np
    import pyarrow as pa

    from rlr_spark.functions.xxh64_np import SPARK_SEED, hash_int, hash_long

    k = shingle_k
    num_perm = bands * rows_per_band
    INIT = np.int64((1 << 63) - 1)

    # CACHE TILING: the permutation loop makes num_perm passes over the
    # window-identity array; at Arrow's default 10k-row batches that
    # array is ~8 MB — every pass streams DRAM, and with many
    # concurrent workers the kernel saturates host memory bandwidth
    # (measured: stage CPU ~2x from 4 -> 16 threads, zero fetch wait).
    # Slicing the batch (zero-copy) keeps each slice's windows + temps
    # L2-resident, so the 48 passes hit cache instead of DRAM.
    # 1024 rows x ~100 windows x 8 B ~= 0.8 MB per live array.
    TILE_ROWS = 1024

    def gen(batches):
        for full_batch in batches:
            for tile_off in range(0, full_batch.num_rows, TILE_ROWS):
                batch = full_batch.slice(tile_off, TILE_ROWS)
                out = _one(batch)
                if out is not None:
                    yield out

    def _one(batch):
            n = batch.num_rows
            if n == 0:
                return None
            ids = batch.column(0)
            lst = batch.column(1)
            offs = np.asarray(lst.offsets, dtype=np.int64)
            tok_u = np.asarray(lst.values, dtype=np.int64).view(np.uint64)
            valid = np.asarray(lst.is_valid())
            # a NULL token array hashes to the bare seed under xxhash64
            # (null children are skipped), i.e. it behaves as an empty
            # chain — identical to the JVM fold path (parity-tested)
            cnt = np.where(valid, offs[1:] - offs[:-1], 0)
            first = offs[:-1]

            vec = cnt >= max(k, 1)
            fb = ~vec  # short/empty/null docs: ONE whole-array shingle

            M = np.empty((n, num_perm), dtype=np.int64)

            # --- vectorized windows: rows with >= k tokens ----------------
            vrows = np.nonzero(vec)[0]
            if vrows.size:
                nw = (cnt[vrows] - k + 1).astype(np.int64)
                wseg = np.concatenate(([0], np.cumsum(nw)[:-1]))
                row_base = np.repeat(first[vrows], nw)
                widx = np.arange(int(nw.sum()), dtype=np.int64) - np.repeat(wseg, nw)
                starts = row_base + widx
                s = np.broadcast_to(SPARK_SEED, starts.shape).copy()
                for t in range(k):
                    s = hash_long(tok_u[starts + t], s)
                base = hash_long(s, SPARK_SEED)
                for j in range(num_perm):
                    hj = hash_int(j, base).view(np.int64)
                    M[vrows, j] = np.minimum.reduceat(hj, wseg)

            # --- fallback rows: shingle = xxhash64(whole th array) --------
            frows = np.nonzero(fb)[0]
            if frows.size:
                h = np.broadcast_to(SPARK_SEED, frows.shape).copy()
                for t in range(max(k - 1, 0)):
                    m = cnt[frows] > t
                    if m.any():
                        h[m] = hash_long(tok_u[first[frows][m] + t], h[m])
                base = hash_long(h, SPARK_SEED)
                for j in range(num_perm):
                    M[frows, j] = hash_int(j, base).view(np.int64)

            # --- band keys: xxhash64(lit(b), m_j...) ----------------------
            K = np.empty((n, bands), dtype=np.int64)
            Mu = M.view(np.uint64)
            for b in range(bands):
                with np.errstate(over="ignore"):
                    h0 = hash_int(b, SPARK_SEED)  # scalar chain head
                h = np.broadcast_to(h0, (n,)).copy()
                for r in range(rows_per_band):
                    h = hash_long(Mu[:, b * rows_per_band + r], h)
                K[:, b] = h.view(np.int64)

            idx = pa.array(np.repeat(np.arange(n, dtype=np.int64), bands))
            cols = [ids.take(idx), pa.array(K.reshape(-1))]
            names = [batch.schema.names[0], "blk_key"]
            if emit_prefixes:
                # band-b row carries that doc's band keys [0, b) — the
                # "was there an earlier colliding band" witness for
                # first-collision unique pair emission (block_pairs
                # lsh_prefix_col). Values laid out (i0 b0..b{B-1},
                # i1 ...) to match the key rows above; row (i, b)'s
                # slice is K[i, :b] via a lower-triangular mask.
                tri = np.tril(np.ones((bands, bands), dtype=bool), k=-1)
                vals = np.broadcast_to(K[:, None, :], (n, bands, bands))[
                    :, tri
                ].reshape(-1)
                lens = np.tile(np.arange(bands, dtype=np.int64), n)
                offs32 = np.zeros(n * bands + 1, dtype=np.int32)
                np.cumsum(lens, out=offs32[1:])
                pfx = pa.ListArray.from_arrays(pa.array(offs32), pa.array(vals))
                cols.append(pfx)
                names.append("_pfx")
            return pa.RecordBatch.from_arrays(cols, names=names)

    return gen


def lsh_band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_k: int = 3,
    bands: int = 16,
    rows_per_band: int = 3,
    rebalance_input: bool | None = None,
    signature_impl: str = "arrow",
    emit_prefixes: bool = False,
) -> DataFrame:
    """(id, blk_key) with blk_key = xxhash64(band_id, band row sigs) — LONG.

    ``emit_prefixes=True`` adds ``_pfx`` — the doc's band keys for bands
    BEFORE this row's band — enabling first-collision unique pair
    emission in :func:`block_pairs` (``lsh_prefix_col``): a pair is
    emitted only from the first band where it collides, which removes
    the O(bands)-fold duplicate pair generation (and with it the pair
    dedup shuffle) that multi-band LSH otherwise pays on near-dup-heavy
    corpora. Cost: the keyed relation carries ~bands/2 extra longs per
    row (quadratic in ``bands`` per doc), the right trade whenever
    duplicate candidate emissions dominate — i.e. whenever near-dup
    density is what motivated LSH dedup in the first place.

    ``signature_impl``: "arrow" (default) computes window identities,
    permutation minima and band keys in a vectorized numpy kernel over
    Arrow batches (measured 18-20s -> 1.7s for the 300k-page key job vs
    the JVM fold — the fold's cost is the 48-field struct-accumulator
    copy per shingle element, which the flat numpy form simply does not
    have); "fold" is the pure-JVM ``F.aggregate`` struct-fold. The two
    produce BIT-IDENTICAL keys (tested) — the kernel mirrors catalyst's
    XXH64 exactly (functions/xxh64_np.py).

    Two documents collide in a band iff their signatures agree on all
    ``rows_per_band`` rows of that band — the standard S-curve: with
    b=16, r=3 the collision probability at shingle-Jaccard 0.6 is
    1-(1-0.6^3)^16 ≈ 0.98 (cross-domain near-dups land here), while
    unrelated web text (Jaccard ≤ 0.05) collides at ≤ 0.2%.

    Keys are 8-byte longs, not strings: the pair-generation shuffle keys
    on blk_key, and at web scale a ~30-char string key multiplies
    shuffle volume several-fold. A 64-bit key collision merely *merges*
    two buckets (extra candidates, later rejected by scoring) — it can
    never lose a true pair, so recall is unaffected.
    """
    # Staged projections on purpose: Catalyst does NOT common-subexpression-
    # eliminate across output columns, so inlining the shingle array into
    # the signature expression re-evaluates the (expensive) shingling per
    # output column. Each select boundary below materializes its value
    # once per row inside whole-stage codegen.
    #
    # All bands*rows permutation minima are computed in ONE fold over the
    # shingle array (F.aggregate with a struct accumulator): per element
    # it is bands*rows hash+least ops and ZERO intermediate arrays,
    # versus bands*rows separate transform() arrays materialized per row
    # (measured 19.0s -> 6.2s for the 300k-page key job, same values).
    #
    # Measured dead end (round 4): replacing the per-permutation
    # xxhash64 with Broder's LCG family ((a_j*h31+b_j) mod 2^31-1 — one
    # hash + 48 multiply-adds) changed NOTHING (26.6s -> 27.5s for this
    # job at 300k docs): the fold is bound by the 48-field struct
    # accumulator copy per element and by tokenization, not by hash
    # arithmetic, and pmod costs a division comparable to xxhash64.
    # Resolution (round 5): the struct-copy bound is an artifact of the
    # JVM fold REPRESENTATION, not of the arithmetic — the Arrow kernel
    # above does the identical math as flat numpy passes and is ~11x
    # faster; this JVM path is kept as the dependency-free fallback and
    # the parity oracle the kernel is tested against.
    num_perm = bands * rows_per_band
    # a single-row-group input file is UNSPLITTABLE (one task no matter
    # how many byte splits get planned) and would serialize the whole
    # minhash compute AND everything downstream of it — there is no
    # shuffle between here and the pair join anymore. The probe is
    # metadata-only for file scans / checkpointed inputs, but on a plan
    # with SHUFFLE lineage `.rdd` finalizes AQE and runs the upstream
    # map stages, whose work then re-executes on the real action (the
    # pipeline pre-write probe bug, measured ~2x). Default (None) is
    # therefore AUTO: probe only plans without an Exchange node — a
    # shuffle upstream already repartitioned the data, so the probe
    # would be both costly and pointless there. The bool override
    # remains for callers that know better.
    if rebalance_input is None:
        from rlr_spark.plans.inspect import has_shuffle_lineage

        rebalance_input = not has_shuffle_lineage(df)
    if rebalance_input:
        par = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < max(par // 3, 4):
            df = df.repartition(par)
    if signature_impl == "arrow":
        # Arrow kernel (default, measured ~3x on the 300k key job): the
        # JVM hashes token STRINGS (codegen — variable-width hashing
        # stays JVM-side), the Python side does every fixed-width step
        # (window identities, 48 permutation minima, band keys) as flat
        # numpy uint64 passes over cache-resident batches.  Values are
        # bit-identical to the fold path (tested exhaustively), so the
        # two impls are interchangeable per call site.
        toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        shipped = df.select(
            F.col(id_col),
            F.transform(toks, lambda t: F.xxhash64(t)).alias("_th"),
        )
        from pyspark.sql.types import ArrayType, LongType, StructField, StructType

        fields = [shipped.schema[id_col], StructField("blk_key", LongType(), True)]
        if emit_prefixes:
            fields.append(StructField("_pfx", ArrayType(LongType(), True), True))
        out = StructType(fields)
        return shipped.mapInArrow(
            _arrow_minhash_kernel(
                shingle_k, bands, rows_per_band, emit_prefixes=emit_prefixes
            ),
            out,
        )
    shingled = df.select(
        F.col(id_col),
        hashed_shingle_col(F.col(text_col), shingle_k).alias("_sh"),
    )
    init = F.struct(
        *[F.lit((1 << 63) - 1).cast("long").alias(f"m{j}") for j in range(num_perm)]
    )

    def _fold(acc: Column, h: Column) -> Column:
        return F.struct(
            *[
                F.least(acc[f"m{j}"], F.xxhash64(h, F.lit(j))).alias(f"m{j}")
                for j in range(num_perm)
            ]
        )

    sigged = shingled.select(
        F.col(id_col), F.aggregate("_sh", init, _fold).alias("_m")
    )
    band_cols = [
        F.xxhash64(
            F.lit(b),
            *[
                F.col("_m")[f"m{j}"]
                for j in range(b * rows_per_band, (b + 1) * rows_per_band)
            ],
        )
        for b in range(bands)
    ]
    # no per-(id, key) dedup: the band id is hashed into blk_key, so one
    # doc emits exactly one key per band by construction — the old
    # dropDuplicates was a full shuffle protecting against nothing but
    # 64-bit band-key collisions (which only ever ADD candidates)
    if emit_prefixes:
        stacked = sigged.select(
            F.col(id_col),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            band_cols[b].alias("blk_key"),
                            (
                                F.array(*band_cols[:b])
                                if b
                                else F.array().cast("array<bigint>")
                            ).alias("_pfx"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("_e"),
        )
        return stacked.select(
            F.col(id_col),
            F.col("_e.blk_key").alias("blk_key"),
            F.col("_e._pfx").alias("_pfx"),
        )
    return sigged.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("blk_key")
    )


# ---------------------------------------------------------------------------
# Pair generation: one salted join within blocking keys
# ---------------------------------------------------------------------------

@dataclass
class BlockStats:
    """What a blocking pass dropped — surfaced, never silent."""

    pass_name: str
    n_blocks: int
    n_dropped_blocks: int
    n_dropped_rows: int


# the emit-once witness repair inlines the dropped keys as an array
# literal; past this many the self-join falls back to emit + dedup
_MAX_REPAIR_KEYS = 4096


def _cap_blocks(
    sizes: DataFrame, max_block_size: int | None, pass_name: str, block_rows: Column
) -> tuple[DataFrame, BlockStats]:
    """Drop the blocks with more than ``max_block_size`` rows on either
    side and log them. ``sizes``: (key, _ln, _rn) per block;
    ``block_rows`` is the block's row count as :class:`BlockStats`
    reports it (``_ln`` for a self-join, ``_ln + _rn`` for L x R)."""
    if max_block_size is None:
        return sizes, BlockStats(pass_name, -1, 0, 0)
    over = F.greatest("_ln", "_rn") > max_block_size
    agg = sizes.agg(
        F.count("*").alias("nb"),
        F.sum(F.when(over, 1).otherwise(0)).alias("nd"),
        F.sum(F.when(over, block_rows).otherwise(0)).alias("nr"),
    ).collect()[0]
    stats = BlockStats(pass_name, int(agg.nb), int(agg.nd or 0), int(agg.nr or 0))
    return sizes.where(~over), stats


def _salted_join(
    left: DataFrame,
    right: DataFrame,
    kept: DataFrame,
    key_col: str,
    l_id: str,
    r_id: str,
    l_cols: list[Column],
    r_cols: list[Column],
    salt_k: int,
    salt_threshold: int,
    cond: Column | None = None,
    build_hint: str | None = None,
) -> DataFrame:
    """Join ``left`` x ``right`` within each key of ``kept`` (key, _ln,
    _rn), salted so a hot key's quadratic work spreads over reducers.

    Returns (key_col, _salt, *l_cols, *r_cols) filtered by ``cond``;
    ``l_id``/``r_id`` name each side's id column (the salt hash).

    Salt count PROPORTIONAL to block size: a block of T rows does
    ~T*T/k probe emissions per salt, so a fixed k leaves per-reducer
    work quadratic in the hottest block — measured as a 2.8x
    p90/median task-time skew on the minhash pair join, exactly the
    output-explosion skew AQE cannot see (its skew stats are shuffle
    INPUT bytes, guide §2.5). ``ceil(T / salt_threshold)`` bounds
    per-salt probe work at ~salt_threshold * T emissions, and
    ``salt_k`` caps the replication; the long tail of small blocks
    joins on salt 0 alone. T is the LARGER side's count: linkage blocks
    are routinely lopsided (few customers per nation, many suppliers),
    and that larger side is the one hash-salted — salting partitions
    the salted side's rows across reducers, so salting the small side
    of a 3 x 1M block would use <= 3 of the k salts — while the other
    side replicates across the salt grid. The logical pair set is
    invariant in the salts (tested).
    """
    kept = kept.select(
        key_col,
        F.least(
            F.ceil(F.greatest("_ln", "_rn") / F.lit(salt_threshold)),
            F.lit(max(salt_k, 1)),
        ).cast("int").alias("_k"),
        (F.col("_ln") >= F.col("_rn")).alias("_salt_l"),
    )
    grid = F.sequence(F.lit(0).cast("long"), (F.col("_k") - 1).cast("long"))

    def salted(side: DataFrame, id_c: str, cols: list[Column], hashed: Column) -> DataFrame:
        # one row (its hash salt) on the salted side; the full salt grid
        # on the replicated side — a conditional ARRAY under a single
        # explode, because generators can't nest inside CASE WHEN
        own = F.array(F.pmod(F.xxhash64(F.col(id_c)), F.col("_k").cast("long")))
        return side.join(kept, key_col).select(
            key_col, *cols, F.explode(F.when(hashed, own).otherwise(grid)).alias("_salt")
        )

    # EXPLICIT repartition on the join keys: this join's input is a few
    # MB of (key, salt) rows but its output is quadratic per block, and
    # AQE (which sizes post-shuffle partitions from INPUT bytes, 1 MB
    # minimum each) coalesced the join stage to 1-6 tasks — 62 s of
    # join CPU serialized at 32 cores. A user-numbered repartition is
    # not AQE-coalescible and satisfies the join's distribution
    # requirement on both sides, so the stage runs at the session's
    # parallelism. Scale-adaptive: defaultParallelism is the cluster's
    # core budget, and at production input sizes the exchange would get
    # that many partitions from AQE anyway.
    join_par = left.sparkSession.sparkContext.defaultParallelism
    l_salted = salted(left, l_id, l_cols, F.col("_salt_l")).repartition(
        join_par, key_col, "_salt"
    )
    r_salted = salted(right, r_id, r_cols, ~F.col("_salt_l")).repartition(
        join_par, key_col, "_salt"
    )
    if build_hint is not None:
        l_salted = l_salted.hint(build_hint)
    pairs = l_salted.join(r_salted, [key_col, "_salt"])
    return pairs if cond is None else pairs.where(cond)


def block_pairs(
    keyed: DataFrame,
    id_col: str,
    key_col: str = "blk_key",
    salt_k: int = 4,
    max_block_size: int | None = 10_000,
    salt_threshold: int = 512,
    pass_name: str = "block",
    carry_cols: tuple[str, ...] = (),
    pair_filter: Column | None = None,
    emit_once_col: str | None = None,
) -> tuple[DataFrame, BlockStats]:
    """Canonical candidate pairs (l_id < r_id) within each blocking key.

    ``keyed``: (id_col, key_col[, ...]). Returns (pairs(l_id, r_id), stats).

    ``emit_once_col`` names an array<long> column of *earlier-key
    witnesses* (e.g. lsh_band_keys ``emit_prefixes``): a joined pair is
    suppressed when the two sides' witness arrays overlap — i.e. the
    pair already collided under an earlier key and was emitted there.
    Keys carry their band id inside the hash, so a cross-position
    equality is a ~2^-64 accident per element pair (same budget the
    module already assigns to band-key collisions; here it could DROP
    one pair with probability ~bands^2/2^65 — negligible against the
    LSH recall bound itself). With suppression on, each pair is emitted
    exactly once by construction (one salt per pair; first colliding
    key only), so the pair-dedup shuffle — O(bands) times the distinct
    pair count on near-dup-heavy corpora — is skipped entirely.

    Dropped-block interaction: when ``max_block_size`` drops a hot key,
    a later kept key must still emit the pair, so the dropped keys are
    removed from every witness array first. Past ``_MAX_REPAIR_KEYS``
    dropped blocks (known from the stats, before anything is collected)
    the repair would not fit a literal array, so suppression falls back
    to the plain emit-everywhere + dedup path — same pair set either way.

    Salting and the join itself are :func:`_salted_join`'s; both sides
    here are ``keyed``, so a block's two side counts are both its row
    count. ``carry_cols`` travel with each side into the join
    (exposed as ``l_<col>`` / ``r_<col>``) and ``pair_filter`` — a
    boolean Column over those — prunes candidates INSIDE the join stage,
    before the pair-dedup shuffle. This is how similarity joins apply
    their length/positional filters (e.g. PPJoin's ``|x| >= t*|y|``)
    without materializing the pruned pairs at all.
    """
    suppress = emit_once_col is not None
    wit_cols = (emit_once_col,) if suppress else ()
    keyed = keyed.select(id_col, key_col, *carry_cols, *wit_cols).where(
        F.col(key_col).isNotNull()
    )
    # the keyed relation is consumed by three jobs (sizes agg, stats
    # collect, pair join); localCheckpoint (lazy) materializes it once —
    # the stats collect below triggers it — so an expensive upstream
    # (e.g. the 48-permutation minhash) never recomputes. Unlike
    # .persist(), the blocks live outside the CacheManager and are freed
    # by the ContextCleaner when the returned plan is dropped, so
    # repeated standalone calls don't leak cached relations.
    keyed = keyed.localCheckpoint(eager=False)
    # ONE groupBy shuffle feeds the stats collect and the kept-keys join
    # (lazy-checkpointed so it happens once)
    sizes = (
        keyed.groupBy(key_col)
        .agg(F.count("*").alias("_ln"))
        .localCheckpoint(eager=False)
        .withColumn("_rn", F.col("_ln"))
    )
    kept, stats = _cap_blocks(sizes, max_block_size, pass_name, F.col("_ln"))
    # single-row blocks generate no pairs; pruning them up front keeps the
    # replicated probe side small (most blocks are singletons at web scale)
    kept = kept.where(F.col("_ln") >= 2)
    if suppress and stats.n_dropped_blocks > _MAX_REPAIR_KEYS:
        suppress, wit_cols = False, ()
    elif suppress and stats.n_dropped_blocks > 0:
        dropped = [
            r[0]
            for r in sizes.where(F.col("_ln") > max_block_size).select(key_col).collect()
        ]
        keyed = keyed.withColumn(
            emit_once_col,
            F.array_except(F.col(emit_once_col), F.array(*[F.lit(k) for k in dropped])),
        )

    def side(p: str) -> list[Column]:
        return [
            F.col(id_col).alias(p + "id"),
            *[F.col(c).alias(p + c) for c in (*carry_cols, *wit_cols)],
        ]

    cond = F.col("l_id") < F.col("r_id")
    if pair_filter is not None:
        cond = cond & pair_filter
    if suppress:
        # first-collision-only emission: drop the joined row when the
        # two witness arrays share an earlier key (codegen'd
        # arrays_overlap — NOT a higher-order function, which would run
        # interpreted on every joined row). NULL witness (e.g. the
        # domain pass of a multi-pass union) means "no earlier keys".
        cond = cond & ~F.coalesce(
            F.arrays_overlap(F.col("l_" + emit_once_col), F.col("r_" + emit_once_col)),
            F.lit(False),
        )
    # SHUFFLE_HASH over sort-merge: the per-(key, salt) build side is
    # bounded (max_block_size caps members; salting splits hot keys), so
    # hashing one side beats sorting BOTH sides of a multi-million-row
    # self-join — the sorts were pure CPU on an exchange this stage pays
    # anyway, and at 4 executors they sat inside the measured
    # bandwidth-bound window (BENCH/shuffle_probe.py attribution).
    pairs = _salted_join(
        keyed, keyed, kept, key_col, id_col, id_col, side("l_"), side("r_"),
        salt_k, salt_threshold, cond, build_hint="shuffle_hash",
    ).select("l_id", "r_id")
    if not suppress:
        # a pair sharing several keys (e.g. colliding in many LSH bands
        # without emit_once_col, or across passes of a multi-pass
        # union) would otherwise appear once per key — canonicalize
        pairs = pairs.dropDuplicates(["l_id", "r_id"])
    return pairs, stats


def block_pairs_lr(
    keyed_l: DataFrame,
    keyed_r: DataFrame,
    id_col_l: str = "l_id",
    id_col_r: str = "r_id",
    key_col: str = "blk_key",
    salt_k: int = 4,
    max_block_size: int | None = None,
    salt_threshold: int = 512,
    pass_name: str = "block_lr",
    canonicalize: bool = False,
    carry_cols: tuple[str, ...] = (),
    carry_cols_l: tuple[str, ...] | None = None,
    carry_cols_r: tuple[str, ...] | None = None,
    pair_filter: Column | None = None,
    prune_right_by_left: bool = False,
) -> tuple[DataFrame, BlockStats]:
    """TWO-DATASET candidate pairs within blocking keys: L x R per key.

    ``prune_right_by_left=True`` semi-joins the right relation down to
    the left side's distinct keys before any aggregation — semantically
    free (the per-key sizes join is inner, so only shared keys ever
    produce pairs) and a large cut when the left side is much smaller
    than the right: the streaming incremental probe joins one new batch
    against ALL accumulated keys, and without the prune the right-side
    size aggregation and salted join shuffle the whole accumulated
    table every micro-batch (per-batch cost growing with state volume
    instead of with the batch).

    The linkage (not dedup) form of :func:`block_pairs` — the
    reference's primary workload is matching two different datasets
    (rlr.py loads dataL and dataR; RLR_Home.py:96-119). By default no
    ``l < r`` canonicalization (the id spaces are disjoint); a pair
    appears once per distinct (l_id, r_id) regardless of how many keys
    it shares. ``canonicalize=True`` is for OVERLAPPING id spaces
    (e.g. the streaming new-vs-accumulated probe, where the right side
    contains the left): self-pairs are dropped and each unordered pair
    is emitted once as (min, max), still in a single dedup shuffle.

    Skew handling is :func:`_salted_join`'s, TWO-SIDED here: a block is
    salted when EITHER side exceeds ``salt_threshold``, and the larger
    side is the hash-salted one. Blocks with more than
    ``max_block_size`` rows on either side are dropped AND logged via
    the returned :class:`BlockStats`.

    ``carry_cols`` / ``pair_filter`` work exactly as in
    :func:`block_pairs`: the named columns travel with each side into
    the join as ``l_<col>`` / ``r_<col>`` and the boolean filter prunes
    candidates INSIDE the join stage, before the pair-dedup shuffle —
    how a linkage similarity join applies its length/positional filters
    without materializing the pruned pairs. With ``canonicalize=True``
    the filter sees the PRE-canonicalization sides (``l_`` = the
    new/left relation), so use an order-symmetric predicate there.

    Real linkage inputs routinely have DIFFERENT schemas (the
    reference's dataL/dataR each name their own comparison columns,
    backend/rlr.py:96-119), so ``carry_cols_l`` / ``carry_cols_r``
    override the shared tuple per side: L's list is selected from
    ``keyed_l`` (surfacing as ``l_<col>``), R's from ``keyed_r``
    (``r_<col>``). ``carry_cols`` remains the symmetric-shape sugar.
    """
    ccl = carry_cols if carry_cols_l is None else carry_cols_l
    ccr = carry_cols if carry_cols_r is None else carry_cols_r
    left = keyed_l.select(F.col(id_col_l), F.col(key_col), *ccl).where(
        F.col(key_col).isNotNull()
    ).localCheckpoint(eager=False)
    right = keyed_r.select(F.col(id_col_r), F.col(key_col), *ccr).where(
        F.col(key_col).isNotNull()
    )
    if prune_right_by_left:
        # keys absent from the left can never produce a pair (the sizes
        # join below is inner) — drop their right rows before anything
        # aggregates or shuffles them. AQE broadcasts the (batch-sized)
        # distinct-key relation when it fits.
        right = right.join(left.select(key_col).distinct(), key_col, "left_semi")
    right = right.localCheckpoint(eager=False)
    # keys present on both sides; checkpointed because BOTH the stats
    # aggregation and the kept-keys consumer below otherwise re-run the
    # full two-sided size aggregation
    sizes = (
        left.groupBy(key_col).agg(F.count("*").alias("_ln"))
        .join(right.groupBy(key_col).agg(F.count("*").alias("_rn")), key_col, "inner")
        .localCheckpoint(eager=False)
    )
    kept, stats = _cap_blocks(
        sizes, max_block_size, pass_name, F.col("_ln") + F.col("_rn")
    )
    # consumed by both salted sides — materialize the (small) kept-keys
    # relation once instead of re-running the size groupBys
    kept = kept.localCheckpoint(eager=False)
    pairs = _salted_join(
        left, right, kept, key_col, id_col_l, id_col_r,
        [F.col(id_col_l), *[F.col(c).alias("l_" + c) for c in ccl]],
        [F.col(id_col_r), *[F.col(c).alias("r_" + c) for c in ccr]],
        salt_k, salt_threshold, pair_filter,
    )
    if canonicalize:
        pairs = pairs.where(F.col(id_col_l) != F.col(id_col_r)).select(
            F.least(id_col_l, id_col_r).alias(id_col_l),
            F.greatest(id_col_l, id_col_r).alias(id_col_r),
        )
    else:
        pairs = pairs.select(id_col_l, id_col_r)
    pairs = pairs.dropDuplicates([id_col_l, id_col_r])
    return pairs, stats


def candidate_pairs(
    pages: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    url_col: str = "url",
    salt_k: int = 4,
    max_block_size: int | None = 10_000,
    lsh_bands: int = 16,
    lsh_rows: int = 3,
    shingle_k: int = 3,
) -> tuple[DataFrame, list[BlockStats]]:
    """Multi-pass union: domain pass ∪ LSH pass, deduped, canonicalized.

    Mirrors the reference's comp_df contract — one row per candidate
    pair, unique on the pair key (backend/rlr.py:151-157) — but the pair
    id is the canonical ``(l_id, r_id)`` tuple, never a positional index
    (SURVEY.md §1.3: determinism at scale).
    """
    # both passes emit LONG keys namespaced inside the hash itself: the
    # domain pass hashes ("domain", host), the LSH pass hashes
    # (band_id, sigs) — disjoint argument shapes, so cross-pass
    # collisions are ~2^-64 per key pair and only ever ADD candidates
    domain_keyed = pages.select(
        F.col(id_col),
        F.xxhash64(F.lit("domain"), normalized_domain(F.col(url_col))).alias("blk_key"),
    )
    lsh_keyed = lsh_band_keys(
        pages, id_col, text_col, shingle_k=shingle_k, bands=lsh_bands, rows_per_band=lsh_rows
    )

    # ONE salted self-join over the namespaced union of both passes'
    # keys: a single shuffle + dedup replaces two pass-local joins plus
    # a cross-pass union-dedup — at 4 executors the serial job chain was
    # costing more than the pair computation itself.
    keyed = domain_keyed.unionByName(lsh_keyed)
    pairs, stats = block_pairs(
        keyed, id_col, salt_k=salt_k, max_block_size=max_block_size, pass_name="domain+lsh"
    )
    return pairs, [stats]


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    sort_cols: tuple[str, ...],
    prefix_col: str | Column,
    window: int = 2,
) -> DataFrame:
    """Sorted-neighborhood blocking (the third classic ER blocking
    method, next to key equality and LSH): sort records by a composite
    key, pair each record with its next ``window`` neighbors.

    The textbook method's global sort is one total ordering — an
    anti-pattern at 10^12 rows. Here the corpus is first split by
    ``prefix_col`` (a coarse leading component of the sort key: first
    letter of a name, region code, language); the neighborhood window
    then runs WITHIN each prefix partition via ``lead`` over
    ``Window.partitionBy(prefix)``, i.e. a hash shuffle + per-partition
    sort — never a global range exchange. Pairs whose members fall in
    different prefix groups are (documentedly) not generated — the
    standard multi-pass mitigation is a second call with a different
    prefix/sort key, exactly like multi-pass blocking elsewhere in this
    module.

    Returns (l_id, r_id, nbr_dist) with ``nbr_dist`` in [1, window] —
    the rank distance between the two rows in the sorted order.
    Deterministic: ties in ``sort_cols`` order by ``id_col``.
    """
    from pyspark.sql import Window as W

    pref = F.col(prefix_col) if isinstance(prefix_col, str) else prefix_col
    base = df.select(F.col(id_col), pref.alias("_pref"), *[F.col(c) for c in sort_cols])
    w = W.partitionBy("_pref").orderBy(*[F.col(c) for c in sort_cols], F.col(id_col))
    leads = base.select(
        F.col(id_col).alias("l_id"),
        *[
            F.lead(F.col(id_col), d).over(w).alias(f"_n{d}")
            for d in range(1, window + 1)
        ],
    )
    stacked = leads.select(
        "l_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.col(f"_n{d}").alias("r_id"), F.lit(d).alias("nbr_dist")
                    )
                    for d in range(1, window + 1)
                ]
            )
        ).alias("_p"),
    )
    return stacked.select(
        "l_id", F.col("_p.r_id").alias("r_id"), F.col("_p.nbr_dist").alias("nbr_dist")
    ).where(F.col("r_id").isNotNull())
