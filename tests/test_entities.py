"""Incremental entity resolution (streaming/entities.py): per-batch
cluster maintenance must equal a from-scratch batch CC over everything
seen, including entity MERGES across batches via the alias table."""

import os

import pytest
from pyspark.sql import functions as F

from rlr_spark.streaming.entities import EntityState


def _batch_truth(spark, all_nodes, all_pairs):
    """(node, entity) the batch pipeline would produce: CC over uids,
    singletons keep their own uid — the oracle for the incremental path."""
    from rlr_spark.operators.cluster import connected_components

    nodes = spark.createDataFrame([(n,) for n in sorted(all_nodes)], "node string")
    if all_pairs:
        edges = spark.createDataFrame(all_pairs, "l string, r string").select(
            F.xxhash64("l").alias("u"), F.xxhash64("r").alias("v")
        )
        comp = connected_components(edges)
    else:
        comp = spark.createDataFrame([], "node long, entity_id long")
    out = (
        nodes.withColumn("_uid", F.xxhash64("node"))
        .join(comp, F.col("_uid") == comp["node"], "left")
        .select(
            nodes["node"],
            F.coalesce(comp["entity_id"], F.col("_uid")).alias("entity"),
        )
    )
    return {r.node: r.entity for r in out.collect()}


def _got(state):
    return {r.node: r.entity for r in state.assignments().collect()}


def test_incremental_merges_match_batch_cc(spark, tmp_path):
    st = EntityState(spark, str(tmp_path / "ents"), buckets=8)

    def upd(bid, nodes, pairs):
        st.update(
            spark.createDataFrame([(n,) for n in nodes] or [], "node string"),
            spark.createDataFrame(pairs or [], "l_id string, r_id string"),
            bid,
        )

    # batch 0: a-b merged, c and d singletons
    upd(0, ["a", "b", "c", "d"], [("a", "b")])
    seen_nodes, seen_pairs = {"a", "b", "c", "d"}, [("a", "b")]
    assert _got(st) == _batch_truth(spark, seen_nodes, seen_pairs)

    # batch 1: e arrives; c-d and e-c merge three nodes
    upd(1, ["e"], [("c", "d"), ("e", "c")])
    seen_nodes |= {"e"}
    seen_pairs += [("c", "d"), ("e", "c")]
    assert _got(st) == _batch_truth(spark, seen_nodes, seen_pairs)

    # batch 2: a single edge BRIDGES the two existing entities — the
    # merged entity must cover all five nodes via the alias table,
    # without rewriting any stored member row
    upd(2, [], [("b", "c")])
    seen_pairs += [("b", "c")]
    truth = _batch_truth(spark, seen_nodes, seen_pairs)
    assert _got(st) == truth
    assert len(set(truth.values())) == 1  # one entity of five nodes


def test_incremental_random_batches_equal_batch_cc(spark, tmp_path):
    """Randomized: nodes and edges arrive over 5 batches (edges may
    reference nodes from any earlier batch); the incremental result
    must equal the from-scratch CC exactly — ids included."""
    import random

    rng = random.Random(13)
    all_nodes = [f"n{i:02d}" for i in range(40)]
    batches = []
    introduced = []
    for b in range(5):
        newly = all_nodes[b * 8 : (b + 1) * 8]
        introduced += newly
        pairs = [
            (rng.choice(introduced), rng.choice(introduced)) for _ in range(6)
        ]
        pairs = [(l, r) for l, r in pairs if l != r]
        batches.append((newly, pairs))

    st = EntityState(spark, str(tmp_path / "ents"), buckets=8)
    seen_pairs = []
    for bid, (newly, pairs) in enumerate(batches):
        st.update(
            spark.createDataFrame([(n,) for n in newly], "node string"),
            spark.createDataFrame(pairs or [], "l_id string, r_id string"),
            bid,
        )
        seen_pairs += pairs
    got = _got(st)
    assert got == _batch_truth(spark, set(introduced), seen_pairs)

    # replay: a marker-less re-run of the LAST batch (the crash-replay
    # shape) must leave the result unchanged. A real crash during batch
    # 4 happens BEFORE its marker write, hence before its watermark
    # advance — rewind the watermark with the marker, or the simulated
    # state would be the renumbered-stream shape the guard refuses
    os.remove(os.path.join(st.applied_dir, "batch_4"))
    from rlr_spark.streaming.state import applied_watermark

    wm_path = os.path.join(st.work_dir, "_watermark")
    with open(wm_path, "w") as f:
        f.write("3")
    newly, pairs = batches[4]
    st.update(
        spark.createDataFrame([(n,) for n in newly], "node string"),
        spark.createDataFrame(pairs or [], "l_id string, r_id string"),
        4,
    )
    assert _got(st) == got
    assert applied_watermark(st.work_dir) == 4  # replay re-raised it

    # alias compaction flattens chains without changing assignments
    st.compact_aliases(99)
    assert _got(st) == got
    alias = spark.read.parquet(st.alias_dir)
    heads = {r.old_entity for r in alias.select("old_entity").collect()}
    tails = {r.new_entity for r in alias.select("new_entity").collect()}
    assert not (heads & tails)  # depth 1: no root is itself aliased


def test_chain_merges_accumulate_aliases(spark, tmp_path):
    """Worst case for the alias table: every batch merges the existing
    entity with a new node (a growing chain). Assignments stay correct
    at each step and compaction collapses the chain."""
    st = EntityState(spark, str(tmp_path / "ents"), buckets=4)
    nodes = [f"c{i}" for i in range(7)]
    st.update(
        spark.createDataFrame([(nodes[0],)], "node string"),
        spark.createDataFrame([], "l_id string, r_id string"),
        0,
    )
    pairs = []
    for i in range(1, 7):
        pairs.append((nodes[i - 1], nodes[i]))
        st.update(
            spark.createDataFrame([(nodes[i],)], "node string"),
            spark.createDataFrame([pairs[-1]], "l_id string, r_id string"),
            i,
        )
        assert _got(st) == _batch_truth(spark, set(nodes[: i + 1]), pairs)
    st.compact_aliases(100)
    assert _got(st) == _batch_truth(spark, set(nodes), pairs)


@pytest.mark.parametrize("bad", [0])
def test_update_is_idempotent_under_marker(spark, tmp_path, bad):
    st = EntityState(spark, str(tmp_path / "ents"), buckets=4)
    nodes = spark.createDataFrame([("x",), ("y",)], "node string")
    pairs = spark.createDataFrame([("x", "y")], "l_id string, r_id string")
    st.update(nodes, pairs, bad)
    before = _got(st)
    st.update(nodes, pairs, bad)  # marker short-circuits
    assert _got(st) == before


def test_compaction_crash_windows_and_id_collision(spark, tmp_path):
    """The two data-loss findings from review, pinned: (a) a crash
    between compaction's two directory swaps must be recovered at init
    (the flattened table is installed, nothing lost); (b) a stream
    batch whose id equals a past compaction epoch must still see the
    compacted aliases (they live under the reserved -1 partition)."""
    import shutil

    st = EntityState(spark, str(tmp_path / "ents"), buckets=4)
    nodes = [f"m{i}" for i in range(5)]
    pairs = []
    st.update(
        spark.createDataFrame([(nodes[0],)], "node string"),
        spark.createDataFrame([], "l_id string, r_id string"),
        0,
    )
    for i in range(1, 5):
        pairs.append((nodes[i - 1], nodes[i]))
        st.update(
            spark.createDataFrame([(nodes[i],)], "node string"),
            spark.createDataFrame([pairs[-1]], "l_id string, r_id string"),
            i,
        )
    truth = _batch_truth(spark, set(nodes), pairs)
    assert _got(st) == truth

    # (a) crash window: alias/ missing, .next complete -> init recovers
    st.compact_aliases(7)
    os.replace(st.alias_dir, st.alias_dir + ".next")  # simulate the window
    st2 = EntityState(spark, str(tmp_path / "ents"), buckets=4)
    assert os.path.isdir(st2.alias_dir)
    assert _got(st2) == truth
    # stale .next while alias/ exists -> discarded at init
    os.makedirs(st2.alias_dir + ".next", exist_ok=True)
    st3 = EntityState(spark, str(tmp_path / "ents"), buckets=4)
    assert not os.path.isdir(st3.alias_dir + ".next")
    assert _got(st3) == truth

    # (b) update with batch_id == past compaction epoch still resolves
    # the compacted aliases (epoch partitions are -1, never a batch id)
    pairs.append((nodes[4], "m5"))
    st3.update(
        spark.createDataFrame([("m5",)], "node string"),
        spark.createDataFrame([pairs[-1]], "l_id string, r_id string"),
        7,
    )
    assert _got(st3) == _batch_truth(spark, set(nodes) | {"m5"}, pairs)

    # negative ids are reserved
    import pytest as _pytest

    with _pytest.raises(ValueError, match=">= 0"):
        st3.update(
            spark.createDataFrame([("z",)], "node string"),
            spark.createDataFrame([], "l_id string, r_id string"),
            -3,
        )

    # a crashed FIRST write leaving only _temporary litter reads as empty
    fresh = EntityState(spark, str(tmp_path / "fresh"), buckets=4)
    os.makedirs(os.path.join(fresh.assign_dir, "_temporary", "0"), exist_ok=True)
    open(
        os.path.join(fresh.assign_dir, "_temporary", "0", "part-0.parquet"), "wb"
    ).write(b"junk")
    assert fresh.assignments().count() == 0
    shutil.rmtree(str(tmp_path / "fresh"))


def test_renumbered_stream_new_generation(spark, tmp_path):
    """ADVICE r5: a wiped checkpoint over retained state restarts batch
    ids from 0; a genuinely-new batch would then collide with a
    retained old ``_batch_id`` — the ``!= bid`` prior-state exclusion
    would hide the old batch's assignments and the dynamic overwrite
    would delete its rows in touched leaves. The generation scheme maps
    the restarted ids onto a fresh range past the state-dir watermark,
    so the new batch is applied safely and old state is untouched."""
    import shutil

    from rlr_spark.streaming.state import applied_watermark

    wd = str(tmp_path / "ents")
    st = EntityState(spark, wd, buckets=4)
    # markers relocated into a "checkpoint" dir, the composed-stream
    # shape (incremental_neardup_stream does exactly this relocation)
    ckpt_markers = str(tmp_path / "ckpt" / "_ents_applied")
    os.makedirs(ckpt_markers, exist_ok=True)
    st.applied_dir = ckpt_markers

    def upd(s, bid, nodes, pairs):
        s.update(
            spark.createDataFrame([(n,) for n in nodes], "node string"),
            spark.createDataFrame(pairs or [], "l_id string, r_id string"),
            bid,
        )

    upd(st, 0, ["a", "b"], [("a", "b")])
    upd(st, 1, ["c"], [])
    assert applied_watermark(wd) == 1  # lives in the STATE dir

    # wipe the checkpoint (markers + generation token gone, state +
    # watermark retained), reopen, stream renumbers from 0 with NEW
    # data -> a fresh generation offsets its ids past the watermark:
    # applied safely, no collision with retained _batch_id partitions
    shutil.rmtree(str(tmp_path / "ckpt"))
    st2 = EntityState(spark, wd, buckets=4)
    os.makedirs(ckpt_markers, exist_ok=True)
    st2.applied_dir = ckpt_markers
    upd(st2, 0, ["zz"], [])
    assert applied_watermark(wd) == 2  # effective id = 0 + (wm 1 + 1)
    upd(st2, 1, ["d"], [("c", "d")])
    assert applied_watermark(wd) == 3
    assert _got(st2) == _batch_truth(
        spark,
        {"a", "b", "c", "d", "zz"},
        [("a", "b"), ("c", "d")],
    )


def test_tampered_state_refused(spark, tmp_path):
    """The guard backstop: an effective id at/below the watermark whose
    marker is MISSING cannot arise from a checkpoint wipe (new
    generation offsets past the watermark) or a crash-replay (a crashed
    batch never advanced the watermark) — only from out-of-band
    tampering (hand-deleted marker, two streams sharing a state dir).
    Refuse loudly; state must be untouched."""
    from rlr_spark.streaming.state import applied_watermark

    wd = str(tmp_path / "ents")
    st = EntityState(spark, wd, buckets=4)

    def upd(s, bid, nodes, pairs):
        s.update(
            spark.createDataFrame([(n,) for n in nodes], "node string"),
            spark.createDataFrame(pairs or [], "l_id string, r_id string"),
            bid,
        )

    upd(st, 0, ["a", "b"], [("a", "b")])
    upd(st, 1, ["c"], [])
    assert applied_watermark(wd) == 1

    # hand-delete batch 1's marker while the watermark stands at 1 —
    # same generation, so a replay of raw id 1 maps to effective id 1:
    # at the watermark with no marker -> tampering, refused
    os.remove(os.path.join(st.applied_dir, "batch_1"))
    before = _got(st)
    with pytest.raises(ValueError, match="renumbered"):
        upd(st, 1, ["zz"], [])
    assert _got(st) == before  # nothing was overwritten


def test_bucket_count_change_refused(spark, tmp_path):
    """Reopening entity state with a different bucket count would
    misroute every prior-assignment probe — must raise, never probe."""
    import pytest as _pytest

    st = EntityState(spark, str(tmp_path / "ents"), buckets=8)
    st.update(
        spark.createDataFrame([("a",)], "node string"),
        spark.createDataFrame([], "l_id string, r_id string"),
        0,
    )
    with _pytest.raises(ValueError, match="scheme"):
        EntityState(spark, str(tmp_path / "ents"), buckets=16)
    # same bucket count reopens fine
    EntityState(spark, str(tmp_path / "ents"), buckets=8)


def test_compaction_cadence_bounds_rounds(spark, tmp_path):
    """VERDICT r5 #5: per-batch update latency grows with alias-chain
    depth between compactions — each pointer-doubling round is a
    driver-blocking count. Adversarial worst case (every batch re-roots
    the one growing cluster onto a smaller-UID node, depth +1 per
    batch): rounds grow as ~log2(batches since compaction), and
    compacting every <= 3 merge-heavy batches keeps updates at <= 2
    rounds. The measured rounds are exposed as ``last_resolve_rounds``
    for signal-driven cadence."""
    # auto_compact_rounds=None: this test measures the UNCOMPACTED
    # adversarial depth growth (the signal the auto trigger consumes);
    # the auto default is covered by test_auto_compaction_bounds_rounds
    st = EntityState(
        spark, str(tmp_path / "cadence"), buckets=4, auto_compact_rounds=None
    )

    def upd(bid, node, pair):
        st.update(
            spark.createDataFrame([(node,)], "node string"),
            spark.createDataFrame([pair] if pair else [], "l_id string, r_id string"),
            bid,
        )

    # entity ids are xxhash64 uids, so "descending ids" must descend in
    # UID space (string order is irrelevant): rank candidate nodes by
    # their uid and feed them largest-first — every merge then re-roots
    # the one growing cluster onto the new (smaller-uid) node, deepening
    # the alias chain by one per batch. 15 batches is the smallest depth
    # at which both bounds below discriminate: linear growth would reach
    # 14 rounds, twice the log bound, and the chain still needs 4 rounds
    n_batches = 15
    cand = [f"n{i:03d}" for i in range(n_batches + 10)]
    uid_of = {
        r.node: r.uid
        for r in spark.createDataFrame([(c,) for c in cand], "node string")
        .select("node", F.xxhash64("node").alias("uid"))
        .collect()
    }
    ids = sorted(cand, key=lambda n: -uid_of[n])[:n_batches]
    rounds_log = []
    upd(0, ids[0], None)
    for i in range(1, n_batches):
        upd(i, ids[i], (ids[i], ids[i - 1]))
        rounds_log.append(st.last_resolve_rounds)

    # log-depth growth, not linear: 14 adversarial merges stay within
    # ceil(log2(depth)) + 1 rounds, and rounds are monotone-ish
    assert max(rounds_log) <= 7, rounds_log
    assert rounds_log[-1] >= 4, rounds_log  # deep chain really did build

    # correctness unaffected by depth: everything is one entity
    assert _got(st) == _batch_truth(
        spark, set(ids), [(ids[i], ids[i - 1]) for i in range(1, n_batches)]
    )

    # cadence guideline: after compaction (every chain flattened to one
    # hop) the next k adversarial merge batches build depth k+1, and
    # pointer doubling covers depth 2^r in r rounds — so <= 3
    # merge-heavy batches between compactions keeps updates <= 2 rounds
    st.compact_aliases(1)
    post = sorted(cand, key=lambda n: -uid_of[n])[n_batches:]  # smallest uids
    prev = ids[-1]
    for j, nid in enumerate(post[:4]):
        upd(n_batches + j, nid, (nid, prev))
        prev = nid
        expected = 2 if j < 3 else 3  # depth j+2 after batch j
        assert st.last_resolve_rounds <= expected, (j, st.last_resolve_rounds)


def test_auto_compaction_bounds_rounds(spark, tmp_path):
    """Default EntityState auto-compacts aliases when a batch's resolve
    exceeded auto_compact_rounds doubling rounds — so even the
    adversarial re-rooting order keeps every update's resolve bounded,
    with no manual compact_aliases calls, and assignments stay exact."""
    st = EntityState(spark, str(tmp_path / "auto"), buckets=4)
    assert st.auto_compact_rounds == 1

    # 7 batches is the smallest run in which the bound below
    # discriminates: without the auto trigger, the 6th adversarial
    # merge already needs 3 rounds (rounds 0, 1, 1, 2, 2, 3)
    n_batches = 7
    cand = [f"n{i:03d}" for i in range(n_batches)]
    uid_of = {
        r.node: r.uid
        for r in spark.createDataFrame([(c,) for c in cand], "node string")
        .select("node", F.xxhash64("node").alias("uid"))
        .collect()
    }
    ids = sorted(cand, key=lambda n: -uid_of[n])
    pairs = []
    st.update(
        spark.createDataFrame([(ids[0],)], "node string"),
        spark.createDataFrame([], "l_id string, r_id string"),
        0,
    )
    rounds_log = []
    for i in range(1, n_batches):
        st.update(
            spark.createDataFrame([(ids[i],)], "node string"),
            spark.createDataFrame([(ids[i], ids[i - 1])], "l_id string, r_id string"),
            i,
        )
        pairs.append((ids[i], ids[i - 1]))
        rounds_log.append(st.last_resolve_rounds)

    # a batch may momentarily NEED 3 rounds (that's the trigger), but
    # compaction fires right after, so depth never compounds: no batch
    # ever exceeds trigger+1 and the tail stays at the flattened bound
    assert max(rounds_log) <= st.auto_compact_rounds + 1, rounds_log
    assert _got(st) == _batch_truth(spark, set(ids), pairs)
