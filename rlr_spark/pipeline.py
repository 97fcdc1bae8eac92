"""Staged, resumable pipeline: extract → block → pairs → score → cluster.

Each stage materializes its output through the :class:`Catalog` (Iceberg
when available, parquet otherwise) and writes a *stage manifest* — JSON
with row counts, per-partition row counts, duration, and the config
fingerprint. A restarted run scans manifests and skips completed stages
(the scale generalization of the reference's ``curr_comp_pair_index``
resume, backend/rlr.py:224-228, and autosave, rlr.py:743-744).

The inter-stage IR is a table, not an in-memory object (SURVEY.md §3.4):
lineage is truncated at every stage boundary, a killed run loses at most
one stage, and each stage's input is a clean columnar scan with
pushdown/pruning available to Catalyst.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from rlr_spark import LABEL_MATCH, LABEL_NONMATCH, LABEL_UNCERTAIN
from rlr_spark.catalog import Catalog
from rlr_spark.operators.blocking import candidate_pairs
from rlr_spark.operators.cluster import connected_components, key_counts
from rlr_spark.operators.compare import text_pair_similarity
from rlr_spark.operators.extract import extract_text
from rlr_spark.operators.review import init_review_columns
from rlr_spark.operators.scoring import FSWeights, score_and_label
from rlr_spark.session import byte_size


@dataclass
class PipelineConfig:
    """The pipeline spec — the engine's analogue of the review packet
    (rlr.py:195-229): declarative config, serializable, drives the run."""

    id_col: str = "url"
    text_col: str = "text"
    salt_k: int = 8
    max_block_size: int | None = 10_000
    lsh_bands: int = 16
    lsh_rows: int = 3
    shingle_k: int = 3
    # FS parameters over the text similarity (m, u) + thresholds
    m_text: float = 0.95
    u_text: float = 0.01
    agree_threshold: float = 0.8
    upper: float = 2.0
    lower: float = 0.0
    langs: list[str] | None = None  # optional language filter
    # "fixed" uses (m_text, u_text); "em" fits m/u unsupervised from the
    # similarity agreement patterns (scoring.estimate_mu_em) before labeling
    weights_mode: str = "fixed"
    # 64: uid = xxhash64(url), validated collision-free by a corpus-wide
    # aggregation each run. 128: uid = struct(xxhash64(url),
    # xxhash64(url, 1)) — at 10^12 rows the 64-bit birthday bound
    # expects ~27k collisions (n^2/2^65), so full scale REQUIRES this
    # mode; collision probability drops to ~1e-15 (n^2/2^129) and the
    # corpus-wide validator job is dropped entirely. Downstream joins/
    # dedups key on the struct unchanged; only connected components
    # needs a long node id, built over MATCHED nodes only (see run()).
    uid_bits: int = 64

    def weights(self) -> FSWeights:
        return FSWeights(
            groups={"sim_jaccard": (self.m_text, self.u_text)},
            agree_threshold=self.agree_threshold,
            upper=self.upper,
            lower=self.lower,
        )

    def fingerprint(self) -> str:
        import hashlib

        return hashlib.md5(json.dumps(asdict(self), sort_keys=True).encode()).hexdigest()[:12]


STAGES = ["extract", "pairs", "score", "cluster"]


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        config: PipelineConfig | None = None,
    ) -> None:
        self.spark = spark
        self.catalog = catalog
        self.config = config or PipelineConfig()
        self.manifest_dir = os.path.join(catalog.root, "_manifests")
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- manifests -----------------------------------------------------------
    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.manifest_dir, f"{stage}.json")

    def _stage_done(self, stage: str) -> bool:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return False
        try:
            with open(p) as f:
                m = json.load(f)
        except (json.JSONDecodeError, OSError):
            return False
        return (
            m.get("status") == "complete"
            and m.get("config_fingerprint") == self.config.fingerprint()
            and self.catalog.exists(stage)
            # a score table written before match_key existed is
            # recomputed, not resumed past (the read passes the schema
            # sidecar: no job)
            and (stage != "score" or "match_key" in self.catalog.read(stage).columns)
        )

    def _write_stage(
        self,
        stage: str,
        df: DataFrame,
        t0: float,
        extra: dict | None = None,
        validate=None,
        observed: dict[str, list[Column]] | None = None,
    ) -> None:
        """Materialize + manifest + per-partition metrics (lineage table).

        ``observed`` maps a manifest key to aggregate Columns: a
        ``DataFrame.observe`` on the written plan evaluates them as the
        write's own job produces the rows, so these data counters cost
        no job. Each key lands in the manifest as {alias: value}.

        ``validate(out)`` runs on the materialized output BEFORE the
        manifest exists: if it raises, a restarted run re-enters the
        stage (and re-validates) instead of seeing a 'complete' manifest
        and skipping the check.

        No pre-write partition probe: ``df.rdd.getNumPartitions()`` on a
        shuffle plan finalizes the AQE plan by RUNNING the upstream
        shuffle map stages (verified on Spark 4.1), whose work then
        re-executes during the actual write — roughly doubling per-stage
        shuffle cost for the pairs/score/cluster plans. Write-side
        parallelism is instead left to AQE's coalescing floor
        (``coalescePartitions.parallelismFirst``, on by default, keeps
        shuffle outputs at the session parallelism unless partitions are
        tiny). Only the extract stage's input is rebalanced in ``run()``,
        where the probe is a metadata-only file-scan split count; later
        stages read the files the previous write left, already at its
        parallelism.

        The read-back after the write runs no job: ``Catalog.read``
        passes the schema sidecar the write just left (parquet mode) or
        reads the Iceberg table, so neither infers a schema. The same
        holds for the stage reads in ``run()``, including resumed runs.
        """
        observations = {}
        for key, cols in (observed or {}).items():
            observations[key] = Observation()
            df = df.observe(observations[key], *cols)
        self.catalog.write(df, stage)
        out = self.catalog.read(stage)
        validated = validate(out) if validate is not None else None
        # per-file lineage counts straight from table METADATA (parquet
        # footers / Iceberg manifests) — zero Spark jobs. A full
        # read-back aggregation per stage was re-scanning the entire
        # stage output just to count rows.
        part_rows = self.catalog.file_row_counts(stage)
        if part_rows is None:
            part_rows = [
                (int(r._pid), int(r.rows))
                for r in out.withColumn("_pid", F.spark_partition_id())
                .groupBy("_pid")
                .agg(F.count("*").alias("rows"))
                .collect()
            ]
        metrics_pdf = [(pid, rows_, stage) for pid, rows_ in part_rows]
        # one partition FROM THE START (parallelize(..., 1)):
        # createDataFrame of a local list defaults to defaultParallelism
        # slices, and the committer's per-task commit round-trips cost
        # ~2s per stage for a <=few-hundred-row lineage table; a
        # post-hoc coalesce(1) is even worse (the single task fetches
        # every driver-held slice serially — measured 8s on 4 executor
        # JVMs). One row per output file -> one slice is right at any
        # scale.
        mrows = metrics_pdf or [(0, 0, stage)]
        # parquet mode: driver-side pyarrow write (the table is tiny and
        # a Spark job per stage was pure commit-protocol overhead);
        # Iceberg mode falls back to the Spark writer
        if not self.catalog.write_rows_local(f"{stage}_metrics", mrows):
            self.catalog.write(
                self.spark.createDataFrame(
                    self.spark.sparkContext.parallelize(mrows, 1),
                    "_pid int, rows bigint, stage string",
                ),
                f"{stage}_metrics",
            )
        rows = sum(r for _, r in part_rows)
        manifest = {
            "stage": stage,
            "status": "complete",
            "rows": rows,
            "duration_sec": round(time.time() - t0, 3),
            "config_fingerprint": self.config.fingerprint(),
            "n_partitions": out.rdd.getNumPartitions(),
            **({"validated": validated} if validated is not None else {}),
            **{key: obs.get for key, obs in observations.items()},
            **(extra or {}),
        }
        tmp = self._manifest_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, self._manifest_path(stage))  # atomic: kill-safe
        # stage output is durable; drop any intra-stage caches (e.g. the
        # blocking pass's persisted key relation)
        self.spark.catalog.clearCache()

    def read_manifest(self, stage: str) -> dict | None:
        p = self._manifest_path(stage)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return None

    # -- stages ----------------------------------------------------------------
    def run(self, pages: DataFrame, force: bool = False) -> dict[str, DataFrame]:
        """Run all stages, skipping completed ones unless ``force``.

        Returns {stage: DataFrame} reading each stage's materialized output.
        """
        cfg = self.config
        if force:
            for s in STAGES:
                p = self._manifest_path(s)
                if os.path.exists(p):
                    os.remove(p)

        # extract: recover text from html bytes; drop the fat binary column.
        # Also mint ``uid = xxhash64(url)`` — every downstream shuffle keys
        # on 8-byte longs instead of ~100-byte urls (at 10^12 rows the url
        # would dominate shuffle volume). 64-bit collisions are checked
        # below; a deployment at full 10^12 scale would widen to two
        # hashes (128 bits) or a dictionary table.
        if not self._stage_done("extract"):
            t0 = time.time()
            df = pages
            if cfg.langs:
                df = df.where(F.col("lang").isin(cfg.langs))
            if cfg.uid_bits == 128:
                uid_expr = F.struct(
                    F.xxhash64(F.col(cfg.id_col)).alias("h1"),
                    F.xxhash64(F.col(cfg.id_col), F.lit(1)).alias("h2"),
                )
            else:
                uid_expr = F.xxhash64(F.col(cfg.id_col))
            df = df.withColumn("uid", uid_expr)
            uid_obs = None
            # a compact input can land in fewer splits than we have
            # cores (on a real cluster that is tuned with
            # spark.sql.files.maxPartitionBytes). Rebalance only REAL
            # under-partitioning (one fat 300 MB file -> 3 tasks).
            # `< par` was too eager: a data-driven split count
            # just below the core count (38 splits, 48 cores) triggered
            # a full shuffle of the html bytes that cost more than the
            # imbalance it fixed.
            par = self.spark.sparkContext.defaultParallelism
            if df.rdd.getNumPartitions() < max(par // 3, 4):
                # hash on the uid, not round-robin: rows sharing a uid
                # meet in one partition, so at 64 bits the collision
                # check is an observed window over this same exchange,
                # collected by the write's own job
                df = df.repartition(par, "uid")
                if cfg.uid_bits == 64:
                    uid_obs = Observation()
                    df = (
                        df.withColumn("_uid_rows", F.count("*").over(Window.partitionBy("uid")))
                        .observe(
                            uid_obs,
                            F.count("*").alias("n"),
                            F.max("_uid_rows").alias("max_rows"),
                        )
                        .drop("_uid_rows")
                    )
            extracted = extract_text(df.drop(cfg.text_col), out_col=cfg.text_col).drop("html")
            extracted = extracted.select(
                *[c for c in extracted.columns if c != "uid"], "uid"
            )
            # 64-bit mode: the check runs BEFORE the manifest is written —
            # a collision aborts the stage and a restarted run re-checks,
            # instead of resuming past a 'complete' manifest with
            # colliding uids. A rebalanced input reads the observation
            # above (no job of its own); any other input takes one
            # exchange (key_counts, shared with the node dictionary),
            # whose map-side partial count keeps the shuffle to one row
            # per uid, so the html is never shuffled just for the check.
            # 128-bit mode: NO validator job — the birthday bound at
            # 10^12 rows is ~1e-15, below any hardware error rate, so a
            # corpus-wide aggregation to check it would be pure cost.
            def _check_uid_collisions(out: DataFrame) -> str:
                if uid_obs is not None:
                    got = uid_obs.get
                    n, max_rows = int(got["n"]), got["max_rows"] or 0
                    if max_rows > 1:
                        raise RuntimeError(
                            f"uid hash collision: {n} rows, up to {max_rows} per uid"
                        )
                    return f"uid_unique:{n}"
                n, nu = key_counts(out, "uid")
                if n != nu:
                    raise RuntimeError(f"uid hash collision: {n} rows, {nu} distinct uids")
                return f"uid_unique:{n}"

            self._write_stage(
                "extract",
                extracted,
                t0,
                validate=None if cfg.uid_bits == 128 else _check_uid_collisions,
            )
        extracted = self.catalog.read("extract")

        # pairs: domain + LSH blocking, salted, capped, each pair once — keyed on uid
        if not self._stage_done("pairs"):
            t0 = time.time()
            pairs, stats = candidate_pairs(
                extracted,
                id_col="uid",
                text_col=cfg.text_col,
                url_col=cfg.id_col,
                salt_k=cfg.salt_k,
                max_block_size=cfg.max_block_size,
                lsh_bands=cfg.lsh_bands,
                lsh_rows=cfg.lsh_rows,
                shingle_k=cfg.shingle_k,
            )
            self._write_stage(
                "pairs", pairs, t0, extra={"block_stats": [asdict(s) for s in stats]}
            )
        pairs = self.catalog.read("pairs")

        # score: similarity vector + FS label, with reference rlr_* columns
        if not self._stage_done("score"):
            t0 = time.time()
            # no input repartition: the pairs table lands in the pair
            # join's defaultParallelism files (blocking emits each pair
            # once, so no dedup exchange coalesces it first). The
            # records are broadcast when the extract table's files fit
            # the session's broadcast threshold: the planner would
            # otherwise build on the pairs, the larger relation.
            threshold = byte_size(
                self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            )
            extract_bytes = self.catalog.table_bytes("extract")
            simmed = text_pair_similarity(
                pairs,
                extracted,
                id_col="uid",
                text_col=cfg.text_col,
                broadcast_records=extract_bytes is not None and extract_bytes <= threshold,
                key_col=cfg.id_col,
            )
            weights = cfg.weights()
            if cfg.weights_mode == "em":
                from rlr_spark.operators.scoring import estimate_mu_em

                # one extra aggregation over the similarity column; the
                # EM loop itself runs on the tiny pattern table
                simmed = simmed.persist()
                mu, _ = estimate_mu_em(
                    simmed, ["sim_jaccard"], agree_threshold=cfg.agree_threshold
                )
                weights.groups = mu
            label = F.col("rlr_label")
            # the pair's smaller id (read from the records the score join
            # already broadcasts) is kept on Match rows only, as the last
            # column: the cluster stage takes entity_key = min(id) from
            # the Match edges instead of an exchange of every page
            labeled = (
                init_review_columns(score_and_label(simmed, weights))
                .withColumn("rlr_modified", F.current_timestamp())
                .withColumn("match_key", F.when(label == LABEL_MATCH, F.col("pair_key")))
                .drop("pair_key")
            )
            # the label mix rides the write; the cluster stage sizes its
            # connected components from the Match count
            self._write_stage(
                "score",
                labeled,
                t0,
                observed={
                    "label_counts": [
                        F.count_if(label == lab).alias(lab)
                        for lab in (LABEL_MATCH, LABEL_NONMATCH, LABEL_UNCERTAIN)
                    ]
                },
            )
        scored = self.catalog.read("score")

        # cluster: transitive closure of Match pairs over all extracted ids
        if not self._stage_done("cluster"):
            t0 = time.time()
            edges = scored.where(F.col("rlr_label") == LABEL_MATCH).select(
                F.col("l_id").alias("u"), F.col("r_id").alias("v"), "match_key"
            )
            ids = extracted.select("uid", cfg.id_col)
            # the Match count the score write observed (None in a
            # manifest written without label_counts: CC then sizes the
            # edge set itself). The 128-bit dictionary join below maps
            # each edge to exactly one edge, so the count holds there too.
            n_match = (self.read_manifest("score").get("label_counts") or {}).get(
                LABEL_MATCH
            )
            if cfg.uid_bits == 128:
                # CC needs long node ids; the dictionary is built over
                # MATCHED nodes only (nodes appearing in edges) — orders
                # of magnitude smaller than the corpus; singletons never
                # enter CC. The shared node_dictionary helper labels the
                # matched set (xxhash64(struct) + fused collision check
                # + exact dense fallback; over the small matched set the
                # check is cheap). entity_id stays
                # 128-bit: the representative node's struct uid — a
                # 64-bit entity label at 10^12 singletons would itself
                # birthday-collide (~27k spurious merges in the OUTPUT).
                from rlr_spark.operators.cluster import node_dictionary

                nodes = (
                    edges.select(F.col("u").alias("_id"))
                    .unionByName(edges.select(F.col("v").alias("_id")))
                    .distinct()
                    .localCheckpoint(eager=False)
                )
                hashed = node_dictionary(nodes).localCheckpoint(eager=False)
                edges_l = (
                    edges.join(hashed.withColumnRenamed("_id", "u"), "u")
                    .withColumnRenamed("_nid", "un")
                    .join(hashed.withColumnRenamed("_id", "v"), "v")
                    .select(F.col("un").alias("u"), F.col("_nid").alias("v"), "match_key")
                )
                assign_n = connected_components(
                    edges_l, edge_count=n_match, key_col="match_key"
                )
                # component label -> representative node's struct uid
                rep = hashed.select(
                    F.col("_nid").alias("entity_id"), F.col("_id").alias("_rep_uid")
                )
                assign = (
                    assign_n.join(rep, "entity_id")
                    .join(
                        hashed.select(
                            F.col("_nid").alias("node"), F.col("_id").alias("_node_uid")
                        ),
                        "node",
                    )
                    .select(
                        F.col("_node_uid").alias("node"),
                        F.col("_rep_uid").alias("entity_id"),
                        "entity_key",
                    )
                )
            else:
                # edges are already longs (uid): CC runs on the Match
                # edges; urls only rejoin for the final output table
                assign = connected_components(edges, edge_count=n_match, key_col="match_key")
            # entity_key = min member url: a matched page's comes with its
            # component (the min match_key of its edges, the least url of
            # each pair), a singleton's is its own url. At 64 bits that is
            # one broadcast of the uploaded assignment and a map-only
            # write: no exchange of the pages
            clusters = ids.join(assign, ids["uid"] == assign["node"], "left").select(
                cfg.id_col,
                F.coalesce(F.col("entity_id"), F.col("uid")).alias("entity_id"),
                F.coalesce(F.col("entity_key"), F.col(cfg.id_col)).alias("entity_key"),
            )
            self._write_stage("cluster", clusters, t0)
        clusters = self.catalog.read("cluster")

        return {
            "extract": extracted,
            "pairs": pairs,
            "score": scored,
            "cluster": clusters,
        }

    def evaluate(self, truth: DataFrame) -> dict[str, DataFrame]:
        """Post-run quality surfaces against labeled truth clusters.

        ``truth``: (id_col, entity_id) — the same shape
        :func:`pairwise_f1` consumes. Returns two lazy DataFrames over
        the run's materialized stages:

        - ``"sweep"`` — precision/recall/F1 at every distinct FS score
          (:func:`rlr_spark.operators.evaluate.threshold_sweep`), i.e.
          where cfg.upper SHOULD sit for this corpus, measured instead
          of guessed;
        - ``"blocking"`` — pairs-completeness + reduction ratio of the
          candidate set (:func:`~rlr_spark.operators.evaluate.blocking_quality`):
          how many true matches blocking lost, and what fraction of the
          n² cross-product it pruned to get there.

        Truth pairs are derived by joining truth to the extract stage on
        ``cfg.id_col`` (so both uid_bits modes work — no re-minting) and
        expanding each truth cluster to canonical l<r uid pairs; a truth
        row whose id never reached extract counts against recall, same
        as in :func:`pairwise_f1`.
        """
        from rlr_spark.operators.evaluate import blocking_quality, threshold_sweep

        cfg = self.config
        extracted = self.catalog.read("extract")
        scored = self.catalog.read("score")
        ids = extracted.select(cfg.id_col, "uid")
        t = truth.join(ids, cfg.id_col, "inner")
        a = t.select(F.col("entity_id").alias("_e"), F.col("uid").alias("l_id"))
        b = t.select(F.col("entity_id").alias("_e"), F.col("uid").alias("r_id"))
        truth_pairs = (
            a.join(b, "_e").where(F.col("l_id") < F.col("r_id")).select("l_id", "r_id")
        )
        n_records = extracted.count()
        return {
            "sweep": threshold_sweep(scored, truth_pairs),
            "blocking": blocking_quality(
                scored.select("l_id", "r_id"), truth_pairs, n_records
            ),
        }

    def quality_report(self, thresholds: tuple[float, ...] | None = None) -> str:
        """One-page markdown quality report over the run's materialized
        score stage (:func:`rlr_spark.report.linkage_quality_report`):
        score distribution, unlinkables curve against the extracted
        record universe, and cluster stability across ``thresholds``
        (default: cfg.lower / midpoint / cfg.upper). Truth-free — the
        report a reviewer reads when no labels exist yet."""
        from rlr_spark.report import linkage_quality_report

        cfg = self.config
        if thresholds is None:
            thresholds = (cfg.lower, (cfg.lower + cfg.upper) / 2, cfg.upper)
        scored = self.catalog.read("score")
        records = self.catalog.read("extract").select(F.col("uid").alias("doc_id"))
        return linkage_quality_report(
            scored.select("l_id", "r_id", "fs_score"),
            records=records,
            thresholds=thresholds,
        )


def pairwise_f1(
    clusters: DataFrame, truth: DataFrame, id_col: str = "url"
) -> dict[str, float]:
    """Pairwise precision/recall/F1 of predicted clusters vs planted truth.

    Both sides are expanded to canonical within-cluster pairs; the
    comparison is two semi/anti joins — no collect.
    """

    def pair_set(df: DataFrame, key: str) -> DataFrame:
        a = df.select(F.col(id_col).alias("_a"), F.col(key).alias("_k"))
        b = df.select(F.col(id_col).alias("_b"), F.col(key).alias("_k"))
        return (
            a.join(b, "_k")
            .where(F.col("_a") < F.col("_b"))
            .select("_a", "_b")
        )

    pred = pair_set(clusters, "entity_id")
    true = pair_set(truth, "entity_id")
    tp = pred.join(true, ["_a", "_b"], "left_semi").count()
    fp = pred.join(true, ["_a", "_b"], "left_anti").count()
    fn = true.join(pred, ["_a", "_b"], "left_anti").count()
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"precision": precision, "recall": recall, "f1": f1, "tp": tp, "fp": fp, "fn": fn}
