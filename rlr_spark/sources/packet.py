"""Review-packet JSON config (SURVEY.md S6; backend/rlr.py:195-229).

The reference's only "query language": a JSON dict with required keys
``file_L, file_L_ids, file_R, file_R_ids, file_comps, var_group_schema,
label_choices`` plus optional ``curr_comp_pair_index`` (documented at
RLR_Home.py:82-118; note the home page calls label_choices optional but
load_review_packet asserts it present, rlr.py:213-216 — we follow the
code, not the doc). Round-tripped like get_review_packet /
save_review_packet (rlr.py:746-781).

In the engine this config drives a ReviewSession: loads both datasets
and the pair table, validates ids/columns the way the reference does,
and exposes the pair-table operators.
"""

from __future__ import annotations

import json
import warnings
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rlr_spark import DEFAULT_LABELS
from rlr_spark.operators.cluster import key_counts
from rlr_spark.operators.review import (
    coverage_ratio,
    existence_flags,
    init_review_columns,
)
from rlr_spark.sources.readers import read_csv, read_parquet, read_stata

REQUIRED_KEYS = [
    "file_L",
    "file_L_ids",
    "file_R",
    "file_R_ids",
    "file_comps",
    "var_group_schema",
    "label_choices",
]


@dataclass
class ReviewPacket:
    file_L: str
    file_L_ids: list[str]
    file_R: str
    file_R_ids: list[str]
    file_comps: str
    var_group_schema: list[dict]
    label_choices: list[str] = field(default_factory=lambda: list(DEFAULT_LABELS))
    curr_comp_pair_index: int = 0

    @classmethod
    def load(cls, path: str) -> "ReviewPacket":
        with open(path) as f:
            d = json.load(f)
        missing = [k for k in REQUIRED_KEYS if k not in d]
        if missing:
            # mirrors the assert in load_review_packet (rlr.py:213-216)
            raise AssertionError(f"Review packet missing required keys: {missing}")
        ids_l = d["file_L_ids"] if isinstance(d["file_L_ids"], list) else [d["file_L_ids"]]
        ids_r = d["file_R_ids"] if isinstance(d["file_R_ids"], list) else [d["file_R_ids"]]
        return cls(
            file_L=d["file_L"],
            file_L_ids=ids_l,
            file_R=d["file_R"],
            file_R_ids=ids_r,
            file_comps=d["file_comps"],
            var_group_schema=d["var_group_schema"],
            label_choices=d["label_choices"],
            curr_comp_pair_index=int(d.get("curr_comp_pair_index", 0)),
        )

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.__dict__, f, indent=2)


def _read_any(spark: SparkSession, path: str) -> DataFrame:
    if path.endswith(".csv"):
        return read_csv(spark, path, infer=True)
    if path.endswith(".dta"):
        return read_stata(spark, path)
    return read_parquet(spark, path)


def ids_uniquely_identify(df: DataFrame, ids: list[str]) -> bool:
    """One exchange: do ``ids`` uniquely identify rows? (the
    reference's dataset-acceptance check, rlr.py:95,106; also driven
    live by the packet-builder UI's id multiselect,
    pages/01_data_input.py:110-126). The engine's collision check,
    :func:`~rlr_spark.operators.cluster.key_counts`, over the
    struct-wrapped key: a bare key would not count rows with a NULL in
    an id column (SQL semantics), which would reject tables the
    reference tool accepts — a struct with null fields is itself
    non-null and counts, and the groupBy puts equal NULL-bearing keys
    in one group."""
    n, nd = key_counts(df.select(F.struct(*ids).alias("_key")), "_key")
    return n == nd


class ReviewSession:
    """The engine's equivalent of ``rlr(rev_packet_path)`` (rlr.py:29-44):
    load L, R, pairs per the packet, validate, flag existence, ready."""

    def __init__(self, spark: SparkSession, packet: ReviewPacket) -> None:
        self.spark = spark
        self.packet = packet
        self.data_l = _read_any(spark, packet.file_L)
        self.data_r = _read_any(spark, packet.file_R)
        self._validate()
        pairs = _read_any(spark, packet.file_comps)
        missing = [
            c for c in packet.file_L_ids + packet.file_R_ids if c not in pairs.columns
        ]
        if missing:
            raise AssertionError(f"Pair file missing id columns: {missing}")
        if not ids_uniquely_identify(pairs, packet.file_L_ids + packet.file_R_ids):
            # warn-only, like rlr.py:151-155
            warnings.warn("Pair ids do not uniquely identify pair rows", stacklevel=2)
        pairs = init_review_columns(pairs)
        # FULL composite key, not just the first id column — the
        # reference's own check is single-column with a TODO
        # (rlr.py:175-178); a packet like RLR_Home.py:96-119
        # (["year","ein"]) must flag on the whole tuple
        self.pairs = existence_flags(
            pairs,
            self.data_l,
            self.data_r,
            packet.file_L_ids,
            packet.file_R_ids,
        )
        self.coverage = coverage_ratio(self.pairs)
        #: live review cursor (reference rlr.py:224-228); CLReviewer
        #: updates it and save_packet persists it
        self.cursor = packet.curr_comp_pair_index

    def save_packet(self, path: str) -> None:
        """Persist the packet with the LIVE cursor (rlr.py:746-781)."""
        self.packet.curr_comp_pair_index = int(self.cursor)
        self.packet.save(path)

    def _validate(self) -> None:
        # id-name overlap rejected first, as in load_dataset (rlr.py:82-89)
        overlap = set(self.packet.file_L_ids) & set(self.packet.file_R_ids)
        if overlap:
            raise AssertionError(f"Overlapping id variables not supported: {overlap}")
        # id uniqueness asserts (rlr.py:95,106) — one aggregation each
        for df, ids, side in (
            (self.data_l, self.packet.file_L_ids, "L"),
            (self.data_r, self.packet.file_R_ids, "R"),
        ):
            missing = [c for c in ids if c not in df.columns]
            if missing:
                raise AssertionError(f"data{side} missing id columns {missing}")
            if not ids_uniquely_identify(df, ids):
                raise AssertionError(f"ids {ids} do not uniquely identify data{side}")
        # var-schema columns exist (rlr.py:253-256)
        for g in self.packet.var_group_schema:
            for c in g["lvars"]:
                if c not in self.data_l.columns:
                    raise AssertionError(f"Var group {g['name']}: {c} not in dataL")
            for c in g["rvars"]:
                if c not in self.data_r.columns:
                    raise AssertionError(f"Var group {g['name']}: {c} not in dataR")
