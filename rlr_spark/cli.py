"""Interactive command-line review loop — the reference's daily surface.

Reimplements the reference's REPL (``CL_review_comparisons`` /
``CL_comparison_query`` / ``CL_process_choice``, backend/rlr.py:517-682)
over the Spark-backed :class:`~rlr_spark.sources.packet.ReviewSession`:

  - render the current pair as a grouped three-column table
    (operators.compare.grouped_values + report.render_pair);
  - digit choices assign a label (0 clears), ``a`` sets a note,
    ``p``/``n``/``g`` move the cursor, ``s`` prints the label summary,
    ``e`` exits (rlr.py:607-645);
  - every label/note save stamps ``rlr_modified`` and autosaves the pair
    table (rlr.py:740-744), and the cursor is persisted to the review
    packet on save/exit (rlr.py:224-228, 746-781).

Driver-side by design: a review slice is human-sized, so the ordered
pair *keys* are collected once (the reference collects the entire table
into pandas). Renders are served from a driver cache of one page of
``RENDER_PAGE`` keys: entering a page is one Spark job (a range-filtered
scan of the pair table and ``isin`` scans of the two record tables,
collected as one union), a render inside the cached page runs none, and
each label write is one projected rewrite of the pair table — so the
same loop works unchanged when the pair table is a big catalog table.

``input_fn`` / ``print_fn`` are injectable for tests (monkeypatched
stdin is how the loop is driven under pytest).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from functools import partial

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from rlr_spark import REV_DATE_COL, REV_LABEL_COL, REV_NOTE_COL
from rlr_spark.operators.compare import grouped_values
from rlr_spark.operators.review import check_label, label_update_columns
from rlr_spark.report import render_label_summary, render_pair
from rlr_spark.sources.packet import ReviewSession
from rlr_spark.sources.readers import read_csv
from rlr_spark.sources.writers import write_csv

#: extra options after the numeric label choices (rlr.py:24-25 analogue)
ADDTL_OPTIONS = [
    ("p", "Previous"),
    ("n", "Next"),
    ("g", "Go to"),
    ("a", "Add note"),
    ("s", "Summary"),
    ("e", "Exit"),
]

#: pairs of the key-sorted cursor order fetched by one render job; the
#: driver caches one page (at most this many pair rows and twice as
#: many records, projected to the var-schema fields)
RENDER_PAGE = 64


def _key_match(cols: list[str], values) -> Column:
    """``cols == values`` column by column (NULL matches nothing, like
    the equi-join of upsert_labels and grouped_projection)."""
    cond = F.lit(True)
    for c, v in zip(cols, values):
        cond = cond & (F.col(c) == F.lit(v))
    return cond


class CLReviewer:
    """REPL over a ReviewSession's pair table.

    Args:
        session: a loaded ReviewSession.
        comp_pairs_path: where label saves are autosaved (CSV dir via
            Spark writer, or ``.parquet`` dir). Defaults to the packet's
            ``file_comps`` + ``.reviewed``.
        packet_path: when given, the packet JSON (with the live cursor)
            is rewritten on every save and on exit.
        autosave: persist the pair table after each label/note
            (reference default, rlr.py:42).
        max_pairs: refuse to open a pair table larger than this
            (default 1,000,000). The cursor holds every key tuple on
            the driver — review-sized by contract, like the reference's
            in-memory comps file — so pointing the reviewer at a full
            blocking output would OOM the driver. Filter first (e.g.
            the uncertain band: ``pairs.where("rlr_label = ''")``) or
            raise the limit explicitly.
    """

    def __init__(
        self,
        session: ReviewSession,
        comp_pairs_path: str | None = None,
        packet_path: str | None = None,
        autosave: bool = True,
        width: int = 80,
        input_fn: Callable[[str], str] = input,
        print_fn: Callable[[str], None] = print,
        max_pairs: int = 1_000_000,
    ) -> None:
        self.session = session
        self.packet = session.packet
        self.width = width
        self.autosave = autosave
        self.packet_path = packet_path
        self.comp_pairs_path = comp_pairs_path or (self.packet.file_comps + ".reviewed")
        self._input = input_fn
        self._print = print_fn
        self.key_cols = list(self.packet.file_L_ids) + list(self.packet.file_R_ids)
        self.pairs: DataFrame = session.pairs
        # ordered pair keys, collected once: the positional cursor's
        # source of truth (the reference holds the whole table in pandas;
        # we hold only the key tuples). INTENTIONAL DEVIATION from the
        # reference: the cursor is positional over the KEY-SORTED order,
        # not the comps-file row order (rlr.py:224-228) — a distributed
        # scan has no stable row order, so key order is the only
        # deterministic one. A packet saved by the reference therefore
        # resumes at the same ORDINAL position but possibly a different
        # pair; packets round-trip exactly within this tool.
        #
        # guard BEFORE collecting: the bounded count moves no row to the
        # driver, while the sorted collect below gathers each partition's
        # top keys there (RDD.takeOrdered), so on an oversized table it
        # could hold partitions x max_pairs tuples
        if self.pairs.limit(max_pairs + 1).count() > max_pairs:
            raise ValueError(
                f"pair table has more than {max_pairs:,} rows, the review "
                "limit. The reviewer keeps every pair key on the driver; "
                "filter the table first (e.g. the uncertain band: "
                "pairs.where(\"rlr_label = ''\")) or pass a larger max_pairs "
                "explicitly."
            )
        # the limit drops nothing (the table is within it) but plans the
        # sort as one TakeOrderedAndProject job, not a 3-job range sort
        self.keys = [
            tuple(r)
            for r in self.pairs.select(*self.key_cols)
            .orderBy(*self.key_cols)
            .limit(max_pairs)
            .collect()
        ]
        self.n = len(self.keys)
        #: (page, pair values, L records, R records) of the last page
        #: rendered; _save patches it, so it mirrors the saved table
        self._page: tuple[int, dict, dict, dict] | None = None

    # -- the current pair: served from a cached page -------------------------
    def _grouped_row(self, idx: int) -> Row | None:
        """The pair at ``idx`` as an ``operators.compare.grouped_projection``
        row (its ``grp_*`` values, label and note), read from the cached
        page of ``RENDER_PAGE`` keys that holds ``idx``. Only a render
        that leaves the cached page runs a Spark job (:meth:`_fetch_page`).
        ``None`` when the pair key is not in the table."""
        page = idx // RENDER_PAGE
        if self._page is None or self._page[0] != page:
            self._page = (page, *self._fetch_page(page))
        _, pair_vals, l_vals, r_vals = self._page
        key = self.keys[idx]
        if key not in pair_vals:
            return None
        nl = len(self.packet.file_L_ids)
        return Row(
            **pair_vals[key],
            **grouped_values(
                l_vals.get(key[:nl]), r_vals.get(key[nl:]), self.packet.var_group_schema
            ),
        )

    def _fetch_page(self, page: int) -> tuple[dict, dict, dict]:
        """One page's pair values (key -> label and note) and records
        (L ids -> values, R ids -> values), in ONE Spark job: the union
        of :meth:`_page_query`, matched to the page's keys as typed
        tuples on the driver (the first row of each key, as scanned)."""
        # a NULL key part matches nothing, as in the equi-joins of
        # upsert_labels and grouped_projection
        keys = [
            k for k in self.keys[page * RENDER_PAGE : (page + 1) * RENDER_PAGE] if None not in k
        ]
        pair_vals: dict[tuple, dict] = {}
        l_vals: dict[tuple, dict] = {}
        r_vals: dict[tuple, dict] = {}
        if not keys:
            return pair_vals, l_vals, r_vals
        nl = len(self.packet.file_L_ids)
        want = set(keys)
        want_l, want_r = {k[:nl] for k in keys}, {k[nl:] for k in keys}
        for r in self._page_query(keys).collect():
            k = tuple(r[1:-1])
            if r.side == "pair" and k in want:
                pair_vals.setdefault(k, r.vals)
            elif r.side == "l" and k[:nl] in want_l:
                l_vals.setdefault(k[:nl], r.vals)
            elif r.side == "r" and k[nl:] in want_r:
                r_vals.setdefault(k[nl:], r.vals)
        return pair_vals, l_vals, r_vals

    def _page_query(self, keys: list[tuple]) -> DataFrame:
        """The union of three scans for sorted, NULL-free pair ``keys``:
        the pair rows in the keys' range (a pushable ``between`` on the
        first key column plus the exact range on the whole key tuple),
        and the L and R records whose ids are ``isin`` the keys' ids.
        Each branch is ``side``, its ids cast to the pair table's key
        types (``_k0`` ...; NULL where the side has no such id) and a
        string map of its values, cast as grouped_projection casts them.
        No join, no exchange."""
        types = [self.pairs.schema[c].dataType for c in self.key_cols]

        def scan(side: str, df: DataFrame, cols: list[str], at: int, fields, cond) -> DataFrame:
            ids = [F.lit(None).cast(t) for t in types]
            for i, c in enumerate(cols, at):
                ids[i] = F.col(c).cast(types[i])
            vals = F.create_map(
                *[x for c in fields for x in (F.lit(c), F.col(c).cast("string"))]
            ).cast("map<string,string>")
            return df.where(cond).select(
                F.lit(side).alias("side"),
                *[v.alias(f"_k{i}") for i, v in enumerate(ids)],
                vals.alias("vals"),
            )

        def ids_in(df: DataFrame, cols: list[str], at: int) -> Column:
            cond = F.lit(True)
            for i, c in enumerate(cols, at):
                # cast only where the types differ: a bare column keeps
                # the In pushable
                col = F.col(c) if df.schema[c].dataType == types[i] else F.col(c).cast(types[i])
                cond = cond & col.isin(sorted({k[i] for k in keys}))
            return cond

        def bound(key: tuple) -> Column:
            return F.struct(
                *[F.lit(v).cast(t).alias(c) for c, v, t in zip(self.key_cols, key, types)]
            )

        lo, hi = keys[0], keys[-1]
        in_range = F.col(self.key_cols[0]).between(
            F.lit(lo[0]).cast(types[0]), F.lit(hi[0]).cast(types[0])
        ) & F.struct(*self.key_cols).between(bound(lo), bound(hi))
        schema = self.packet.var_group_schema
        ids_l, ids_r = self.packet.file_L_ids, self.packet.file_R_ids
        data_l, data_r = self.session.data_l, self.session.data_r
        lvars = sorted({c for g in schema for c in g["lvars"]})
        rvars = sorted({c for g in schema for c in g["rvars"]})
        return (
            scan("pair", self.pairs, self.key_cols, 0, [REV_LABEL_COL, REV_NOTE_COL], in_range)
            .unionAll(scan("l", data_l, ids_l, 0, lvars, ids_in(data_l, ids_l, 0)))
            .unionAll(
                scan("r", data_r, ids_r, len(ids_l), rvars, ids_in(data_r, ids_r, len(ids_l)))
            )
        )

    # -- rendering (fresh implementations of the CL_* surfaces) ----------------
    def render_current(self) -> str:
        idx = self.session.cursor
        row = self._grouped_row(idx)
        head = f"Record Pair {idx + 1}/{self.n}"
        lines = [
            "+" + "-" * (self.width - 2) + "+",
            "|" + head.center(self.width - 2) + "|",
            "+" + "-" * (self.width - 2) + "+",
        ]
        if row is None:
            lines.append("**** pair key not found in the pair table ****")
            return "\n".join(lines)
        lines.append(render_pair(row, self.packet.var_group_schema, width=self.width))
        note = row[REV_NOTE_COL]
        if note:
            lines.append(f"Note: {note}")
        cur_label = row[REV_LABEL_COL]
        lines.append(self._options_text(cur_label))
        return "\n".join(lines)

    def _options_text(self, cur_label: str) -> str:
        opts = ["No Label"] + list(self.packet.label_choices)
        sel = (
            self.packet.label_choices.index(cur_label) + 1
            if cur_label in self.packet.label_choices
            else 0
        )
        parts = [
            (f"<{i}> {lab}" if i == sel else f"({i}) {lab}") for i, lab in enumerate(opts)
        ]
        extra = " ".join(f"({tag}) {text}" for tag, text in ADDTL_OPTIONS)
        return (
            "Label Options (<> = current label):\n"
            + " ".join(parts)
            + "\nOther Options:\n"
            + extra
        )

    # -- persistence -----------------------------------------------------------
    def _save(self, idx: int, label: str | None = None, note: str | None = None) -> None:
        """save_label_or_note (rlr.py:698-744) for one known key: the
        :func:`upsert_labels` column rules applied under the key
        predicate — a projection of the pair table, no join — then
        autosave, then the same update on the cached page."""
        check_label(label, list(self.packet.label_choices))
        key = self.keys[idx]
        hit = _key_match(self.key_cols, key)

        def new(v: str | None) -> Column:
            return F.lit(None).cast("string") if v is None else F.when(hit, F.lit(v))

        # key columns first, the column order upsert_labels' join emits
        rest = [c for c in self.pairs.columns if c not in self.key_cols]
        self.pairs = self.pairs.select(*self.key_cols, *rest).withColumns(
            label_update_columns(new(label), new(note), F.current_timestamp())
        )
        # self.pairs holds the update now: until it is saved, a render
        # reads it, not the cache
        page, self._page = self._page, None
        if self.autosave:
            self._persist()
        else:
            # truncate the update lineage so a long session doesn't grow
            # an unbounded plan
            self.pairs = self.pairs.localCheckpoint(eager=True)
        # a CSV re-read turns "" into NULL: refetch
        if page is not None and (not self.autosave or self.comp_pairs_path.endswith(".parquet")):
            if key in page[1]:
                page[1][key].update(
                    {c: v for c, v in ((REV_LABEL_COL, label), (REV_NOTE_COL, note)) if v is not None}
                )
            self._page = page
        if self.packet_path:
            self.session.cursor = idx
            self.session.save_packet(self.packet_path)

    def _persist(self) -> None:
        """Autosave (rlr.py:743-744): write the pair table ONCE to
        ``<path>.tmp``, swap directories (``<path>`` -> ``.old``,
        ``.tmp`` -> ``<path>``, delete ``.old``), then re-read it with
        the schema just written — an inferring read would cost a job.

        A save killed mid-swap leaves ``.tmp`` and/or ``.old`` behind;
        the next save overwrites the one and removes the other. Only the
        writer and the reader depend on the format."""
        spark = self.session.spark
        path = self.comp_pairs_path
        tmp, old = path + ".tmp", path + ".old"
        schema = self.pairs.schema
        if path.endswith(".parquet"):
            self.pairs.write.mode("overwrite").parquet(tmp)
            read = spark.read.schema(schema).parquet
        else:
            # CSV keeps no timestamp precision promises; used for parity
            # with the reference's to_csv autosave (rlr.py:692)
            out = self.pairs.withColumn(
                REV_DATE_COL, F.date_format(REV_DATE_COL, "yyyy-MM-dd HH:mm:ss")
            )
            write_csv(out, tmp, mode="overwrite")
            read = partial(read_csv, spark, schema=schema)
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
        self.pairs = read(path)

    # -- the loop ----------------------------------------------------------------
    def _valid_choices(self) -> list[str]:
        return [str(i) for i in range(len(self.packet.label_choices) + 1)] + [
            tag for tag, _ in ADDTL_OPTIONS
        ]

    def query_choice(self) -> str:
        """Render the current pair and gather one validated choice
        (CL_comparison_query, rlr.py:517-588)."""
        self._print(self.render_current())
        valid = self._valid_choices()
        choice = self._input("Enter Choice: ").lower()
        while choice not in valid:
            self._print("*** Invalid Choice ***")
            choice = self._input("Enter Choice: ").lower()
        return choice

    def process_choice(self, choice: str) -> None:
        """Act on a validated choice (CL_process_choice, rlr.py:590-645)."""
        idx = self.session.cursor
        labels = self.packet.label_choices
        if choice == "0":
            self._save(idx, label="")
        elif choice.isdigit() and 1 <= int(choice) <= len(labels):
            self._save(idx, label=labels[int(choice) - 1])
        elif choice == "p":
            if idx == 0:
                self._print("** This was first comparison pair, can't go to previous **")
            else:
                self.session.cursor = idx - 1
        elif choice == "n":
            if idx >= self.n - 1:
                self._print("** This was final comparison pair, can't go to next **")
            else:
                self.session.cursor = idx + 1
        elif choice == "g":
            valid = [str(i) for i in range(1, self.n + 1)]
            dest = self._input(f"Enter Comp. Number (1-{self.n}): ")
            while dest not in valid:
                self._print(
                    f"** This index is not valid, must be integer between 1 and {self.n} **"
                )
                dest = self._input(f"Enter Comp. Number (1-{self.n}): ")
            self.session.cursor = int(dest) - 1
        elif choice == "a":
            note = self._input("Enter note (replaces current note): ")
            self._save(idx, note=note)
        elif choice == "s":
            self._print(render_label_summary(self.pairs, self.packet.label_choices))
        # 'e' handled by the loop

    def review(self) -> None:
        """The REPL (CL_review_comparisons, rlr.py:646-682): render,
        gather, process, repeat until exit; cursor persisted on exit."""
        if self.n == 0:
            self._print("No pairs to review.")
            return
        choice = ""
        while choice != "e":
            choice = self.query_choice()
            self.process_choice(choice)
            self._print("")
        if self.packet_path:
            self.session.save_packet(self.packet_path)


def review_packet_main(packet_path: str, **kwargs) -> CLReviewer:
    """``python -m rlr_spark.cli <packet.json>`` — the reference's
    ``main()`` shape (rlr.py:787-795): load packet, start reviewing."""
    from rlr_spark.session import get_spark
    from rlr_spark.sources.packet import ReviewPacket

    spark = kwargs.pop("spark", None) or get_spark(app_name="rlr_cli")
    packet = ReviewPacket.load(packet_path)
    session = ReviewSession(spark, packet)
    reviewer = CLReviewer(session, packet_path=packet_path, **kwargs)
    reviewer.review()
    return reviewer


if __name__ == "__main__":  # pragma: no cover
    import sys

    if len(sys.argv) > 1:
        review_packet_main(sys.argv[1])
    else:
        print("usage: python -m rlr_spark.cli <review_packet.json>")
        sys.exit(2)
