"""Dump formatted physical plans of every pipeline stage, and of a
review render, to PLANS.md.

Evidence artifact: shows pushdown, pruning, join strategies, salt keys,
and codegen spans for each stage of the ER pipeline at a small scale.

Usage: python tools/dump_plans.py [out_md=PLANS.md at the repo root]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def capture_writes(catalog, names: set[str]) -> dict[str, str]:
    """Make ``catalog`` record the final (adaptive) plan of each named
    table's write: the plan is run once through ``collect()`` before the
    write runs it again, so the joins AQE chose at runtime (and the
    exchanges it reused) show in the dump."""
    plans: dict[str, str] = {}
    write = catalog.write

    def recording_write(df, name):
        if name in names:
            df.collect()
            plans[name] = formatted(df)
        write(df, name)

    catalog.write = recording_write
    return plans


def capture_collect(spark, fn) -> str:
    """Run ``fn()`` and return the final plan of the last DataFrame it
    collected (a review render collects one query)."""
    # the session's concrete DataFrame class, which defines collect()
    DataFrame = type(spark.range(0))
    plans: list[str] = []
    collect = DataFrame.collect

    def recording_collect(df):
        rows = collect(df)
        plans.append(formatted(df))
        return rows

    DataFrame.collect = recording_collect
    try:
        fn()
    finally:
        DataFrame.collect = collect
    return plans[-1]


def review_render_plan(spark, tmp: str) -> str:
    """The query of a ``CLReviewer`` render at cursor 64 of the firm
    fixture's 144 L x R pairs, after one parquet-autosaved label (so the
    pair table is the saved table, as in a warm review loop)."""
    from rlr_spark.cli import CLReviewer
    from rlr_spark.datagen import VAR_SCHEMA_FIRM, generate_firm_fixtures
    from rlr_spark.sources.packet import ReviewPacket, ReviewSession

    data_l, data_r, _ = generate_firm_fixtures()
    pairs = data_l[["ein"]].merge(data_r[["ui_num"]], how="cross")
    paths = {n: os.path.join(tmp, "review", f"{n}.parquet") for n in ("L", "R", "pairs")}
    for n, pdf in zip(paths, (data_l, data_r, pairs)):
        spark.createDataFrame(pdf).write.parquet(paths[n])
    packet = ReviewPacket(
        file_L=paths["L"],
        file_L_ids=["ein"],
        file_R=paths["R"],
        file_R_ids=["ui_num"],
        file_comps=paths["pairs"],
        var_group_schema=VAR_SCHEMA_FIRM,
        label_choices=["Match", "Not a Match"],
    )
    reviewer = CLReviewer(
        ReviewSession(spark, packet),
        comp_pairs_path=os.path.join(tmp, "review", "reviewed.parquet"),
        print_fn=lambda _text: None,
    )
    reviewer.process_choice("1")
    reviewer.session.cursor = 64
    return capture_collect(spark, reviewer.render_current)


def main() -> None:
    out_md = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "PLANS.md")

    import tempfile

    from pyspark.sql import functions as F

    from rlr_spark.catalog import Catalog
    from rlr_spark.datagen import write_web_pages
    from rlr_spark.functions.dedup import minhash_dup_pairs
    from rlr_spark.operators.blocking import candidate_pairs, lsh_band_keys
    from rlr_spark.operators.compare import text_pair_similarity
    from rlr_spark.operators.extract import extract_text
    from rlr_spark.pipeline import Pipeline, PipelineConfig
    from rlr_spark.session import get_spark
    from rlr_spark.streaming.ingest import incremental_pairs_batch

    spark = get_spark(app_name="dump_plans", master="local[4]", shuffle_partitions=4)
    tmp = tempfile.mkdtemp(prefix="rlr_plans_")
    pages_path, _ = write_web_pages(os.path.join(tmp, "data"), n_pages=300, seed=42)
    pages = spark.read.parquet(pages_path)
    pipe = Pipeline(spark, Catalog(spark, os.path.join(tmp, "wh")), PipelineConfig(salt_k=4))
    writes = capture_writes(pipe.catalog, {"extract", "score", "cluster"})
    pipe.run(pages)

    extracted = pipe.catalog.read("extract")
    pairs = pipe.catalog.read("pairs")
    # the streaming probe's shape: one micro-batch's band keys against
    # the keys accumulated before it
    stream_keys = lsh_band_keys(
        extracted, "url", "text", shingle_k=1, bands=32, rows_per_band=2
    )
    is_new = F.pmod(F.xxhash64("url"), F.lit(10)) == 0

    sections = {
        "extract (html -> text, Arrow UDF; narrow, no shuffle)": formatted(
            extract_text(pages.drop("text"))
        ),
        "extract write (the pipeline's extract stage: rebalance + uid check)": writes[
            "extract"
        ],
        "score write (the pipeline's score stage: pairs x records + FS label)": writes[
            "score"
        ],
        "cluster write (the pipeline's cluster stage: pages x CC assignment)": writes[
            "cluster"
        ],
        "blocking + salted pair generation": formatted(
            candidate_pairs(extracted, id_col="uid", url_col="url")[0]
        ),
        "minhash near-dup pairs (salted self-join, emit-once witnesses)": formatted(
            # without the verify barrier: it checkpoints the candidates,
            # which would hide the pair join behind a scan
            minhash_dup_pairs(
                extracted.select(F.col("uid").alias("doc_id"), "text"),
                verify_barrier=False,
            )
        ),
        "streaming incremental pairs (salted L x R, new vs accumulated)": formatted(
            incremental_pairs_batch(
                stream_keys.where(is_new), stream_keys.where(~is_new)
            )[0]
        ),
        "similarity scoring (pairs x records, hashed token sets)": formatted(
            text_pair_similarity(pairs, extracted, id_col="uid", key_col="url")
        ),
        "pruned scan example (filter pushdown)": formatted(
            extracted.where(F.col("lang") == "en").select("url")
        ),
        "review render (CLReviewer at cursor 64: pair rows + L and R records)": (
            review_render_plan(spark, tmp)
        ),
    }

    with open(out_md, "w") as f:
        f.write(
            "# PLANS — physical plans of the pipeline stages\n\n"
            "Generated by `python tools/dump_plans.py` on a 300-page fixture.\n"
            "What to look for: `PushedFilters`/`ReadSchema` on scans (pushdown,\n"
            "pruning), `BroadcastHashJoin`/`_salt` join keys (strategy, skew),\n"
            "and codegen ids (JVM whole-stage spans).\n\n"
        )
        for title, plan in sections.items():
            f.write(f"## {title}\n\n```\n{plan}\n```\n\n")
    print(f"wrote {out_md}")


if __name__ == "__main__":
    main()
