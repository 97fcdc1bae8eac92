"""Seeded benchmark inputs, cached on disk and verified before use.

Every input is a directory of parquet files built from
``rlr_spark.datagen.generate_web_pages(n_pages, seed)``. A directory is
keyed by (kind, n_pages, seed, shape, generator source hash) and holds a
``manifest.json`` written last with the SHA-256 of its files. Before a
cached input is used its files are hashed again; a missing manifest or
a mismatch (a partial write, a stale or edited file) rebuilds it, so a
corpus that is not exactly the seeded one is never timed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np


def files_digest(directory: str) -> str:
    """SHA-256 over the names and bytes of the directory's parquet files."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        if not name.endswith(".parquet"):
            continue
        h.update(name.encode())
        with open(os.path.join(directory, name), "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


def _generator_hash(root: str) -> str:
    with open(os.path.join(root, "rlr_spark", "datagen.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def cached(cache_dir: str, root: str, key: dict, build) -> tuple[str, str]:
    """Return (directory, digest) of the input named by ``key``, calling
    ``build(tmp_dir)`` to (re)create it when absent or not verified."""
    key = dict(key, generator=_generator_hash(root))
    tag = hashlib.sha256(json.dumps(key, sort_keys=True).encode()).hexdigest()[:12]
    path = os.path.join(cache_dir, f"{key['kind']}-n{key['n_pages']}-s{key['seed']}-{tag}")
    manifest = os.path.join(path, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            want = json.load(f).get("sha256")
        if want == files_digest(path):
            return path, want
    shutil.rmtree(path, ignore_errors=True)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    digest = files_digest(tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump({"key": key, "sha256": digest}, f, indent=1)
    os.replace(tmp, path)
    return path, digest


def _pages_table(pages):
    import pyarrow as pa

    # the layout write_web_pages uses (Spark rejects nanosecond stamps)
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    return pa.Table.from_pandas(pages, schema=schema, preserve_index=False)


def web_corpus(cache_dir: str, root: str, n_pages: int, seed: int) -> tuple[str, str]:
    """web_pages.parquet + truth.parquet, as the pipeline reads them."""
    from rlr_spark.datagen import write_web_pages

    key = {"kind": "web", "n_pages": n_pages, "seed": seed}
    return cached(cache_dir, root, key, lambda d: write_web_pages(d, n_pages, seed))


def stream_batches(
    cache_dir: str, root: str, n_pages: int, n_batches: int, seed: int
) -> tuple[str, str]:
    """The corpus dealt into ``n_batches`` equal files b000.parquet...
    by a seeded permutation, so duplicates straddle batches."""
    import pyarrow.parquet as pq

    from rlr_spark.datagen import generate_web_pages

    def build(d: str) -> None:
        pages, _ = generate_web_pages(n_pages, seed)
        order = np.random.RandomState(seed).permutation(n_pages)
        per = n_pages // n_batches
        for b in range(n_batches):
            part = pages.iloc[order[b * per : (b + 1) * per]]
            pq.write_table(_pages_table(part), os.path.join(d, f"b{b:03d}.parquet"))

    key = {"kind": "stream", "n_pages": n_pages, "seed": seed, "n_batches": n_batches}
    return cached(cache_dir, root, key, build)


def review_tables(
    cache_dir: str, root: str, n_pages: int, n_pairs: int, seed: int
) -> tuple[str, str]:
    """L.parquet / R.parquet (the pages, keyed l_id / r_id) and
    pairs.parquet: up to half planted true pairs, the rest random
    non-identical pairs, ``n_pairs`` in all, sorted by key."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rlr_spark.datagen import generate_web_pages

    def build(d: str) -> None:
        pages, truth = generate_web_pages(n_pages, seed)
        rng = np.random.RandomState(seed)
        ent = truth["entity_id"].to_numpy()
        true_pairs = [
            (i, j)
            for i in range(n_pages)
            for j in range(i + 1, min(i + 7, n_pages))
            if ent[i] == ent[j]
        ]
        take = min(len(true_pairs), n_pairs // 2)
        chosen = {true_pairs[k] for k in rng.choice(len(true_pairs), take, replace=False)}
        while len(chosen) < n_pairs:
            i, j = (int(x) for x in rng.randint(0, n_pages, 2))
            if i != j:
                chosen.add((min(i, j), max(i, j)))
        pairs = pd.DataFrame(sorted(chosen), columns=["l_id", "r_id"]).astype("int64")
        ids = np.arange(n_pages, dtype="int64")
        for side in ("l", "r"):
            t = pa.table(
                {
                    f"{side}_id": ids,
                    f"{side}_url": pages["url"].tolist(),
                    f"{side}_text": pages["text"].tolist(),
                    f"{side}_lang": pages["lang"].tolist(),
                }
            )
            pq.write_table(t, os.path.join(d, f"{side.upper()}.parquet"))
        pq.write_table(pa.Table.from_pandas(pairs, preserve_index=False), os.path.join(d, "pairs.parquet"))

    key = {"kind": "review", "n_pages": n_pages, "seed": seed, "n_pairs": n_pairs}
    return cached(cache_dir, root, key, build)
