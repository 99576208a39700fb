"""Inputs made from the run's seed, cached under the work directory by
(seed, shape).

* Crawl corpora come from ``zeno_spark.fixtures``: the page metadata and
  link graph from ``build_metadata``, the image payloads from the same
  primitives ``build_corpus`` applies (see ``prepare_crawl_corpus``).
* The dedup tables are drawn here, from the fixed DEDUP_SEED rather than
  the run's seed, with the column set and distributions of the
  repository's generated ``documents`` / ``embeddings`` test tables:
  documents of 8-96 words over a 30-word vocabulary, 5% of them an
  earlier document plus a ``dup`` token; 64-d unit float32 vectors with
  a label in 0-9.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd

DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15),
             ("de", 0.14))
EMB_DIM = 64
# the repository's generated documents/embeddings test tables use seed 42
DEDUP_SEED = 42


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _mark_done(path: str, info: dict) -> None:
    with open(os.path.join(path, "_DONE"), "w") as fh:
        json.dump(info, fh)


# ---- crawl ------------------------------------------------------------

def crawl_dir(work: str, seed: int, shape: dict) -> str:
    lo, hi = shape["img_dims"]
    return os.path.join(
        work, "inputs",
        f"crawl-s{seed}-p{shape['n_pages']}-h{shape['n_hosts']}-{lo}x{hi}")


def crawl_metadata(seed: int, shape: dict):
    from zeno_spark.fixtures import build_metadata

    return build_metadata(shape["n_pages"], shape["n_hosts"], seed,
                          tuple(shape["img_dims"]))


def crawl_seed_urls(seed: int, pages_meta: pd.DataFrame,
                    fixture_seeds: pd.DataFrame) -> list[str]:
    """The fixture's per-host seeds (with its duplicate and its invalid
    line), then half of the corpus' pages and images, drawn without
    replacement: a seed list wide enough that the first round already
    fetches a large, payload-bearing batch.  A fixed count rather than a
    per-page coin flip keeps the batch size from varying with the seed
    beyond what the corpus itself varies."""
    rng = np.random.default_rng(seed + 1)
    urls = pages_meta["url"]
    picked = np.sort(rng.choice(len(urls), len(urls) // 2, replace=False))
    return list(fixture_seeds["url"]) + urls.iloc[picked].tolist()


def prepare_crawl_corpus(work: str, seed: int, shape: dict,
                         n_files: int) -> tuple[str, float]:
    """Write pages / links / seeds parquet unless cached; returns (the
    corpus directory, generation seconds, 0 on a cache hit).

    Pages are ``build_metadata`` plus, row for row, the payload and phash
    ``fixtures.attach_payloads`` computes inside Spark, from the same
    fixture primitives.  Generating here, before the worker starts, keeps
    the measured process identical on a cache hit and a cache miss: a
    generation job inside it would warm its JVM and Python workers.
    ``n_files`` parts per table give the scans one split per core, as
    the Spark-written corpus has."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from zeno_spark import schemas
    from zeno_spark.functions.images import (
        encode_image,
        generate_pixels,
        phash64,
    )
    from zeno_spark.functions.urls import fnv1a64

    d = crawl_dir(work, seed, shape)
    if _done(d):
        return d, 0.0
    t0 = time.time()
    pages_meta, links, fixture_seeds = crawl_metadata(seed, shape)
    payload, phash = [], []
    for image_id, w, h, fmt in zip(pages_meta["image_id"], pages_meta["w"],
                                   pages_meta["h"], pages_meta["fmt"]):
        if image_id is None or fmt is None:
            payload.append(None)
            phash.append(None)
            continue
        px = generate_pixels(fnv1a64(image_id) & 0xFFFFFFFF, int(w), int(h))
        payload.append(encode_image(px, fmt))
        phash.append(phash64(px))
    pages = pages_meta.assign(
        bytes=pd.Series(payload, index=pages_meta.index, dtype=object),
        phash=pd.Series(phash, index=pages_meta.index, dtype=object))
    urls = crawl_seed_urls(seed, pages_meta, fixture_seeds)
    seeds = pd.DataFrame({"url": urls,
                          "line": np.arange(len(urls), dtype=np.int64)})
    os.makedirs(d, exist_ok=True)
    for name, df, schema in (("pages", pages, schemas.PAGES),
                             ("links", links, schemas.LINKS)):
        table = pa.Table.from_pandas(
            df[[f.name for f in schema.fields]],
            schema=to_arrow_schema(schema), preserve_index=False)
        os.makedirs(f"{d}/{name}.parquet", exist_ok=True)
        step = -(-table.num_rows // n_files)
        for i in range(n_files):
            pq.write_table(table.slice(i * step, step),
                           f"{d}/{name}.parquet/part-{i:05d}.parquet")
    seeds.to_parquet(f"{d}/seeds.parquet", index=False)
    gen_s = time.time() - t0
    _mark_done(d, {"gen_s": gen_s})
    return d, gen_s


# ---- dedup_batch --------------------------------------------------------

def prepare_dedup_tables(work: str, shape: dict) -> tuple[str, float]:
    """(directory, generation seconds; 0 on a cache hit).  The tables are
    drawn from the fixed DEDUP_SEED, not the run's seed: every run reads
    the same input, so the DuckDB oracle is computed once per checkout."""
    seed = DEDUP_SEED
    d = os.path.join(work, "inputs",
                     f"dedup-s{seed}-d{shape['n_docs']}-e{shape['n_embs']}")
    if _done(d):
        return d, 0.0
    t0 = time.time()
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = shape["n_docs"]
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(DOC_VOCAB, size=int(rng.integers(8, 97)))
            texts.append(" ".join(words))
    langs, probs = zip(*DOC_LANGS)
    docs = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(langs, size=n, p=probs),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    docs.to_parquet(os.path.join(d, "documents.parquet"), index=False)

    m = shape["n_embs"]
    vecs = rng.standard_normal((m, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embs = pd.DataFrame({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": rng.integers(0, 10, size=m).astype(np.int32),
    })
    embs.to_parquet(os.path.join(d, "embeddings.parquet"), index=False)
    gen_s = time.time() - t0
    _mark_done(d, {"gen_s": gen_s})
    return d, gen_s
