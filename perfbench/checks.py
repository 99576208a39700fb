"""Correctness checks, run after the timed window closes.

* Crawl: the fetched set (round, url, type, hop), the seen set, the
  payload revisits and the per-round scheduled / fetched counters must
  equal ``zeno_spark.oracle.crawl_oracle`` on the same generated corpus
  and seed list.
* dedup_batch: each query's written output must have the row count,
  columns and order-insensitive value hash of its ``oracle_sql()`` entry
  run in DuckDB over the same parquet files, hashed with
  ``tools/check_oracle.py``'s normalisation.

Oracle answers depend only on the inputs, so they are cached next to
them.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pyarrow.parquet as pq


def crawl_oracle_answer(corpus_dir: str, seed: int, shape: dict,
                        cfg_kwargs: dict) -> dict:
    path = os.path.join(corpus_dir, "oracle.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    from zeno_spark.config import CrawlConfig
    from zeno_spark.oracle import crawl_oracle

    from perfbench.inputs import crawl_metadata, crawl_seed_urls

    pages_meta, links, fixture_seeds = crawl_metadata(seed, shape)
    seeds = crawl_seed_urls(seed, pages_meta, fixture_seeds)
    cfg = CrawlConfig(**cfg_kwargs)
    res = crawl_oracle(pages_meta, links, seeds, cfg,
                       max_rounds=cfg_kwargs["max_rounds"])
    per_round = Counter(f[0] for f in res.fetched)
    answer = {
        "fetched": sorted(list(f) for f in res.fetched),
        "seen": sorted(res.seen),
        "revisits": sorted(list(r) for r in res.revisits),
        "scheduled": [sum(len(v) for v in s.values()) for s in res.schedule],
        "fetched_per_round": [per_round[r] for r in range(len(res.schedule))],
    }
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(answer, fh)
    os.replace(tmp, path)
    return answer


def check_crawl(state: dict, oracle: dict) -> list[str]:
    """Mismatch descriptions; empty means the crawl is correct."""
    errs = []
    for key in ("fetched", "seen", "revisits"):
        got = {tuple(x) if isinstance(x, list) else x for x in state[key]}
        want = {tuple(x) if isinstance(x, list) else x for x in oracle[key]}
        if got != want:
            errs.append(f"{key}: {len(got ^ want)} differing of "
                        f"{len(got)} vs oracle {len(want)}")
    rounds = len(state["rounds"])
    for key, want in (("scheduled", oracle["scheduled"]),
                      ("fetched_ok", oracle["fetched_per_round"])):
        got = [r[key] for r in state["rounds"]]
        if got != want[:rounds]:
            errs.append(f"per-round {key}: {got} vs oracle {want[:rounds]}")
    return errs


def _duck_hashes(table_dir: str, names: list[str]) -> dict:
    path = os.path.join(table_dir, "oracle.json")
    if os.path.exists(path):
        with open(path) as fh:
            cached = json.load(fh)
        if all(n in cached for n in names):
            return cached
    import duckdb

    import __spark_entry__ as entrymod
    from tools.check_oracle import frame_hash

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{table_dir}/duckdb_tmp'")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{table_dir}/{t}.parquet'")
    sql = entrymod.oracle_sql()
    out = {}
    for name in names:
        df = con.execute(sql[name]).df()
        out[name] = {"rows": len(df), "cols": sorted(df.columns),
                     "hash": frame_hash(df)}
    con.close()
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, path)
    return out


def check_queries(table_dir: str, outputs: dict[str, str]) -> list[str]:
    """``outputs``: query name -> parquet directory the timed run wrote."""
    from tools.check_oracle import frame_hash

    want = _duck_hashes(table_dir, sorted(outputs))
    errs = []
    for name, out_dir in sorted(outputs.items()):
        df = pq.read_table(out_dir).to_pandas()
        got = {"rows": len(df), "cols": sorted(df.columns),
               "hash": frame_hash(df) if sorted(df.columns)
               == want[name]["cols"] else "-"}
        if got != want[name]:
            errs.append(f"{name}: spark {got} vs duckdb {want[name]}")
    return errs
