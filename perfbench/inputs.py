"""Seeded input generation (the load generator).

Every generated input is a pure function of ``(workload, seed)`` and is
written once to ``<cache>/<workload>-<seed>/``; a later run with the same
pair reuses it, so generation never lands in ``setup_s`` or in a timed
region. The program under test only ever receives the generated parquet.

Pages come from the program's own public corpus functions
(``generate_vocab``, ``config_from_vocab``, ``iter_pages``) and curation
documents from its own extractor (``extract_text``, the function
``with_extracted_text`` maps over a frame). Generation runs in a small
process pool instead of a Spark job so that no second JVM is started per
run; each page is a pure function of ``(seed, doc_id)``, so the bytes are
the ones ``generate_pages_df`` would write.

The KG oracle (``ckg_spark/oracle.py``) is run once over the whole corpus
config, in the same pool as the page shards, and its result is stored next
to the pages as the expected output of the build (8 s in all for the
5,000-page corpus on a 4-vCPU host, paid once per seed).

The catalog queries read fixed tables, not generated ones:
``data/sf0.001`` holds byte-identical copies of the two sf0.001 test tables
(TPC-H-shaped, seed 42) that the repo's catalog tests read and the chosen
queries need (``lineitem``, 6,000 rows; ``embeddings``, 500 rows), so the
catalog serves the data its tests use.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

# One fixed ontology for every KG and curation input: the seed varies the
# corpus, not the vocabulary (ROADMAP headline profile: seed 7, 60 terms/type).
VOCAB_SEED = 7
TERMS_PER_TYPE = 60

_SHARD_DOCS = 2500


def _pool_size() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def _vocab():
    from ckg_spark.corpus.vocab import VocabConfig, generate_vocab

    return generate_vocab(VocabConfig(seed=VOCAB_SEED, terms_per_type=TERMS_PER_TYPE))


def pages_config(n_docs: int, seed: int, words: tuple[int, int], **kw):
    from ckg_spark.corpus.pages import config_from_vocab

    return config_from_vocab(
        _vocab(), n_docs=n_docs, seed=seed, words_min=words[0], words_max=words[1], **kw
    )


def _shards(n_docs: int) -> list[tuple[int, int]]:
    return [(lo, min(n_docs, lo + _SHARD_DOCS)) for lo in range(0, n_docs, _SHARD_DOCS)]


def _run_shards(fn, args: list[tuple]) -> list:
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(_pool_size()) as pool:
        out = pool.starmap(fn, args)
    pool.join()
    return out


# --- KG build input: pages + oracle ----------------------------------------

_PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _kg_shard(out_dir: str, n_docs: int, seed: int, words, lo: int, hi: int) -> None:
    """Write pages [lo, hi)."""
    from ckg_spark.corpus.pages import iter_pages

    cfg = pages_config(n_docs, seed, words)
    pages = list(iter_pages(cfg, iter(range(lo, hi))))
    table = pa.table(
        {
            "url": [p["url"] for p in pages],
            "warc_ts": pa.array([p["warc_ts"] * 1_000_000 for p in pages], pa.int64()).cast(
                pa.timestamp("us", tz="UTC")
            ),
            "html": [p["html"] for p in pages],
            "text": pa.nulls(len(pages), pa.string()),
            "lang": [p["lang"] for p in pages],
        },
        schema=_PAGES_SCHEMA,
    )
    pq.write_table(table, os.path.join(out_dir, f"part-{lo:08d}.parquet"))


def _kg_oracle(out_path: str, n_docs: int, seed: int, words) -> None:
    """``ckg_spark.oracle.run_oracle`` over the whole corpus, as parquet."""
    from ckg_spark.oracle import run_oracle

    expected = run_oracle(_vocab(), pages_config(n_docs, seed, words)).scores
    keys = sorted(expected)
    pq.write_table(
        pa.table(
            {
                "subj": [k[0] for k in keys],
                "pred": [k[1] for k in keys],
                "obj": [k[2] for k in keys],
                "score": [expected[k] for k in keys],
            }
        ),
        out_path,
    )


def _kg_task(kind: str, *args) -> None:
    {"pages": _kg_shard, "oracle": _kg_oracle}[kind](*args)


def make_kg_input(path: str, n_docs: int, seed: int, words: tuple[int, int]) -> None:
    pages_dir = os.path.join(path, "pages")
    os.makedirs(pages_dir)
    oracle = [("oracle", os.path.join(path, "expected_edges.parquet"), n_docs, seed, words)]
    pages = [
        ("pages", pages_dir, n_docs, seed, words, lo, hi) for lo, hi in _shards(n_docs)
    ]
    # the oracle is the longest task, so it goes first
    _run_shards(_kg_task, oracle + pages)


# --- curation input: extracted documents ------------------------------------


def _docs_shard(
    out_dir: str, n_docs: int, seed: int, words, dup_rate: float, lo: int, hi: int
) -> None:
    from ckg_spark.corpus.pages import iter_pages
    from ckg_spark.extract import extract_text

    cfg = pages_config(n_docs, seed, words, dup_url_rate=dup_rate)
    pages = list(iter_pages(cfg, iter(range(lo, hi))))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(lo, hi), pa.int64()),
                "text": [extract_text(p["html"]) for p in pages],
                "lang": [p["lang"] for p in pages],
            }
        ),
        os.path.join(out_dir, f"part-{lo:08d}.parquet"),
    )


def make_docs_input(
    path: str, n_docs: int, seed: int, words: tuple[int, int], dup_rate: float
) -> None:
    docs_dir = os.path.join(path, "docs")
    os.makedirs(docs_dir)
    _run_shards(
        _docs_shard,
        [(docs_dir, n_docs, seed, words, dup_rate, lo, hi) for lo, hi in _shards(n_docs)],
    )


# --- cache ------------------------------------------------------------------


def cached(cache_root: str, key: str, make) -> str:
    """Directory holding the input ``key``; ``make(path)`` fills it once.
    A partially written directory (no READY marker) is rebuilt."""
    path = os.path.join(cache_root, key)
    ready = os.path.join(path, "READY")
    if not os.path.exists(ready):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        make(path)
        with open(ready, "w") as f:
            f.write("ok\n")
    return path


def load_digests(path: str) -> dict:
    p = os.path.join(path, "digests.json")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def save_digests(path: str, digests: dict) -> None:
    tmp = os.path.join(path, "digests.json.tmp")
    with open(tmp, "w") as f:
        json.dump(digests, f, sort_keys=True)
    os.replace(tmp, os.path.join(path, "digests.json"))
