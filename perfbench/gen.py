"""Seeded input generator for the benchmark.

Builds, without Spark, the two parquet tables every workload reads:

  documents/  doc_id, lang, source, n_chars, text   (5000 x factor rows)
  pages/      the Common-Crawl-style fetch table derived from documents

The 5000-document base corpus is drawn from a fixed generator, so the text
is the same for every seed. ``--seed`` then draws two random permutations
of the ids 0..N-1 of the scaled corpus: one places the texts on doc ids,
the other places the doc ids on URL ids, from which the pages derivation
computes url, host, site and TLD. The link graph, scores and seed list stay
functions of doc_id, so with the seed every document's host, the hosts its
links point to and the hosts of the seed list change, while row counts stay
fixed. Seed 0 is the identity for both, the headline bench's layout.
(Random rather than affine permutations: an affine map keeps the
arithmetic structure the derivation is built on, and moved the frontier's
scheduled volume by up to 30% between seeds.)

The pages derivation is a frozen copy of the engine's dialect-neutral
synth SQL, evaluated here by DuckDB: the program under test receives only
the generated parquet, and a change to the program cannot change its
inputs. Outputs are cached under the work directory by (seed, factor).
"""

from __future__ import annotations

import os
import shutil

import numpy as np

N_BASE_DOCS = 5000
N_FILES = 8  # parquet files per table: parallel splits for local[4]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.412, 0.15, 0.148, 0.148, 0.142)

# Frozen copy of the engine's pages derivation (synth._PAGES_TEMPLATE):
# 3 crawls, ~20% repeat fetches, 25% next-crawl overlap, 4% robots.txt
# records, non-200 statuses, mime/charset/language variants.
_PAGES_SQL = """
WITH u AS (
  SELECT
    doc_id,
    lang,
    doc_id % 3 AS crawl_slot,
    CASE WHEN (doc_id % {hp}) % 5 = 0 THEN 'com'
         WHEN (doc_id % {hp}) % 5 = 1 THEN 'org'
         WHEN (doc_id % {hp}) % 5 = 2 THEN 'net'
         WHEN (doc_id % {hp}) % 5 = 3 THEN 'de'
         ELSE 'jp' END AS tld,
    (doc_id % {hp}) % {sp} AS site_id,
    CASE WHEN doc_id % {hp3} < {hp} THEN 'www.'
         WHEN doc_id % {hp3} < {hp2} THEN ''
         ELSE 'cdn.' END AS sub,
    CASE WHEN doc_id % 10 < 8 THEN 'https' ELSE 'http' END AS scheme,
    '/page/' || CAST(doc_id AS VARCHAR) || '.html' AS path
  FROM documents
),
f AS (
  SELECT *, crawl_slot AS slot, 0 AS dup_seq FROM u
  UNION ALL
  SELECT *, crawl_slot AS slot, 1 AS dup_seq FROM u WHERE doc_id % 5 = 0
  UNION ALL
  SELECT *, (crawl_slot + 1) % 3 AS slot, 0 AS dup_seq
  FROM u WHERE doc_id % 4 = 0
)
SELECT
  scheme || '://' || sub || 'site' || CAST(site_id AS VARCHAR) || '.' || tld
    || path AS url,
  scheme,
  sub || 'site' || CAST(site_id AS VARCHAR) || '.' || tld AS host,
  'site' || CAST(site_id AS VARCHAR) || '.' || tld AS domain,
  tld,
  tld || ',site' || CAST(site_id AS VARCHAR) AS surt_domain,
  tld || ',site' || CAST(site_id AS VARCHAR) || ')' || path AS surt_key,
  'CC-MAIN-2024-' || CAST(10 + slot * 4 AS VARCHAR) AS crawl,
  slot AS crawl_id,
  CASE WHEN doc_id % 20 = 16 THEN 301
       WHEN doc_id % 20 = 17 THEN 404
       WHEN doc_id % 20 = 18 THEN 503
       ELSE 200 END AS status,
  CASE WHEN doc_id % 8 = 4 THEN 'text/html; charset=UTF-8'
       WHEN doc_id % 8 = 5 THEN 'Text/HTML'
       WHEN doc_id % 8 = 6 THEN '"application/pdf"'
       WHEN doc_id % 8 = 7 THEN 'application/json'
       ELSE 'text/html' END AS mime,
  CASE WHEN doc_id % 8 = 6 THEN 'application/pdf'
       WHEN doc_id % 8 = 7 THEN 'application/json'
       ELSE 'text/html' END AS mime_detected,
  CASE WHEN doc_id % 6 = 5 THEN CAST(NULL AS VARCHAR)
       WHEN doc_id % 2 = 0 THEN 'UTF-8'
       ELSE 'ISO-8859-1' END AS charset,
  CASE WHEN doc_id % 11 = 0 THEN lang || ',en' ELSE lang END AS languages,
  'sha1:' || CAST(doc_id % 180 AS VARCHAR) AS digest,
  CASE WHEN doc_id % 25 = 0
       THEN 'crawl-data/CC-MAIN-2024-' || CAST(10 + slot * 4 AS VARCHAR)
            || '/segments/robotstxt/part-' || CAST(doc_id % 10 AS VARCHAR)
            || '.warc.gz'
       ELSE 'crawl-data/CC-MAIN-2024-' || CAST(10 + slot * 4 AS VARCHAR)
            || '/segments/warc/part-' || CAST(doc_id % 10 AS VARCHAR)
            || '.warc.gz' END AS warc_filename,
  CAST(1709251200 + slot * 2419200 + doc_id * 60 + dup_seq AS BIGINT)
    AS fetch_ts,
  doc_id
FROM f
"""


def host_pool(factor: int) -> int:
    """Hosts in the universe: the headline bench's 40,000 hosts per 10^6
    documents (25 documents per host), so per-host politeness budgets bind
    the same way at every factor."""
    return 200 * factor


def permutations(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(doc id of each scaled text, URL id of each doc id); both the
    identity for seed 0."""
    if seed == 0:
        return np.arange(n), np.arange(n)
    rng = np.random.default_rng(seed)
    return rng.permutation(n), rng.permutation(n)


def base_corpus():
    """The fixed 5000-document corpus (same for every seed)."""
    import pyarrow as pa

    rng = np.random.default_rng(20240310)
    n_words = rng.integers(10, 101, N_BASE_DOCS)
    langs = rng.choice(len(LANGS), N_BASE_DOCS, p=LANG_P)
    texts = []
    for i in range(N_BASE_DOCS):
        words = [WORDS[j] for j in rng.integers(0, len(WORDS), n_words[i])]
        if rng.random() < 0.05:
            words[int(rng.integers(0, len(words)))] = "dup"
        texts.append(" ".join(words))
    return pa.table(
        {
            "base_id": pa.array(np.arange(N_BASE_DOCS), pa.int64()),
            "lang": [LANGS[k] for k in langs],
            "source": [f"src{i % 20}" for i in range(N_BASE_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            "text": texts,
        }
    )


def _write_split(table, out_dir: str) -> None:
    """Write ``table`` as N_FILES parquet files of contiguous row ranges."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    step = -(-table.num_rows // N_FILES)
    for k in range(N_FILES):
        pq.write_table(
            table.slice(k * step, step),
            os.path.join(out_dir, f"part-{k:05d}.parquet"),
        )


def generate(work_dir: str, seed: int, factor: int) -> dict:
    """Write (or reuse) the inputs for (seed, factor); returns their
    description: directory, sizes, the URL id of each doc id, host pool."""
    import duckdb
    import pyarrow as pa

    out = os.path.join(work_dir, "inputs", f"seed={seed}_factor={factor}")
    n = N_BASE_DOCS * factor
    text_doc, url_of_doc = permutations(seed, n)
    hp = host_pool(factor)
    info = {
        "dir": out,
        "seed": seed,
        "factor": factor,
        "n_docs": n,
        "url_of_doc": url_of_doc,
        "host_pool": hp,
    }
    if os.path.exists(os.path.join(out, "_DONE")):
        return info
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    # scaled text x (base text x // factor) sits at doc id text_doc[x]
    x = np.arange(n)
    docs = (
        base_corpus()
        .take(x // factor)
        .drop(["base_id"])
        .add_column(0, "doc_id", pa.array(text_doc, pa.int64()))
        .sort_by("doc_id")
    )
    ids = pa.table(  # noqa: F841 (scanned by DuckDB by name)
        {"doc_id": pa.array(x, pa.int64()), "url_id": pa.array(url_of_doc, pa.int64())}
    )
    # derive the pages on URL ids, then map doc_id back to the document
    pages_sql = _PAGES_SQL.format(
        hp=hp, sp=(hp * 3) // 10, hp2=2 * hp, hp3=3 * hp
    ).replace(
        "FROM documents",
        "FROM (SELECT i.url_id AS doc_id, d.lang FROM docs d JOIN ids i USING (doc_id))",
    )
    con = duckdb.connect()
    try:
        con.execute("SET threads = 4")
        pages = con.execute(
            f"SELECT p.* REPLACE (i.doc_id AS doc_id) FROM ({pages_sql}) p "
            "JOIN ids i ON i.url_id = p.doc_id ORDER BY doc_id, crawl_id, fetch_ts"
        ).arrow()
    finally:
        con.close()
    _write_split(docs, os.path.join(tmp, "documents"))
    _write_split(pages, os.path.join(tmp, "pages"))
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write(f"{docs.num_rows} {pages.num_rows}\n")
    os.replace(tmp, out)
    return info
