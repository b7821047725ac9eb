"""NULL rules of the text families, checked against the DuckDB oracles.

The sf0.01 ``documents`` table plus two NULL-text documents (one per
source) must still match every row below.

- Text dedup: a NULL text has no shingles. Before the rule, the
  short-document fallback turned each NULL text into one NULL shingle:
  the two NULL documents paired at Jaccard 1.0 / Hamming 0 and got an
  all-zero SimHash fingerprint, where the oracle gives no row. The
  per-source diagnostics (``source_overlap``, ``source_dup_stats``)
  follow the same rule: a NULL text is not a document, so it is neither
  counted nor shared across sources through the md5 of an empty head.
- Token counts: a NULL text's token count is NULL, like the oracle's
  ``len(NULL)``. The session pins ``spark.sql.legacy.sizeOfNull`` off
  (with ANSI off, Spark's legacy ``size(NULL)`` is -1), which fixes
  ``token_count``, ``quality_score``, ``lang_id``, ``code_detect``,
  ``gopher_quality``, ``chunk_documents``, ``pack_sequences`` and
  ``quality_weighted_sample``.
- ``vocab_encode``: a NULL text has no token positions, so it is no
  document. ``bpe_encode``: the operator gives a NULL text NULL tokens;
  the registry row reads them as no tokens (``''``, 0), like the
  oracle's coalesce over a document without positions.

Left out: ``substring_dedup_apply`` and ``substring_dedup_keep_first``
return (doc_id, NULL, NULL) for a NULL text where the oracle returns
(doc_id, '', NULL) — an open disagreement, not covered here."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

from .oracle_harness import compare, duck_connection

ROWS = (
    "exact_dedup",
    "incremental_dedup",
    "minhash_near_dup",
    "ngram_jaccard",
    "substring_dedup",
    "simhash_fp",
    "simhash_near_dup",
    "simhash128_fp",
    "simhash128_near_dup",
    "dedup_clusters",
    "dedup_clusters_star",
    "dedup_keep_best",
    "dedup_recall",
    "contamination_check",
    "incremental_near_dup",
    "line_dedup",
    "incremental_line_dedup",
    "boilerplate_ngrams",
    "ngram_counts",
    "doc_fingerprint",
    "source_overlap",
    "source_dup_stats",
    "token_count",
    "quality_score",
    "lang_id",
    "code_detect",
    "gopher_quality",
    "chunk_documents",
    "pack_sequences",
    "quality_weighted_sample",
    "vocab_encode",
    "bpe_encode",
)


@pytest.fixture(scope="module")
def duck(null_sf):
    con = duck_connection(null_sf)
    yield con
    con.close()


@pytest.mark.parametrize("name", ROWS)
def test_dedup_rows_match_oracle_with_null_texts(spark, duck, null_sf, name):
    df = entrymod.queries()[name](spark, null_sf)
    ok, msg = compare(df, duck, entrymod.oracle_sql()[name])
    assert ok, f"{name}: {msg}"
