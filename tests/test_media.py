"""Media family: container bytes pinned, and the NULL-text rule.

The pinned digests are the sha256 of every payload that
``synthesize_media`` and ``synthesize_structured_media`` emit, and that
``transform_media`` emits over each, on a fixed doc_id set. They were
computed before the container writers were merged into one BMP and one
WAV header helper, so they hold that refactor to identical bytes."""

from __future__ import annotations

import hashlib

import pytest

import __spark_entry__ as entrymod
from data_lakehouse_hygiene_spark.operators import multimodal

from .oracle_harness import compare, duck_connection

# (doc_id, text): both modalities, every width/height/rate residue,
# texts from empty to 97 chars (odd doc_ids take one sample per char).
DOCS = [(i, "ab c" * (i * 7 % 25)) for i in range(64)] + [
    (123456, "x"),
    (123457, "hello world"),
    (10**9 + 1, "z" * 97),
]

PINNED = {
    "synthesize_media":
        "6006667a31c3935a5cb84beeb68aa489582d6d4194fd8e4b0036d6b1fa955f70",
    "synthesize_structured_media":
        "64ffe1fe45bc73aadebd0364571bf8bbbe257b772d5f81f56f225753f6dd6c5a",
    "transform_media(synthesize_media)":
        "f5dd6d6f3f09d9a3db5bed5b3729fb7049d9a7101bc8fda73ba6b74c52590c5c",
    "transform_media(synthesize_structured_media)":
        "7e4da7f5093c7d3fb53be7ca522419a3527291ee2a021d1e3918ce4688c9c946",
}


def payload_digests(spark) -> dict:
    def digest(media) -> str:
        h = hashlib.sha256()
        for r in sorted(media.collect(), key=lambda r: r.doc_id):
            h.update(f"{r.doc_id}|{r.media_type}|".encode())
            h.update(bytes(r.payload))
        return h.hexdigest()

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    out = {}
    for name, media in (
        ("synthesize_media", multimodal.synthesize_media(docs)),
        ("synthesize_structured_media",
         multimodal.synthesize_structured_media(docs)),
    ):
        out[name] = digest(media)
        out[f"transform_media({name})"] = digest(
            multimodal.transform_media(media, scale_div=2, sample_every=4)
        )
    return out


def test_media_container_bytes_pinned(spark):
    assert payload_digests(spark) == PINNED


def test_binary_features_null_payload_is_null(spark, null_sf):
    """A NULL text becomes a NULL payload, whose byte count, header and
    marker count are NULL, as in the oracle."""
    df = entrymod.queries()["binary_features"](spark, null_sf)
    con = duck_connection(null_sf)
    try:
        ok, msg = compare(df, con, entrymod.oracle_sql()["binary_features"])
    finally:
        con.close()
    assert ok, msg
    got = {r.doc_id: r for r in df.where("doc_id >= 500").collect()}
    assert {d: (r.n_bytes, r.header_hex, r.n_marker_bytes)
            for d, r in got.items()} == {500: (None,) * 3, 501: (None,) * 3}


@pytest.mark.parametrize("name", ["media_decode", "media_transform"])
def test_media_rows_refuse_null_text_audio(spark, null_sf, name):
    """The oracle asks for a NULL sample count beside a real sample rate
    for odd doc_id 501, which no decoded WAV can give: synthesis refuses
    it by name. The even NULL-text doc (500) is an image of doc_id alone
    and synthesizes."""
    with pytest.raises(Exception, match="synthesize_media: doc_id 501 "):
        entrymod.queries()[name](spark, null_sf).collect()
    docs = spark.read.parquet(f"{null_sf}/documents.parquet")
    [r] = multimodal.decode_features(
        multimodal.synthesize_media(docs.where("doc_id = 500"))
    ).collect()
    assert (r.width, r.height, r.bpp) == (1 + 500 % 16, 1 + 500 % 8, 24)
