"""In-process interleaved A/B for the round-14 de-skewed keeper
elections (VERDICT round-13 item 1/2): the OLD unbounded-frame-window
plans vs the NEW partial-agg+join plans, on a PLANTED MASS-DUPLICATE
corpus — the adversarial input the windows serialized into one task.

Arms (both measured in ONE process by ``ab.interleave``, judged by
median — a single before/after pair is ambient noise on a shared host):

- line election: the pre-round-14 ``line_dedup`` body (MIN window
  PARTITIONED BY the raw line string) vs the shipped
  ``dedup.line_dedup`` (min-packed-key rollup keyed by md5(line),
  shuffle-hash join back).
- shingle election: the pre-round-14 ``substring_dedup_keep_first``
  body (COUNT + ROW_NUMBER windows over the raw position stream) vs
  the shipped rollup+join form.

Corpus (deterministic, synthesized — this is an adversarial-skew tool,
not an oracle row, so the planted shape IS the point): ``n_docs``
documents; every document carries the SAME hot boilerplate line /
8-token header (hot-key multiplicity = n_docs) plus unique filler.
Value equality of the two arms is checked on (doc count, total removed)
in every timed run and on the sha256 over sorted rows once after timing.

Also reports the PLANNED-WORK terms the SCALING.md entry tracks:
duplicated-position count (rows entering the election exchange) and
the hot key's multiplicity (rows the window arm serializes into one
task; the agg arm's map-side combine collapses them to one row per
map task).

Usage: python tools/ab_deskew.py [n_docs] [reps] [hot_per_doc]
(``hot_per_doc`` scales the hot key's multiplicity independently of the
corpus size — total hot occurrences = n_docs * hot_per_doc for the line
case, n_docs/5 * hot_per_doc for the token case.)
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ab import interleave, rows_sha256  # noqa: E402
from data_lakehouse_hygiene_spark.operators import dedup  # noqa: E402
from data_lakehouse_hygiene_spark.operators.cleaning import spread  # noqa: E402
from data_lakehouse_hygiene_spark.operators.text import tokens  # noqa: E402
from data_lakehouse_hygiene_spark.session import get_spark  # noqa: E402

HOT_LINE = "all rights reserved by the example corporation worldwide"
HOT_HEADER = "licensed under the apache license version two point zero"


def old_line_dedup(
    df: DataFrame, text_col: str = "text", delim: str = "\n",
    min_chars: int = 1,
) -> DataFrame:
    """Pre-round-14 line_dedup: MIN window partitioned by the raw line
    string (the skew-serializing shape, kept verbatim for the A/B)."""
    lines = spread(df).select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), delim, -1)).alias(
            "pos", "line"
        ),
    )
    elig = F.length("line") >= min_chars
    stride = dedup.LINE_STRIDE
    max_doc = (1 << 63) // stride - 1
    key = F.expr(
        f"if(assert_true(doc_id >= 0 AND doc_id <= {max_doc} "
        f"AND pos < {stride}, 'key packing envelope') is null, "
        f"cast(doc_id * {stride}L + pos as bigint), null)"
    )
    min_key = F.min(F.when(elig, key)).over(Window.partitionBy("line"))
    rows = lines.select(
        "doc_id", "pos", "line", (~elig | (key == min_key)).alias("__kept")
    )
    agg = rows.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "__kept", "line"))
        ).alias("ls")
    )
    clean = F.array_join(
        F.expr("transform(filter(ls, s -> s.__kept), s -> s.line)"), delim
    )
    removed = F.size("ls") - F.expr("size(filter(ls, s -> s.__kept))")
    return agg.select(
        "doc_id",
        clean.alias("clean_text"),
        removed.cast("bigint").alias("n_lines_removed"),
    )


def old_substring_keep_first(
    df: DataFrame, text_col: str = "text", min_tokens: int = 8
) -> DataFrame:
    """Pre-round-14 substring_dedup_keep_first: COUNT + ROW_NUMBER
    windows over the raw position stream (kept verbatim for the A/B)."""
    k = min_tokens
    toks = F.col("__toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - F.lit(k)),
        lambda i: F.struct(
            i.alias("pos"),
            F.md5(
                F.concat_ws(" ", *[toks[i + F.lit(j)] for j in range(k)])
            ).alias("gh"),
        ),
    )
    safe = F.when(F.size(toks) >= k, grams).otherwise(
        F.array().cast("array<struct<pos:int,gh:string>>")
    )
    base = df.select("doc_id", tokens(F.col(text_col)).alias("__toks"))
    pos = (
        spread(base)
        .select("doc_id", "__toks", F.explode(safe).alias("g"))
        .select(
            "doc_id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh")
        )
    )
    wg = Window.partitionBy("gh")
    redundant = (
        pos.withColumn("__c", F.count(F.lit(1)).over(wg))
        .withColumn("__rn", F.row_number().over(wg.orderBy("doc_id", "pos")))
        .where((F.col("__c") >= 2) & (F.col("__rn") >= 2))
        .select("doc_id", "pos")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(k)).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.when(
        prev_end.isNull() | (F.col("pos") >= prev_end), F.lit(1)
    ).otherwise(F.lit(0))
    spans = (
        redundant.withColumn("__brk", brk)
        .withColumn(
            "__island",
            F.sum("__brk").over(
                w_doc.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc_id", "__island")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + F.lit(k)).cast("bigint").alias("span_end"),
        )
    )
    sp = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__ss")
    )
    empty = "cast(array() as array<struct<span_start:bigint,span_end:bigint>>)"
    kept = F.expr(
        "transform(filter(sequence(0, size(__toks) - 1), "
        f"i -> size(filter(coalesce(__ss, {empty}), "
        "x -> i >= x.span_start and i < x.span_end)) = 0), "
        "i -> __toks[i])"
    )
    return (
        base.join(sp, "doc_id", "left")
        .select("doc_id", "__toks", kept.alias("__kept"))
        .select(
            "doc_id",
            F.array_join("__kept", " ").alias("clean_text"),
            (F.size("__toks") - F.size("__kept"))
            .cast("bigint")
            .alias("n_tokens_removed"),
        )
    )


def _materialize(df: DataFrame) -> DataFrame:
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(df.columns[-1]).alias("removed"),
    )


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    hot_per_doc = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    spark = get_spark(app_name="ab_deskew")
    spark.sparkContext.setLogLevel("ERROR")

    uniq = F.concat(
        F.lit("unique line "),
        F.col("doc_id").cast("string"),
        F.lit(" "),
        F.md5(F.col("doc_id").cast("string")),
    )
    hot_block = F.concat_ws(
        "\n", *([F.lit(HOT_LINE)] * hot_per_doc)
    )
    line_docs = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws("\n", hot_block, uniq, uniq).alias("text"),
        )
        .localCheckpoint()
    )
    # token case: hot_per_doc repeats of the 8-token header, each
    # separated by one unique token so the header shingles repeat but
    # the doc is not one giant identical string
    hdr = [F.lit(HOT_HEADER)] * hot_per_doc
    seps = [
        F.md5(F.concat(F.col("id").cast("string"), F.lit(str(i))))
        for i in range(hot_per_doc)
    ]
    tok_docs = (
        spark.range(n_docs // 5)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ", *[c for p in zip(hdr, seps) for c in p]
            ).alias("text"),
        )
        .localCheckpoint()
    )

    print(f"corpus: {n_docs} line-docs (hot line x{hot_per_doc * n_docs}), "
          f"{n_docs // 5} token-docs "
          f"(hot header x{hot_per_doc * (n_docs // 5)})")

    cases = {
        "line": (line_docs, old_line_dedup, dedup.line_dedup),
        "substr": (tok_docs, old_substring_keep_first,
                   dedup.substring_dedup_keep_first),
    }
    only = sys.argv[4] if len(sys.argv) > 4 else None
    if only:
        cases = {only: cases[only]}
    skip_eq = os.environ.get("AB_SKIP_EQ") == "1"
    for name, (docs, old_fn, new_fn) in cases.items():
        res = interleave(
            {
                "old": lambda: _materialize(old_fn(docs)),
                "new": lambda: _materialize(new_fn(docs)),
            },
            reps,
        )
        assert skip_eq or res["hashes_equal"], name
        print(
            f"{name}: old(window) median {res['old']['median']:.2f}s "
            f"{res['old']['sec']} | new(agg+join) median "
            f"{res['new']['median']:.2f}s {res['new']['sec']} | "
            f"ratio old/new {res['old']['median'] / res['new']['median']:.2f}x"
        )
    # full value-hash equality once per case (collect-heavy, after timing)
    if not skip_eq:
        for name, (docs, old_fn, new_fn) in cases.items():
            old, new = old_fn(docs).collect(), new_fn(docs).collect()
            assert rows_sha256(old) == rows_sha256(new), name
            print(f"{name}: value-hash equality OK")


if __name__ == "__main__":
    main()
