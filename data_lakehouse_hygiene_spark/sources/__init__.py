"""Sources S1-S8 (SURVEY.md §2.1), Spark-first.

The reference lands one timestamped object per ingest run into MinIO and
re-finds "the latest" by listing + argmax LastModified
(``/root/reference/elt/clean_sheets.py:42-51``). Our engine replaces the
filename-timestamp convention with an append log partitioned by
``ingest_ts`` — latest-run reads become *partition pruning* (only the max
partition's files are listed/scanned), which is the 100 TB-safe version of
"read the newest object".

HTTP/JDBC ingestion (S1-S3) is driver-side by nature (one small payload per
run); at scale the pattern is land-files-then-``spark.read`` which these
helpers also cover.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_parquet(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    header: bool = True,
    drop_malformed: bool = True,
) -> DataFrame:
    """S2/S6: CSV with declared schema.

    ``mode=DROPMALFORMED`` reproduces the reference's ``on_bad_lines="skip"``
    (``ingestion/sheets/sheets_to_raw.py:49``); Spark strips the UTF-8 BOM
    natively (the reference hand-strips it, ``elt/clean_sheets.py:56``).
    """
    return (
        spark.read.schema(schema)
        .option("header", header)
        .option("mode", "DROPMALFORMED" if drop_malformed else "PERMISSIVE")
        .csv(path)
    )


DEFAULT_HTTP_TIMEOUT = 30  # seconds — mirrors the reference's fetch timeout
USER_AGENT = "data-lakehouse-hygiene-spark/1.0"


def fetch_json(
    url: str,
    *,
    transport=None,
    timeout: int = DEFAULT_HTTP_TIMEOUT,
    status_field: str | None = None,
    ok_value: Any = "ok",
) -> Any:
    """S1 driver-side HTTP JSON fetch with the reference's guardrails
    (``ingestion/api_bmkg/bmkg_to_raw.py:43-46``): explicit timeout, a UA
    header, raise-on-non-2xx, and optional payload status-field validation
    (``elt/clean_aqicn.py:56-57`` rejects payloads whose embedded status
    isn't "ok" even when HTTP said 200).

    ``transport(url, timeout) -> (status_code, body_bytes)`` is injectable
    for tests and alternative HTTP stacks; the default uses stdlib urllib.
    Feed the returned payload to ``dataframe_from_payload``.
    """
    if transport is None:

        def transport(u: str, timeout: int):
            import urllib.error
            import urllib.request

            req = urllib.request.Request(u, headers={"User-Agent": USER_AGENT})
            try:
                with urllib.request.urlopen(req, timeout=timeout) as resp:
                    return getattr(resp, "status", 200), resp.read()
            except urllib.error.HTTPError as e:
                # normalize to (status, body) so the non-2xx contract below
                # raises the same RuntimeError for every transport
                return e.code, e.read()

    status, body = transport(url, timeout)
    if not 200 <= status < 300:
        raise RuntimeError(f"HTTP {status} from {url}")
    payload = json.loads(body)
    if status_field is not None and payload.get(status_field) != ok_value:
        raise ValueError(
            f"payload {status_field}={payload.get(status_field)!r},"
            f" expected {ok_value!r}"
        )
    return payload


def sniff_csv_delimiter(sample: str) -> str:
    """S2 dialect sniff with the reference's ≤1-column rejection
    (``ingestion/sheets/sheets_to_raw.py:40-68``): detect the delimiter
    from a text sample and refuse parses that would produce a single
    column (the signature of a wrong delimiter or a non-CSV payload)."""
    import csv as _csv

    try:
        delim = _csv.Sniffer().sniff(sample, delimiters=",;\t|").delimiter
    except _csv.Error:
        delim = ","
    first = sample.splitlines()[0] if sample.strip() else ""
    if len(first.split(delim)) <= 1:
        raise ValueError(
            f"CSV sample parses to <=1 column with delimiter {delim!r};"
            " wrong dialect or not CSV"
        )
    return delim


def read_csv_sniffed(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    header: bool = True,
    drop_malformed: bool = True,
    sample_bytes: int = 65536,
) -> DataFrame:
    """S2/S6 with dialect sniffing: read a head sample, sniff the
    delimiter (rejecting ≤1-column parses), then hand the validated
    delimiter to the distributed CSV reader.

    The sample comes through ``spark.read.text(...).limit(...)`` rather
    than a local ``open(path)`` so every path shape the distributed CSV
    reader accepts — a directory, a glob, s3a://, hdfs:// — also works
    for the sniff step (a local-only open fails those with an unrelated
    OSError). The limit is satisfied from the head of the first file
    split, so only a head sample's worth of data ever reaches the driver.
    """
    head = spark.read.text(path).limit(200).collect()
    sample = "\n".join(r[0] for r in head).lstrip("\ufeff")[:sample_bytes]
    delim = sniff_csv_delimiter(sample)
    return (
        spark.read.schema(schema)
        .option("header", header)
        .option("sep", delim)
        .option("mode", "DROPMALFORMED" if drop_malformed else "PERMISSIVE")
        .csv(path)
    )


def dataframe_from_payload(
    spark: SparkSession, payload: dict[str, Any] | list[dict[str, Any]], schema: StructType
) -> DataFrame:
    """S1: REST-API JSON payload (driver-side fetch) → typed DataFrame.

    Mirrors ``ingestion/api_bmkg/bmkg_to_raw.py:43-57`` minus the HTTP call;
    the payload is parsed against the declared schema via the JSON reader so
    nested arrays/structs coerce identically to file-landed data.
    """
    rows = payload if isinstance(payload, list) else [payload]
    rdd = spark.sparkContext.parallelize([json.dumps(r) for r in rows], 1)
    return spark.read.schema(schema).json(rdd)


def read_jdbc(
    spark: SparkSession, url: str, table: str, *, properties: dict[str, str] | None = None
) -> DataFrame:
    """S3: JDBC dim-table source (``ingestion/sql/sql_to_raw.py:18,36-37``).
    Dims are single-partition reads; facts would add partitionColumn/bounds
    for parallel extraction."""
    return spark.read.format("jdbc").option("url", url).option("dbtable", table).options(
        **(properties or {})
    ).load()


def fail_soft(spark: SparkSession, schema: StructType, loader) -> DataFrame:
    """S8: the reference returns an *empty* frame when a zone is missing
    (``elt/prescriptive/prescriptive_logic.py:48-50``) so downstream logic
    degrades instead of crashing. Same contract, typed."""
    try:
        return loader()
    except Exception:
        return spark.createDataFrame([], schema)


def latest_partition_scan(
    spark: SparkSession,
    path: str,
    ingest_col: str = "ingest_ts",
    fmt: str = "parquet",
) -> DataFrame:
    """S5 at 100 TB: the SURVEY §4.2-item-4 stretch — "inject
    ``ingest_ts = max`` predicates" — done the Spark-first way.

    A Catalyst ``OptimizerRule`` would need a JVM extension jar; the
    equivalent without one is to resolve the max partition VALUE from the
    file index (one driver-side ``listStatus`` of the Hive-style partition
    directories — pure metadata, no job, no data tasks) and inject it as a
    literal equality predicate. Catalyst's static partition pruning then
    plans a scan of ONLY the newest partition's files — unlike
    ``latest_ingest``, whose runtime max still runs tasks over every
    partition's (pruned) column before the join filter kicks in.

    Partition values are URL-decoded before comparison (Hive encodes ':'
    as ``%3A``); ``append_snapshot``'s fixed-width ISO-8601 contract makes
    the lexicographic max chronological.
    """
    from urllib.parse import unquote

    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    prefix = ingest_col + "="
    vals = [
        unquote(st.getPath().getName()[len(prefix):])
        for st in fs.listStatus(p)
        if st.isDirectory() and st.getPath().getName().startswith(prefix)
    ]
    if not vals:
        raise FileNotFoundError(f"no {prefix}* partitions under {path}")
    df = spark.read.format(fmt).load(path)
    return df.where(F.col(ingest_col) == F.lit(max(vals)))


def latest_ingest(df: DataFrame, ingest_col: str = "ingest_ts") -> DataFrame:
    """S5 over an append log: max-partition pruning.

    When ``ingest_col`` is the partition column of the log, Catalyst folds
    the broadcast-joined max into partition pruning under AQE (only the
    newest partition's files are scanned). The max is over the partition
    STRING — correct because ``append_snapshot`` enforces fixed-width
    ISO-8601 stamps (lexicographic == chronological); casting to timestamp
    here would defeat the partition pruning this exists for.
    """
    mx = df.agg(F.max(F.col(ingest_col)).alias("__mx"))
    return (
        df.join(F.broadcast(mx), on=df[ingest_col] == mx["__mx"], how="inner")
        .drop("__mx")
    )
