"""Reference-format dataset loaders (SURVEY §2.1 S1-S4).

Reads the exact on-disk shapes the reference consumes and converts them to
the engine's long-form claims:

  load_tsv_bucket   : headerless TSV, latin-1, per-dataset positional
                      headers (StaticDataset, dataset.py:269-334; headers
                      settings.py:27-66)
  wide_to_long      : wide claim rows (Source, <entity>, attr columns...) ->
                      (source, entity, attr, value_str) via stack/melt
  load_bucket_dir   : one TSV per bucket (flight's yyyymmdd.txt) with
                      bucket_id from the file name

The dynamic dataset's cumulative bucket i = union of buckets <= i
(dataset.py:362-379) is ``operators.bucketize.cumulative_bucket``.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BOOK_HEADER = ["Source", "ISBN", "Title", "Author list"]
FLIGHT_HEADER = [
    "Source", "Flights#", "Scheduled departure", "Actual departure",
    "Departure gate", "Scheduled arrival", "Actual arrival", "Arrival gate",
]
FLIGHT_HEADER_GT = FLIGHT_HEADER[1:]  # settings.py:55-56 (header minus Source)
STOCK_HEADER = [
    "Source", "Symbol", "Change %", "Last trading price", "Open price",
    "Change $", "Volume", "Today's high", "Today's low", "Previous close",
    "52wk High", "52wk Low", "Shares Outstanding", "P/E", "Market cap",
    "Yield", "Dividend", "EPS",
]  # settings.py:27-45
STOCK_HEADER_GT = STOCK_HEADER[1:]


def load_tsv_bucket(
    spark: SparkSession,
    path: str,
    header: list[str],
    encoding: str = "ISO-8859-1",
) -> DataFrame:
    """Headerless TSV -> wide DataFrame with the positional header applied;
    trailing empty column (from a trailing tab) dropped, mirroring the
    reference's read."""
    df = spark.read.csv(path, sep="\t", header=False, encoding=encoding)
    cols = df.columns
    if len(cols) > len(header):
        df = df.drop(*cols[len(header):])
        cols = df.columns
    return df.toDF(*header[: len(cols)])


def wide_to_long(
    wide: DataFrame,
    entity_col: str,
    source_col: str = "Source",
    bucket_id: int = 0,
) -> DataFrame:
    """Wide claim table -> long claims (null cells dropped, the reference's
    claim-matrix NaN filter, model.py:145)."""
    attrs = [c for c in wide.columns if c not in (entity_col, source_col)]
    stack_expr = "stack({n}, {args}) as (attr, value_str)".format(
        n=len(attrs),
        args=", ".join(
            "'{lit}', `{col}`".format(lit=a.replace("'", "\\'"), col=a)
            for a in attrs
        ),
    )
    return (
        wide.select(
            F.lit(bucket_id).alias("bucket_id"),
            F.col(source_col).alias("source"),
            F.col(entity_col).alias("entity"),
            F.expr(stack_expr),
        )
        .filter(F.col("value_str").isNotNull() & (F.trim("value_str") != ""))
    )


def load_bucket_dir(
    spark: SparkSession,
    directory: str,
    header: list[str],
    entity_col: str,
    encoding: str = "ISO-8859-1",
) -> DataFrame:
    """Directory of per-bucket TSVs (e.g. flight yyyymmdd.txt): bucket_id =
    chronological rank of the file name."""
    files = sorted(
        f for f in os.listdir(directory) if re.match(r"^\d+\.txt$", f)
    )
    parts = []
    for i, name in enumerate(files):
        wide = load_tsv_bucket(spark, os.path.join(directory, name), header, encoding)
        parts.append(wide_to_long(wide, entity_col, bucket_id=i))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def load_gt_dir(
    spark: SparkSession,
    directory: str,
    header: list[str],
    entity_col: str,
    encoding: str = "ISO-8859-1",
) -> DataFrame:
    """Directory of per-bucket ground-truth TSVs (stock/flight yyyymmdd.txt,
    headers = conflicting header minus Source, settings.py:46-47/55-56) ->
    long GT (bucket_id, entity, attr, gt_values array<string>)."""
    files = sorted(f for f in os.listdir(directory) if re.match(r"^\d+\.txt$", f))
    parts = []
    for i, name in enumerate(files):
        wide = load_tsv_bucket(spark, os.path.join(directory, name), header, encoding)
        parts.append(
            wide_to_long(
                wide.withColumn("Source", F.lit("gt")), entity_col, bucket_id=i
            ).select(
                "bucket_id",
                "entity",
                "attr",
                F.array(F.col("value_str")).alias("gt_values"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _dedupe_names(names: list[str]) -> list[str]:
    seen: dict[str, int] = {}
    out = []
    for i, raw in enumerate(names):
        n = raw.strip() or f"col{i}"
        k = seen.get(n, 0)
        seen[n] = k + 1
        out.append(n if k == 0 else f"{n}_{k}")
    return out


def load_weather_dir(
    spark: SparkSession, directory: str, encoding: str = "ISO-8859-1"
) -> DataFrame:
    """Per-source weather raw files (data/input_trustfuse/weather/
    conflicting_data/*.txt): line 1 = '<n_attrs>\\t<source-url>', line 2 =
    SOURCE-SPECIFIC headers, then rows. The reference ships these raw with
    no pipeline entry; this normalizes every source to the engine's long
    claims (bucket_id=0, source=url, entity=Location value, attr,
    value_str, ts from the Timestamp column when present).

    Only the two metadata lines are read driver-side (like the pickle
    loader); row data flows through spark.read.csv.
    """
    parts = []
    for name in sorted(os.listdir(directory)):
        if not name.endswith(".txt"):
            continue
        path = os.path.join(directory, name)
        with open(path, encoding=encoding) as fh:
            meta = fh.readline().rstrip("\n").split("\t")
            raw_header = fh.readline().rstrip("\n").split("\t")
        source_url = next((t for t in meta[1:] if t.strip()), name)
        header = _dedupe_names(raw_header)
        ent_col = next((h for h in header if "location" in h.lower()), None)
        ts_col = next((h for h in header if "timestamp" in h.lower()), None)
        if ent_col is None:
            continue
        wide = load_tsv_bucket(spark, path, header, encoding)
        # shed the two metadata lines (they ride along in the csv read):
        # the count line repeats meta[0] in col 0, the header line repeats
        # its own first name
        c0 = header[0]
        wide = wide.filter(
            (F.col(c0) != meta[0]) & (F.col(c0) != raw_header[0])
        )
        # melt with the row timestamp carried alongside (ts must survive the
        # melt, so it rides as a projected column, not an attr)
        ts_val = F.col(ts_col) if ts_col else F.lit(None).cast("string")
        attrs = [c for c in wide.columns if c not in (ent_col, ts_col)]
        stack_expr = "stack({n}, {args}) as (attr, value_str)".format(
            n=len(attrs),
            args=", ".join(
                "'{lit}', `{col}`".format(lit=a.replace("'", "\\'"), col=a)
                for a in attrs
            ),
        )
        long = wide.select(
            F.lit(0).alias("bucket_id"),
            F.lit(source_url).alias("source"),
            F.trim(F.col(ent_col)).alias("entity"),
            ts_val.alias("ts"),
            F.expr(stack_expr),
        ).filter(F.col("value_str").isNotNull() & (F.trim("value_str") != ""))
        parts.append(long.select("bucket_id", "source", "entity", "ts", "attr", "value_str"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out

