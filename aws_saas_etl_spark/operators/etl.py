"""Reference-parity ETL operators (SURVEY §2a S1-S3, P1-P10, F1, U1).

The reference's two pipelines:

- demo path (reference app.py:141-189): read CSV → require ``comments``
  column → add ``comment_length = len(str(comments))`` → write CSV
- worker path (reference etl_core.py:17-82): read CSV → dropna(any) →
  pick text column (``review`` preferred over ``comments``,
  etl_core.py:53-58) → per-row sentiment → write CSV

Re-expressed as lazy DataFrame transforms: the whole pipeline is one
Catalyst plan — scan with column pruning, a handful of projections, no
Python in the loop (sentiment is a built-in expression; the Pandas-UDF
variant exists for API parity). At 100 TB these are embarrassingly
parallel map-only stages: zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_saas_etl_spark.catalog import ensure_parallelism, load_tables
from aws_saas_etl_spark.functions.sentiment import (
    sentiment_expr,
    sentiment_pandas_udf,
)
from aws_saas_etl_spark.sources.io import read_csv, write_csv


def require_column(df: DataFrame, column: str) -> DataFrame:
    """Schema validation (reference app.py:167-168): fail fast before
    execution if a required column is missing."""
    if column not in df.columns:
        raise ValueError(f"missing required column: {column!r}")
    return df


def pick_text_column(df: DataFrame, preferred: str = "review", fallback: str = "comments") -> str:
    """Dynamic target-column selection (reference etl_core.py:53-58)."""
    if preferred in df.columns:
        return preferred
    if fallback in df.columns:
        return fallback
    raise ValueError(f"neither {preferred!r} nor {fallback!r} present")


def drop_null_rows(df: DataFrame) -> DataFrame:
    """dropna(how='any') parity (reference etl_core.py:33)."""
    return df.na.drop("any")


def with_comment_length(df: DataFrame, column: str, out: str = "comment_length") -> DataFrame:
    """``comment_length = len(str(col))`` (reference app.py:171) — built-in
    cast + length, no UDF."""
    return df.withColumn(out, F.length(F.col(column).cast("string")))


def with_sentiment(df: DataFrame, column: str, out: str = "sentiment_result", use_udf: bool = False) -> DataFrame:
    """Sentiment enrichment (reference etl_core.py:60). ``use_udf=True``
    exercises the Arrow-vectorized Pandas UDF path; default is the pure
    built-in expression (faster, whole-stage codegen)."""
    expr = sentiment_pandas_udf(F.col(column)) if use_udf else sentiment_expr(column)
    return df.withColumn(out, expr)


def demo_etl_pipeline(df: DataFrame) -> DataFrame:
    """The reference demo job (app.py:165-174) as one lazy plan."""
    require_column(df, "comments")
    return with_comment_length(df, "comments")


def worker_etl_pipeline(df: DataFrame, use_udf: bool = False) -> DataFrame:
    """The reference AI-worker job (etl_core.py:17-82) as one lazy plan."""
    col = pick_text_column(df)
    return with_sentiment(drop_null_rows(df), col, use_udf=use_udf)


# --------------------------------------------------------------------------
# Registry-facing queries (documents table stands in for the uploaded CSVs;
# same shapes: free-text column + passthrough columns)
# --------------------------------------------------------------------------

def doc_comment_length(spark, sf_dir: str) -> DataFrame:
    """Demo-path parity on the documents fixture: dropna → cast → length."""
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents)
    return (
        drop_null_rows(docs)
        .transform(lambda d: with_comment_length(d, "text"))
        .select("doc_id", "lang", "source", "n_chars", "comment_length")
    )


def doc_sentiment(spark, sf_dir: str) -> DataFrame:
    """Worker-path parity: sentiment via the built-in expression, counted
    per (lang, label) so the output is a compact contingency table."""
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents)
    return (
        with_sentiment(drop_null_rows(docs), "text")
        .groupBy("lang", "sentiment_result")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "sentiment_result")
    )


def doc_sentiment_udf(spark, sf_dir: str) -> DataFrame:
    """Same result via the Arrow Pandas-UDF path (per-doc rows so the UDF
    output itself is verified value-by-value against the oracle)."""
    docs = ensure_parallelism(load_tables(spark, sf_dir).documents)
    return with_sentiment(drop_null_rows(docs), "text", use_udf=True).select(
        "doc_id", "sentiment_result"
    )


def csv_roundtrip_stats(spark, sf_dir: str) -> DataFrame:
    """Registry query: CSV sink→scan roundtrip fidelity (reference
    etl_core.py:22-27 read + app.py:53-62 write — the reference's entire
    I/O surface is CSV in, CSV out).

    The ``customer`` table is written to CSV (header, many-part — the
    scale layout; ``coalesce(1)`` single-object parity is exercised in
    tests) and read back with the ORIGINAL explicit schema, then reduced
    to per-segment stats including a content checksum (sum of 32-bit
    md5 prefixes over a stable string rendering). The oracle computes
    the identical stats on the original Parquet — equal results prove
    the CSV writer/parser pair is lossless for every column type the
    reference handles (ints, strings, doubles).
    """
    import hashlib
    import os
    import tempfile

    cust = load_tables(spark, sf_dir).customer
    # one deterministic staging dir per (sf_dir, process), overwritten on
    # each rerun — a fresh mkdtemp per invocation would leak a full CSV
    # copy of the table on every bench/correctness repeat, while a purely
    # sf_dir-keyed path would let two CONCURRENT processes (bench alongside
    # the driver's correctness pass) race overwrite-vs-read on the same
    # files. PID-scoping gives each process its own staging area; at most
    # one copy per process lifetime remains in the temp dir.
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    tmp = f"{tempfile.gettempdir()}/csv_roundtrip_{tag}_{os.getpid()}"
    write_csv(cust, tmp, mode="overwrite", header=True)
    back = read_csv(spark, tmp, schema=cust.schema, header=True)
    # NULL-guard every field before concatenation: concat_ws silently
    # SKIPS nulls while the oracle's `||` propagates NULL (row vanishing
    # from the checksum sum) — coalesce to a sentinel on BOTH sides so a
    # null field hashes identically in the two engines.
    row_key = F.concat_ws(
        "|",
        F.coalesce(F.col("c_custkey").cast("string"), F.lit("<null>")),
        F.coalesce(F.col("c_name"), F.lit("<null>")),
        F.coalesce(F.col("c_nationkey").cast("string"), F.lit("<null>")),
        F.coalesce(F.col("c_acctbal").cast("decimal(12,2)").cast("string"), F.lit("<null>")),
    )
    checksum = F.conv(F.substring(F.md5(row_key), 1, 8), 16, 10).cast("bigint")
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("c_custkey").alias("n_keys"),
            F.sum(F.col("c_acctbal").cast("decimal(22,6)"))
            .cast("decimal(22,2)")
            .cast("double")
            .alias("total_acctbal"),
            F.sum(checksum).alias("content_checksum"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Table profiling (ANALYZE-style column statistics)
# --------------------------------------------------------------------------

# (column, kind, count_distinct?) — the shared spec the Spark profiler and
# the DuckDB oracle twin are both generated from. kind drives the
# engine-neutral string rendering of min/max: doubles go through
# DECIMAL(22,6) (fixed-scale text in both engines; raw double→string
# formatting is engine-specific), ints/dates/strings cast directly.
# Exact distinct counts only for the bounded-cardinality columns — the
# 100 TB path for the rest is approx_count_distinct (demonstrated by
# approx_distinct_parts), which one Expand-free pass computes for every
# column at once.
PROFILE_COLS = (
    ("l_orderkey", "int", False),
    ("l_partkey", "int", False),
    ("l_suppkey", "int", False),
    ("l_linenumber", "int", True),
    ("l_quantity", "double", True),
    ("l_extendedprice", "double", False),
    ("l_discount", "double", True),
    ("l_tax", "double", True),
    ("l_returnflag", "str", True),
    ("l_linestatus", "str", True),
    ("l_shipdate", "date", False),
)


# Constructing this query's DataFrame EXECUTES the CSV write it roundtrips
# (bench reps / cold plan captures re-run it — flagged so those rows read
# correctly).
csv_roundtrip_stats.side_effecting = True


def _render(col, kind: str):
    if kind == "double":
        return col.cast("decimal(22,6)").cast("string")
    return col.cast("string")


def table_profile(spark, sf_dir: str) -> DataFrame:
    """Column-level data profile of ``lineitem`` — null counts, min/max,
    and exact distinct counts for bounded-cardinality columns — the
    ANALYZE / data-quality pass a pipeline runs before trusting a new
    drop of data.

    Scale shape: the null/min/max family comes from ONE aggregate over one
    scan (all partial-aggregate map-side). The exact COUNT(DISTINCT)s are
    deliberately NOT folded into that aggregate: Spark plans a
    multi-distinct aggregate as an Expand — rows × n_distinct_cols — which
    at 100 TB turns one pass over the table into seven. Instead each
    distinct column runs as its own two-phase aggregate (map-side partial
    dedup → shuffle of the distinct values only, a few thousand rows for
    these bounded-cardinality columns) over a single-column pruned scan,
    and the 1-row results broadcast-cross-join back onto the stats row —
    same answer, no Expand, and the per-column scans read ~1/16th of the
    table each (verified Expand-free by tests/test_plans.py). The wide
    1-row result is exploded driver-trivially into the long
    (column_name, stats) form.
    """
    li = load_tables(spark, sf_dir).lineitem
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, kind, want_distinct in PROFILE_COLS:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(_render(F.min(c), kind).alias(f"mn_{c}"))
        aggs.append(_render(F.max(c), kind).alias(f"mx_{c}"))
    row = li.agg(*aggs)
    for c, _kind, want_distinct in PROFILE_COLS:
        if want_distinct:
            nd = li.agg(F.countDistinct(c).alias(f"nd_{c}"))
            row = row.crossJoin(F.broadcast(nd))
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                (F.col("n_rows") - F.col(f"nn_{c}")).alias("n_nulls"),
                (
                    F.col(f"nd_{c}")
                    if want_distinct
                    else F.lit(None).cast("long")
                ).alias("n_distinct"),
                F.col(f"mn_{c}").alias("min_value"),
                F.col(f"mx_{c}").alias("max_value"),
            )
            for c, kind, want_distinct in PROFILE_COLS
        ]
    )
    return (
        row.select("n_rows", F.explode(entries).alias("e"))
        .select(
            F.col("e.column_name").alias("column_name"),
            "n_rows",
            F.col("e.n_nulls").alias("n_nulls"),
            F.col("e.n_distinct").alias("n_distinct"),
            F.col("e.min_value").alias("min_value"),
            F.col("e.max_value").alias("max_value"),
        )
        .orderBy("column_name")
    )


def jsonl_roundtrip_stats(spark, sf_dir: str) -> DataFrame:
    """Registry query: JSONL sink→scan roundtrip fidelity — the
    line-delimited-JSON counterpart of ``csv_roundtrip_stats`` (JSONL is
    the interchange format every LLM-data pipeline actually ships:
    one document object per line). The ``documents`` table is written
    with Spark's JSON sink (strings with newlines/quotes escape inside
    JSON string literals — the lossless property CSV needs quoting
    gymnastics for), read back with the ORIGINAL explicit schema, and
    reduced to per-source stats including a content checksum (sum of
    32-bit md5 prefixes over doc_id|lang|sha256(text)|n_chars). The
    oracle computes the identical stats on the original Parquet — equal
    results prove the JSON writer/parser pair is lossless for ids,
    free text, and counts.

    Plan note: ``n_keys`` runs as a pre-distinct aggregation joined
    back null-safely instead of ``countDistinct`` inside the main agg —
    the combined form plans an Expand (3× input rows through the first
    exchange; the approx_distinct_parts lesson).
    """
    import hashlib
    import os
    import tempfile

    docs = load_tables(spark, sf_dir).documents
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    tmp = f"{tempfile.gettempdir()}/jsonl_roundtrip_{tag}_{os.getpid()}"
    docs.write.mode("overwrite").json(tmp)
    back = spark.read.schema(docs.schema).json(tmp)
    row_key = F.concat_ws(
        "|",
        F.coalesce(F.col("doc_id").cast("string"), F.lit("<null>")),
        F.coalesce(F.col("lang"), F.lit("<null>")),
        F.coalesce(F.sha2(F.col("text"), 256), F.lit("<null>")),
        F.coalesce(F.col("n_chars").cast("string"), F.lit("<null>")),
    )
    checksum = F.conv(F.substring(F.md5(row_key), 1, 8), 16, 10).cast("bigint")
    agg = back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(checksum).alias("content_checksum"),
    )
    keys = (
        back.select("source", "doc_id")
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_keys"))
    )
    return (
        agg.join(keys, agg["source"].eqNullSafe(keys["source"]))
        .select(
            agg["source"],
            "n_rows",
            "n_keys",
            "total_chars",
            "content_checksum",
        )
        .orderBy(agg["source"])
    )


# Constructing this query's DataFrame EXECUTES the JSONL write it
# roundtrips (ADVICE r8: bench reps / plan captures re-run it).
jsonl_roundtrip_stats.side_effecting = True
