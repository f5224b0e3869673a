"""Source/sink format queries: CSV and JSON scan round-trips with
explicit schemas (SURVEY.md §2.3 'Scans / sources / sinks').

Each query writes a deterministic slice of testdata to a scratch
directory in the query's own format, reads it back with an explicit
schema (never inferSchema — a 100 TB inference pass is a bug), and
aggregates.  The oracle computes the same aggregate straight from the
parquet view: the round-trip must be lossless, so the results match
exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ctgov_ai_etl_spark.operators import cache
from ctgov_ai_etl_spark.queries.registry import query
from ctgov_ai_etl_spark.schemas import CUSTOMER
from ctgov_ai_etl_spark.tables import load_table


@query(
    "csv_scan_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def csv_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink → CSV scan with explicit schema and header (reference
    R17's format, generalized to directory output at scale), proven
    lossless against the parquet-direct oracle."""
    c = load_table(spark, sf_dir, "customer")
    out = os.path.join(cache.scratch_dir("csv_rt_"), "customer_csv")
    c.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema(CUSTOMER).option("header", True).csv(out)
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        (F.sum(cents).cast("double") / 100).alias("total_bal"),
    )


@query(
    "orc_scan_roundtrip",
    oracle="""
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(p_retailprice * 100) AS BIGINT)) AS DOUBLE) / 100
             AS total_price
    FROM part
    GROUP BY p_brand
    """,
)
def orc_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink → ORC scan (the third columnar format Spark speaks
    natively; same predicate-pushdown/column-pruning machinery as
    parquet), proven lossless against the parquet-direct oracle."""
    p = load_table(spark, sf_dir, "part")
    out = os.path.join(cache.scratch_dir("orc_rt_"), "part_orc")
    p.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    cents = F.round(F.col("p_retailprice") * 100).cast("long")
    return back.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        (F.sum(cents).cast("double") / 100).alias("total_price"),
    )


@query(
    "parquet_schema_evolution",
    oracle="""
    SELECT doc_id, source,
           CASE WHEN doc_id % 2 = 1 THEN lang ELSE 'N/A' END AS lang
    FROM documents
    """,
)
def parquet_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema EVOLUTION across parquet batches (new r4): batch v1
    writes (doc_id, source); batch v2 adds a ``lang`` column — the
    normal life of a long-lived 100 TB table whose producers upgrade
    in place.  ``mergeSchema=true`` reconciles the footers at read
    (schema union, by-name matching; absent columns read as null —
    file-level metadata work, no data rewrite), and the engine's
    sentinel convention coalesces the holes.  Hash-checked against a
    single-table replay of the same evolution rule."""
    d = load_table(spark, sf_dir, "documents")
    root = cache.scratch_dir("schema_evo_")
    d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "source").write.parquet(
        os.path.join(root, "batch=v1")
    )
    d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "source", "lang").write.parquet(
        os.path.join(root, "batch=v2")
    )
    back = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(root)
    return back.select(
        "doc_id", "source", F.coalesce("lang", F.lit("N/A")).alias("lang")
    )


@query(
    "xml_scan_roundtrip",
    oracle="""
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(CAST(round(s_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100
             AS total_bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def xml_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink → XML scan with explicit schema (Spark 4's built-in
    XML source — the enterprise-interchange format joining
    csv/json/orc/parquet/text/binary in the format matrix), proven
    lossless against the parquet-direct oracle: supplier written as
    row-tagged XML, read back, broadcast-joined to nation, exact-cents
    aggregate."""
    s = load_table(spark, sf_dir, "supplier")
    out = os.path.join(cache.scratch_dir("xml_rt_"), "supplier_xml")
    s.select("s_suppkey", "s_nationkey", "s_acctbal").write.mode(
        "overwrite"
    ).format("xml").option("rootTag", "suppliers").option("rowTag", "supplier").save(
        out
    )
    schema = T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).option("rowTag", "supplier").format("xml").load(
        out
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.round(F.col("s_acctbal") * 100).cast("long")
    return (
        back.join(F.broadcast(n), back.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            (F.sum(cents).cast("double") / 100).alias("total_bal"),
        )
    )


@query(
    "json_corrupt_records",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(CASE WHEN doc_id % 5 <> 0 THEN 1 END) AS BIGINT) AS n_valid,
           CAST(count(CASE WHEN doc_id % 5 = 0 THEN 1 END) AS BIGINT) AS n_corrupt,
           CAST(sum(CASE WHEN doc_id % 5 <> 0 THEN n_chars END) AS BIGINT)
             AS sum_valid_chars
    FROM documents
    GROUP BY source
    """,
)
def json_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE corrupt-record handling — the production posture for
    100 TB of third-party JSON where FAILFAST would kill a day-long
    job on one bad byte: every doc_id % 5 == 0 row is deterministically
    truncated into invalid JSON, ``from_json`` parses with a
    ``_corrupt`` passthrough column, and the aggregate proves malformed
    rows are QUARANTINED (counted, payload preserved for replay) while
    valid rows parse completely.  The oracle replays the corruption
    rule arithmetically."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.to_json(F.struct("doc_id", "n_chars"))
    corrupted = F.when(
        F.col("doc_id") % 5 == 0, F.substring(payload, 1, 5)
    ).otherwise(payload)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    parsed = d.select(
        "source",
        F.from_json(
            corrupted, schema, {"columnNameOfCorruptRecord": "_corrupt"}
        ).alias("j"),
    )
    return parsed.groupBy("source").agg(
        F.count("*").alias("n_rows"),
        F.count(F.col("j.doc_id")).alias("n_valid"),
        F.count(F.col("j._corrupt")).alias("n_corrupt"),
        F.sum(F.col("j.n_chars")).alias("sum_valid_chars"),
    )


@query(
    "maintenance_compact_files",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    """,
)
def maintenance_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance pass every 100 TB
    lake needs (streaming sinks and incremental batches leave
    thousands of KB-sized files; scan cost is then dominated by file
    open/footer overhead, not bytes): explode documents into 64 tiny
    parquet files, compact to a bounded file count with a single
    repartition (on a cluster: AQE-coalesced or size-targeted via
    maxRecordsPerFile), and prove content identity through the
    compacted copy with the parquet-direct oracle.  The file-count
    collapse itself is asserted in tests/test_scale.py."""
    d = load_table(spark, sf_dir, "documents")
    root = cache.scratch_dir("compact_")
    frag, compact = os.path.join(root, "frag"), os.path.join(root, "compact")
    d.repartition(64).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(compact)
    return (
        spark.read.parquet(compact)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "json_scan_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
    FROM events
    GROUP BY event_type
    """,
)
def json_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON lines sink → JSON scan with explicit schema (reference R5
    consumes raw JSON; this is the file-shaped version), timestamps
    carried as microseconds to survive the round-trip exactly."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("ts_us"), "event_type"
    )
    out = os.path.join(cache.scratch_dir("json_rt_"), "events_json")
    ev.write.mode("overwrite").json(out)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    back = spark.read.schema(schema).json(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"), F.max("ts_us").alias("max_ts_us")
    )


@query(
    "essie_search_nested_struct",
    oracle="""
    SELECT user_id, CAST(max(CASE WHEN event_type = 'purchase' AND value > 150.0
                                  THEN 1 ELSE 0 END) AS BOOLEAN) AS has_big_purchase
    FROM events
    GROUP BY user_id
    """,
)
def essie_search_nested_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEARCH[Location](expr) semantics on an array of structs: build
    each user's event history as array<struct> (the locations-array
    shape from the CTGov record, FIXTURES.md §B1) and evaluate ∃
    element satisfying a struct predicate with F.exists."""
    from ctgov_ai_etl_spark.functions.essie import search_nested

    ev = load_table(spark, sf_dir, "events")
    nested = ev.groupBy("user_id").agg(
        F.collect_list(F.struct("event_type", "value")).alias("history")
    )
    pred = lambda e: (e["event_type"] == "purchase") & (e["value"] > 150.0)  # noqa: E731
    return nested.select(
        "user_id", search_nested("history", pred).alias("has_big_purchase")
    )


@query(
    "binary_file_scan",
    oracle="""
    SELECT regexp_extract(filename, '[^/]+$') AS file_name,
           CAST(size AS BIGINT) AS meta_bytes,
           CAST(size AS BIGINT) AS content_bytes
    FROM read_blob('/root/testdata/sf0.01/*.parquet')
    """,
)
def binary_file_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` source — the ingestion seam for multimodal
    assets (images/audio/video as opaque bytes + typed metadata;
    operators/multimodal.py consumes this shape).  Emits the basename,
    the source's length metadata, and the ACTUAL byte count of the
    loaded content column — proving the bytes were read, not just
    listed.  Oracle replays with DuckDB read_blob (content hashes
    can't cross the engines: DuckDB's blob→varchar cast escapes
    non-UTF8 bytes).  oracle_sql() strings are static, so BOTH sides
    pin the driver gate's fixed sf0.01 path — the comparison is then
    coherent at every sweep sf (it was the one expected mismatch in
    full sf0.1 sweeps before the pin)."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load("/root/testdata/sf0.01")
    )
    return df.select(
        F.regexp_extract(F.col("path"), "[^/]+$", 0).alias("file_name"),
        F.col("length").alias("meta_bytes"),
        F.length("content").cast("long").alias("content_bytes"),
    )


@query(
    "text_scan_roundtrip",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(len(text)) AS BIGINT) AS total_chars,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM documents
    GROUP BY lang
    """,
)
def text_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text`` sink → ``text`` scan: documents serialized one-per-line
    as ``doc_id<TAB>lang<TAB>text`` (the raw-corpus interchange shape),
    read back as unstructured lines and re-parsed with split/limit —
    proven lossless against the parquet-direct oracle (id sums and
    exact character counts survive the round trip).  The fixture text
    is tab/newline-free; a production writer would escape or frame
    (JSONL) instead."""
    d = load_table(spark, sf_dir, "documents")
    out = os.path.join(cache.scratch_dir("text_rt_"), "documents_txt")
    d.select(
        F.concat_ws("\t", F.col("doc_id"), F.col("lang"), F.col("text")).alias("value")
    ).write.mode("overwrite").text(out)
    back = spark.read.text(out)
    parts = F.split(F.col("value"), "\t", 3)
    parsed = back.select(
        parts.getItem(0).cast("long").alias("doc_id"),
        parts.getItem(1).alias("lang"),
        parts.getItem(2).alias("text"),
    )
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum(F.length("text")).alias("total_chars"),
        F.sum("doc_id").alias("id_sum"),
    )


@query(
    "export_sharded_manifest",
    oracle="""
    WITH lines AS (
      SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 8 AS shard,
             CAST(doc_id AS VARCHAR) || chr(9) || lang || chr(9) || text
               AS line
      FROM documents
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(len(line)) AS BIGINT) AS total_chars,
           md5(string_agg(line, chr(10) ORDER BY line)) AS content_hash
    FROM lines
    GROUP BY shard
    """,
)
def export_sharded_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic SHARDED corpus export with a verifiable manifest —
    the delivery shape of a training-data pipeline (fixed shard count,
    reproducible membership, a checksum per shard so the consumer can
    verify transfer integrity).  Shard = md5(doc_id) bucket (stable
    under repartitioning and re-runs; the same engine-reproducible
    hash the sampling operators use), written ``partitionBy(shard)``
    as text, then READ BACK from disk and reduced to the manifest:
    (shard, n_rows, total_chars, content_hash) where content_hash is
    md5 over the newline-joined SORTED lines — order-insensitive, so
    it is a pure function of shard CONTENT, not of task scheduling.
    The oracle computes the identical manifest straight from the
    source table: a hash match proves the write → read round trip
    lost nothing and shard assignment is exactly the advertised
    function.  Per-shard state for the hash is the shard's own lines
    (collect_list within a group) — shards are sized by n_shards, the
    caller's knob, exactly like the real delivery format."""
    from ctgov_ai_etl_spark.operators.limits import hash_bucket

    d = load_table(spark, sf_dir, "documents")
    out = os.path.join(cache.scratch_dir("shard_exp_"), "corpus")
    lines = d.select(
        hash_bucket(F.col("doc_id"), 8).alias("shard"),
        F.concat_ws(
            "\t", F.col("doc_id"), F.col("lang"), F.col("text")
        ).alias("value"),
    )
    lines.write.mode("overwrite").partitionBy("shard").text(out)
    back = spark.read.text(out)  # partition discovery recovers `shard`
    return (
        back.groupBy("shard")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.length("value")).alias("total_chars"),
            F.md5(
                F.concat_ws("\n", F.array_sort(F.collect_list("value")))
            ).alias("content_hash"),
        )
        .select(
            F.col("shard").cast("long").alias("shard"),
            "n_rows",
            "total_chars",
            "content_hash",
        )
    )


@query(
    "warc_scan_records",
    oracle="""
    WITH base AS (
      SELECT doc_id, length(text) AS L,
             CAST(('0x' || substr(md5(text), 1, 2)) AS INT) AS d0,
             CAST(('0x' || substr(md5(text), 3, 2)) AS INT) AS d1,
             CAST(('0x' || substr(md5(text), 5, 2)) AS INT) AS d2,
             CAST(('0x' || substr(md5(text), 7, 2)) AS INT) AS d3
      FROM documents
    ),
    recs AS (
      SELECT doc_id, L, d1, d2, d3, CAST(i AS INT) AS j
      FROM base, unnest(range(2 + d0 % 4)) AS t(i)
    ),
    sized AS (
      SELECT doc_id, j,
             (d1 + j) % 3 > 0 AS is_resp,
             CASE WHEN (d1 + j) % 3 > 0
                  THEN list_extract([200, 301, 404, 503],
                                    ((d2 + j) % 4) + 1)
                  END AS status,
             greatest(0, least(L - j * 23, 17 + ((d3 + j) % 11)))
               + CASE WHEN (d1 + j) % 3 > 0 THEN 44 ELSE 0 END AS clen
      FROM recs
    ),
    framed AS (
      SELECT doc_id, j, is_resp, status, clen,
             -- version(10) + Type(21: both type names are 8 chars)
             -- + Record-ID(16+7+digits+1+1+2)
             -- + Target-URI(17+14+digits+1+1+2)
             -- + Content-Length(16+digits(clen)+2) + blank(2)
             -- + content + terminator(4)
             10 + 21
             + 27 + 2 * length(CAST(doc_id AS VARCHAR))
             + 35
             + 18 + length(CAST(clen AS VARCHAR))
             + 2 + clen + 4 AS total
      FROM sized
    )
    SELECT doc_id,
           CAST(j AS INT) AS rec_idx,
           CAST(coalesce(sum(total) OVER (
                  PARTITION BY doc_id ORDER BY j
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) AS INT) AS rec_offset,
           CASE WHEN is_resp THEN 'response' ELSE 'resource' END
             AS warc_type,
           'http://ex.com/' || CAST(doc_id AS VARCHAR) || '/'
             || CAST(j AS VARCHAR) AS target_uri,
           CAST(status AS INT) AS http_status,
           CAST(clen AS INT) AS content_length
    FROM framed
    """,
)
def warc_scan_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WARC/1.0 container walk, hash-checked to the byte: build
    genuine multi-record WARC payloads from md5-derived parameters
    (operators/multimodal.py:render_test_warc — response records carry
    a real HTTP/1.1 envelope, bodies are text slices including the
    truncated/empty overflow cases), then re-extract the CDX-style
    index (record byte offset, type, target URI, status, content
    length) by walking the bytes Content-Length-driven
    (functions/warc.py).  The oracle replays the ENTIRE byte layout
    closed-form — header-block lengths from decimal-digit counts, and
    record offsets as a windowed running sum — so a single missed CRLF
    or a miscounted Content-Length digit shifts every subsequent
    offset and fails the hash.  Two Arrow-batched mapInPandas stages,
    zero shuffle: the crawl-ingest shape (WARC → record index →
    text extraction) distributes embarrassingly at 100 TB."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        render_test_warc,
        warc_records_real,
    )

    d = load_table(spark, sf_dir, "documents")
    recs = warc_records_real(render_test_warc(d, "doc_id"), "doc_id")
    return recs.select(
        "doc_id",
        "rec_idx",
        F.col("offset").alias("rec_offset"),
        "warc_type",
        "target_uri",
        "http_status",
        "content_length",
    )


@query(
    "pipeline_crawl_ingest",
    oracle="""
    WITH base AS (
      SELECT doc_id, text,
             CAST(('0x' || substr(md5(text), 1, 2)) AS INT) AS d0,
             CAST(('0x' || substr(md5(text), 3, 2)) AS INT) AS d1,
             CAST(('0x' || substr(md5(text), 5, 2)) AS INT) AS d2,
             CAST(('0x' || substr(md5(text), 7, 2)) AS INT) AS d3
      FROM documents
    ),
    recs AS (
      SELECT doc_id, text, d1, d2, d3, CAST(i AS INT) AS j
      FROM base, unnest(range(2 + d0 % 4)) AS t(i)
    ),
    resp AS (
      SELECT doc_id, j,
             substr(text, j * 23 + 1, 17 + ((d3 + j) % 11)) AS body
      FROM recs
      WHERE (d1 + j) % 3 > 0 AND (d2 + j) % 4 = 0
    ),
    ok AS (SELECT * FROM resp WHERE length(body) >= 20),
    g AS (
      SELECT body, count(*) AS n_copies,
             min(doc_id * 100 + j) AS keeper_key
      FROM ok GROUP BY body
    )
    SELECT sha256(body) AS body_sha,
           CAST(length(body) AS INT) AS body_len,
           CAST(n_copies AS BIGINT) AS n_copies,
           CAST(keeper_key // 100 AS BIGINT) AS keeper_doc_id,
           CAST(keeper_key % 100 AS INT) AS keeper_rec_idx
    FROM g
    """,
)
def pipeline_crawl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END crawl ingest over the r14 WARC source: WARC payloads
    → Content-Length record walk → HTTP-200 response triage → body
    extraction (the envelope/body CRLFCRLF split is part of the parse)
    → length quality gate (>= 20 chars) → exact dedup by body with a
    deterministic keeper (min (doc_id, rec_idx), packed into one
    integer key so both engines elect identically).  This is the
    acquisition half of a training-data pipeline — the curation chain
    (pipeline_curate etc.) starts from exactly this shape.  The oracle
    rebuilds the bodies closed-form as text slices and replays the
    filter/dedup in SQL, so a wrong status parse, a shifted body
    split, or an off-by-one in the slice shows up as a hash miss.
    Scale: the parse stages are zero-shuffle mapInPandas; the only
    exchange is the dedup groupBy on the body (bounded <= 27 chars
    here; a real corpus would group on the sha — same single
    shuffle)."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        render_test_warc,
        warc_response_texts,
    )

    d = load_table(spark, sf_dir, "documents")
    texts = warc_response_texts(render_test_warc(d, "doc_id"), "doc_id")
    ok = texts.filter(F.length("body") >= 20)
    key = (F.col("doc_id") * 100 + F.col("rec_idx")).cast("long")
    g = ok.withColumn("k", key).groupBy("body").agg(
        F.count("*").cast("long").alias("n_copies"),
        F.min("k").alias("keeper_key"),
    )
    return g.select(
        F.sha2(F.col("body"), 256).alias("body_sha"),
        F.length("body").cast("int").alias("body_len"),
        "n_copies",
        (F.col("keeper_key") / 100).cast("long").alias("keeper_doc_id"),
        F.pmod(F.col("keeper_key"), 100).cast("int").alias("keeper_rec_idx"),
    )


@query(
    "tar_scan_members",
    oracle="""
    WITH base AS (
      SELECT doc_id, length(text) AS L,
             CAST(('0x' || substr(md5(text), 1, 2)) AS INT) AS d0,
             CAST(('0x' || substr(md5(text), 3, 2)) AS INT) AS d1
      FROM documents
    ),
    mem AS (
      SELECT doc_id, CAST(i AS INT) AS j, CAST(i // 2 AS INT) AS k,
             i % 2 = 0 AS is_txt, L, d1
      FROM base, unnest(range(2 * (2 + d0 % 3))) AS t(i)
    ),
    sized AS (
      SELECT doc_id, j, k, is_txt,
             CASE WHEN is_txt
                  THEN greatest(0, least(L - k * 31, 13 + ((d1 + k) % 9)))
                  ELSE 1 END AS size
      FROM mem
    )
    SELECT doc_id,
           CAST(j AS INT) AS member_idx,
           printf('%05d-%d.%s', doc_id, k,
                  CASE WHEN is_txt THEN 'txt' ELSE 'cls' END) AS name,
           CAST(size AS INT) AS size,
           CAST(coalesce(sum(512 + 512 * ((size + 511) // 512)) OVER (
                  PARTITION BY doc_id ORDER BY j
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) AS INT) AS member_offset
    FROM sized
    """,
)
def tar_scan_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ustar shard walk, hash-checked to the block: synthesize
    WebDataset-layout tar archives (one per document, 2+d0%3 samples
    of adjacent .txt/.cls members, real checksummed headers and
    512-byte data-block padding — functions/tarmeta.py, cross-
    validated against the stdlib tarfile reader in tests), then
    re-extract the member index by walking the blocks size-driven.
    The oracle replays the block layout closed-form: member offsets
    are a windowed running sum of 512 + 512*ceil(size/512), so a
    wrong pad, a stale checksum, or a misread octal size field shifts
    every later offset and fails the hash.  Two Arrow-batched
    mapInPandas stages, zero shuffle — shard indexing distributes
    embarrassingly at 100 TB."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        render_test_tar,
        tar_members_real,
    )

    d = load_table(spark, sf_dir, "documents")
    m = tar_members_real(render_test_tar(d, "doc_id", spread=True), "doc_id")
    return m.select(
        "doc_id",
        "member_idx",
        "name",
        "size",
        F.col("offset").alias("member_offset"),
    )


@query(
    "wds_sample_groups",
    oracle="""
    WITH base AS (
      SELECT doc_id, length(text) AS L,
             CAST(('0x' || substr(md5(text), 1, 2)) AS INT) AS d0,
             CAST(('0x' || substr(md5(text), 3, 2)) AS INT) AS d1,
             CAST(('0x' || substr(md5(text), 5, 2)) AS INT) AS d2
      FROM documents
    ),
    s AS (
      SELECT doc_id, CAST(i AS INT) AS k,
             greatest(0, least(L - CAST(i AS INT) * 31,
                               13 + ((d1 + CAST(i AS INT)) % 9)))
               AS txt_len,
             (d2 + CAST(i AS INT)) % 10 AS label
      FROM base, unnest(range(2 + d0 % 3)) AS t(i)
    )
    SELECT doc_id,
           printf('%05d-%d', doc_id, k) AS sample_id,
           2 AS n_parts,
           CAST(txt_len + 1 AS INT) AS payload_bytes,
           CAST(txt_len AS INT) AS txt_len,
           CAST(label AS INT) AS label
    FROM s
    """,
)
def wds_sample_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset sample assembly over the tar shards: adjacent
    members grouped by the first-dot key rule into training samples,
    with the LABEL decoded from the .cls member's bytes — the oracle
    checks content extraction through the container (checksummed
    headers, block padding, member adjacency), not just framing.
    Grouping happens inside the task because a well-formed shard
    keeps a sample's members adjacent — the locality contract
    WebDataset loaders rely on, here worth zero shuffles.  This is
    the standard input shape for multimodal training-data pipelines;
    downstream curation (quality gates, dedup, packing) starts from
    exactly these rows."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        render_test_tar,
        wds_samples_real,
    )

    d = load_table(spark, sf_dir, "documents")
    s = wds_samples_real(render_test_tar(d, "doc_id", spread=True), "doc_id")
    return s.select(
        "doc_id", "sample_id", "n_parts", "payload_bytes", "txt_len",
        "label",
    )


@query(
    "warcgz_scan_records",
    oracle="""
    WITH base AS (
      SELECT doc_id, length(text) AS L,
             CAST(('0x' || substr(md5(text), 1, 2)) AS INT) AS d0,
             CAST(('0x' || substr(md5(text), 3, 2)) AS INT) AS d1,
             CAST(('0x' || substr(md5(text), 5, 2)) AS INT) AS d2,
             CAST(('0x' || substr(md5(text), 7, 2)) AS INT) AS d3
      FROM documents
    ),
    recs AS (
      SELECT doc_id, L, d1, d2, d3, CAST(i AS INT) AS j
      FROM base, unnest(range(2 + d0 % 4)) AS t(i)
    ),
    sized AS (
      SELECT doc_id, j,
             (d1 + j) % 3 > 0 AS is_resp,
             CASE WHEN (d1 + j) % 3 > 0
                  THEN list_extract([200, 301, 404, 503],
                                    ((d2 + j) % 4) + 1)
                  END AS status,
             greatest(0, least(L - j * 23, 17 + ((d3 + j) % 11)))
               + CASE WHEN (d1 + j) % 3 > 0 THEN 44 ELSE 0 END AS clen
      FROM recs
    )
    SELECT doc_id,
           CAST(j AS INT) AS member_idx,
           CASE WHEN is_resp THEN 'response' ELSE 'resource' END
             AS warc_type,
           'http://ex.com/' || CAST(doc_id AS VARCHAR) || '/'
             || CAST(j AS VARCHAR) AS target_uri,
           CAST(status AS INT) AS http_status,
           CAST(clen AS INT) AS content_length,
           -- inflated record length: version(10) + Type(21) +
           -- Record-ID(27 + digits(doc_id)) + Target-URI(35 +
           -- digits(doc_id)) + Content-Length(18 + digits(clen)) +
           -- blank(2) + content + terminator(4)
           CAST(10 + 21
                + 27 + 2 * length(CAST(doc_id AS VARCHAR))
                + 35
                + 18 + length(CAST(clen AS VARCHAR))
                + 2 + clen + 4 AS INT) AS record_bytes
    FROM sized
    """,
)
def warcgz_scan_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ``.warc.gz`` walk, hash-checked through the compression
    layer: the same md5-derived records as warc_scan_records, but
    each compressed as its own gzip member (the ISO 28500 annex
    framing real archives use for seekability) — the engine splits
    members by driving the inflater and reading ``unused_data``,
    re-verifies every RFC 1952 trailer (CRC-32 + ISIZE), requires
    exactly one WARC record per member, and re-parses it.  Compressed
    offsets are deflate-dependent (not SQL-replayable), so the oracle
    pins what IS invariant: the full CDX row per member plus the
    INFLATED record length, recomputed closed-form from the header
    arithmetic — a corrupted trailer, a mis-split member, or a
    framing bug upstream of the inflater all fail loudly Spark-side,
    and any surviving corruption shifts record_bytes and fails the
    hash.  Two Arrow-batched mapInPandas stages, zero shuffle."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        render_test_warcgz,
        warcgz_records_real,
    )

    d = load_table(spark, sf_dir, "documents")
    r = warcgz_records_real(render_test_warcgz(d, "doc_id"), "doc_id")
    return r.select(
        "doc_id",
        "member_idx",
        "warc_type",
        "target_uri",
        "http_status",
        "content_length",
        "record_bytes",
    )


@query(
    "zip_scan_entries",
    oracle="""
    WITH base AS (
      SELECT doc_id, length(text) AS L,
             CAST(('0x' || substr(md5(text), 1, 2)) AS INT) AS d0,
             CAST(('0x' || substr(md5(text), 3, 2)) AS INT) AS d1
      FROM documents
    ),
    e AS (
      SELECT doc_id, CAST(i AS INT) AS k,
             greatest(0, least(L - CAST(i AS INT) * 27,
                               14 + ((d1 + CAST(i AS INT)) % 12)))
               AS size
      FROM base, unnest(range(2 + d0 % 4)) AS t(i)
    )
    SELECT doc_id,
           CAST(k AS INT) AS entry_idx,
           printf('%05d-%d.txt', doc_id, k) AS name,
           CAST(size AS INT) AS n_bytes,
           -- STORED local header is 30 bytes + the name (length
           -- computed, not hardcoded: %05d widens past doc_id 99999),
           -- then the content verbatim: offsets are a running sum
           CAST(coalesce(sum(30 + length(printf('%05d-%d.txt', doc_id, k))
                             + size) OVER (
                  PARTITION BY doc_id ORDER BY k
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) AS INT) AS local_offset
    FROM e
    """,
)
def zip_scan_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ZIP central-directory walk, hash-checked to the byte:
    synthesize STORED-method archives from md5-derived parameters
    (functions/zipmeta.py — cross-validated against the stdlib
    zipfile reader in both directions in tests), then re-extract the
    entry index END-FIRST: locate the EOCD record, parse the central
    directory, cross-check every entry's local header (magic + name)
    and CRC-32.  STORED members make the entire layout closed-form,
    so the oracle replays local-header offsets as a running sum of
    30 + len(name) + size — a wrong header length, a bad EOCD scan, or a stale
    CRC fails the hash (DEFLATE members are the gzip walk's regime
    and are rejected loudly here).  Completes the container matrix:
    WARC, .warc.gz, tar/WebDataset, ZIP.  Two Arrow-batched
    mapInPandas stages, zero shuffle."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        render_test_zip,
        zip_entries_real,
    )

    d = load_table(spark, sf_dir, "documents")
    e = zip_entries_real(render_test_zip(d, "doc_id"), "doc_id")
    return e.select(
        "doc_id", "entry_idx", "name", "n_bytes", "local_offset"
    )
