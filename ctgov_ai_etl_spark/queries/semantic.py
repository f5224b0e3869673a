"""LLM-data-pipeline queries: dedup family, similarity search, text
analysis (SURVEY.md §2.3 'LLM-data-pipeline operators'; north-star
mandate in BASELINE.json).

Oracle SQL is generated from the same rule tables the Spark
expressions use (language markers, thresholds), so the two sides
cannot drift apart silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ctgov_ai_etl_spark.functions.text import (
    LANG_MARKERS,
    avg_token_len,
    lang_id,
    lang_id_from_tokens,
    md5_fingerprint,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    tokens,
    unique_token_count,
)
from ctgov_ai_etl_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    jaccard_token_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
    sorted_neighborhood_oracle_sql,
)
from ctgov_ai_etl_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup,
    fit_centroids_offline,
    ivf_topk,
    ivf_topk_partitioned,
    lsh_topk,
    seeded_centroids,
    semantic_prune,
    semantic_prune_oracle_sql,
)
from ctgov_ai_etl_spark.functions.exact import fdiv, sql_fdiv
from ctgov_ai_etl_spark.operators.cache import track
from ctgov_ai_etl_spark.operators.limits import stratified_sample
from ctgov_ai_etl_spark.queries.registry import REGISTRY, query
from ctgov_ai_etl_spark.tables import load_table


# ------------------------------------------------------- text analysis

@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_unique,
           CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / len(string_split(text, ' ')) AS avg_tok_len
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (token counting for training-data
    curation): counts are exact integers, the average is one double
    division."""
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        unique_token_count(t).alias("n_unique"),
        avg_token_len(t).alias("avg_tok_len"),
    )


@query(
    "text_top_tokens",
    oracle="""
    SELECT tok, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
    ORDER BY n DESC, tok ASC
    LIMIT 20
    """,
)
def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token frequency top-k (explode → hash agg → top-k; the
    partial aggregation makes the shuffle carry one row per distinct
    token per task, not one per token occurrence)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(20)
    )


def _sql_marker_count(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return (
        f"len(list_filter(string_split(lower(text), ' '), t -> t IN ({markers})))"
    )


def _sql_lang_id(default: str = "en") -> str:
    # same argmax-with-fixed-order semantics as functions.text.lang_id
    expr_lang, expr_score = f"'{default}'", "0"
    for lang in LANG_MARKERS:
        s = _sql_marker_count(lang)
        expr_lang = f"CASE WHEN {s} > {expr_score} THEN '{lang}' ELSE {expr_lang} END"
        expr_score = f"CASE WHEN {s} > {expr_score} THEN {s} ELSE {expr_score} END"
    return expr_lang


@query(
    "text_langid_quality",
    oracle=f"""
    SELECT doc_id,
           {_sql_lang_id()} AS lang_guess,
           round(
             (CASE WHEN len(string_split(text,' ')) BETWEEN 20 AND 1000
                   THEN 0.5 ELSE 0.0 END)
             + least(2 * len(list_filter(string_split(lower(text),' '),
                                         t -> t IN ('the','a','of')))
                       / CAST(len(string_split(text,' ')) AS DOUBLE), 0.3)
             + 0.2
             - least((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                       / CAST(length(text) AS DOUBLE), 0.2),
             9) AS quality,
           round(len(list_filter(string_split(lower(text),' '),
                                 t -> t IN ('the','a','of')))
                   / CAST(len(string_split(text,' ')) AS DOUBLE), 9) AS stop_ratio,
           round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                   / CAST(length(text) AS DOUBLE), 9) AS punct_ratio
    FROM documents
    """,
)
def text_langid_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (marker-token argmax) + composite quality
    score + its component ratios — the curation trio for filtering web
    text before training. Oracle generated from the same marker table."""
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    # Tokenize ONCE into a column; Catalyst doesn't CSE repeated
    # expression trees across projection items, so the inlined form
    # would re-split the text ~8× per row (measured 5s → 1s here).
    low_toks = d.withColumn("lt", tokens(F.lower(t)))
    # Marker scores as real columns: the argmax cascade references each
    # score twice per level, so inlined score trees double per level
    # (2^5 filter scans by the last language) — attributes don't.
    from ctgov_ai_etl_spark.functions.text import LANG_MARKERS

    def _marker_score(markers):
        return F.size(F.filter(F.col("lt"), lambda x: x.isin(*markers)))

    for lang in LANG_MARKERS:
        low_toks = low_toks.withColumn(f"score_{lang}", _marker_score(LANG_MARKERS[lang]))
    best_lang, best_score = F.lit("en"), F.lit(0)
    for lang in LANG_MARKERS:
        is_better = F.col(f"score_{lang}") > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, F.col(f"score_{lang}")).otherwise(best_score)
    # ratios as real columns too: quality references BOTH ratios and
    # each is also an output — inlined, the regexp_replace strip and
    # the stopword filter would run twice per row (no CSE)
    n_tok = F.size("lt")
    n_stop = F.size(F.filter(F.col("lt"), lambda x: x.isin("the", "a", "of")))
    stripped = F.regexp_replace(t, r"[^\w\s]", "")
    scored = low_toks.select(
        "doc_id",
        best_lang.alias("lang_guess"),
        n_tok.alias("__n_tok"),
        (n_stop.cast("double") / n_tok).alias("__stop_ratio"),
        ((F.length(t) - F.length(stripped)).cast("double") / F.length(t)).alias(
            "__p_ratio"
        ),
    )
    length_ok = (
        F.when((F.col("__n_tok") >= 20) & (F.col("__n_tok") <= 1000), F.lit(0.5))
        .otherwise(F.lit(0.0))
    )
    quality = F.round(
        length_ok
        + F.least(F.col("__stop_ratio") * 2, F.lit(0.3))
        + F.lit(0.2)
        - F.least(F.col("__p_ratio"), F.lit(0.2)),
        9,
    )
    return scored.select(
        "doc_id",
        "lang_guess",
        quality.alias("quality"),
        F.round("__stop_ratio", 9).alias("stop_ratio"),
        F.round("__p_ratio", 9).alias("punct_ratio"),
    )


@query(
    "text_chunked",
    oracle="""
    SELECT doc_id, CAST(i AS INT) AS chunk_id,
           array_to_string(list_slice(toks, i*8 + 1, i*8 + 10), ' ') AS chunk
    FROM (
      SELECT doc_id, toks,
             unnest(range(0, greatest(CAST(ceil((len(toks) - 2) / 8.0) AS BIGINT), 1)))
               AS i
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    )
    """,
)
def text_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length chunking: overlapping token windows (size 10,
    overlap 2) — the step that shapes documents into model-sized
    training rows. One map-side array expression + explode; at 100 TB
    the chunk explode multiplies rows ~n_tokens/stride with zero
    shuffle, and the chunker composes before tokenize/pack stages."""
    from ctgov_ai_etl_spark.functions.text import chunk_tokens

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.explode(chunk_tokens(F.col("text"), 10, 2)).alias("c")
    ).select("doc_id", F.col("c.chunk_id").alias("chunk_id"), F.col("c.chunk").alias("chunk"))


@query(
    "text_pack_sequences",
    oracle="""
    SELECT doc_id, source, CAST(n_tok AS INT) AS n_tok,
           CAST(floor((cum - n_tok) / 512.0) AS INT) AS seq_id
    FROM (
      SELECT doc_id, source, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum
      FROM (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
            FROM documents)
    )
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence PACKING: assign documents to fixed token-budget
    training sequences (512 tokens) per source — each doc's sequence
    id is its pre-cumulative token count ÷ budget under the
    deterministic doc_id order. The distributable form of greedy
    packing: one window shuffle per source partition, no global order,
    no driver loop; downstream `groupBy(seq_id)` + concat materializes
    the packed rows. Composes after `text_chunked` when docs exceed
    the budget."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    n_tok = F.size(tokens(F.col("text")))
    w = W.partitionBy("source").orderBy("doc_id")
    base = d.select("doc_id", "source", n_tok.alias("n_tok"))
    cum = F.sum("n_tok").over(w)
    return base.select(
        "doc_id",
        "source",
        F.col("n_tok").cast("int").alias("n_tok"),
        F.floor((cum - F.col("n_tok")) / 512.0).cast("int").alias("seq_id"),
    )


_BM25_TERMS = ("data", "model", "training")


@query(
    "search_bm25",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok IN {_BM25_TERMS!r}
      GROUP BY 1, 2
    ),
    stats AS (
      SELECT count(*) AS n_docs,
             avg(len(string_split(text, ' '))) AS avgdl
      FROM documents
    ),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents)
    SELECT doc_id,
           round(sum(
             ln(1 + (n_docs - df + 0.5) / (df + 0.5))
             * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
           ), 6) AS bm25
    FROM tf
    JOIN df USING (tok)
    JOIN dl USING (doc_id)
    CROSS JOIN stats
    GROUP BY doc_id
    """,
)
def search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval scores (k1=1.2, b=0.75) for a fixed term
    set — the inverted-index half of a retrieval stack beside the
    embedding top-k operators. Pure relational: explode → tf, one
    broadcast of the (tiny) per-term document frequencies and global
    (n_docs, avgdl) scalars, score map-side, sum per doc. At 100 TB
    the term filter prunes the explode before the only wide shuffle
    (tf groupBy)."""
    d = load_table(spark, sf_dir, "documents")
    terms = list(_BM25_TERMS)
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    tf = (
        toks.filter(F.col("tok").isin(terms))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    stats = d.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.size(tokens(F.col("text")))).alias("avgdl"),
    )
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    dl = d.select("doc_id", F.size(tokens(F.col("text"))).alias("dl"))
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    score = idf * F.col("tf") * 2.2 / (
        F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(score), 6).alias("bm25"))
    )


_RRF_TOWER_K = 100  # per-tower ranking depth for reciprocal-rank fusion


@query(
    "search_hybrid_rrf",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok IN {_BM25_TERMS!r}
      GROUP BY 1, 2
    ),
    stats AS (
      SELECT count(*) AS n_docs,
             avg(len(string_split(text, ' '))) AS avgdl
      FROM documents
    ),
    dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
    bm25 AS (
      SELECT doc_id,
             round(sum(
               ln(1 + (n_docs - df + 0.5) / (df + 0.5))
               * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
             ), 6) AS s
      FROM tf JOIN dfq USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY doc_id
    ),
    lex AS (
      SELECT doc_id, r FROM (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY s DESC, doc_id ASC) AS INT) AS r
        FROM bm25
      ) WHERE r <= {_RRF_TOWER_K}
    ),
    corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sem AS (
      SELECT doc_id, r FROM (
        SELECT c.vec_id AS doc_id,
               CAST(row_number() OVER (
                 ORDER BY round(list_dot_product(q.v, c.v)
                   / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6)
                   DESC, c.vec_id ASC) AS INT) AS r
        FROM corpus c JOIN corpus q ON q.vec_id = 0
        WHERE c.vec_id <> 0
      ) WHERE r <= {_RRF_TOWER_K}
    )
    SELECT doc_id,
           round(coalesce(1.0 / (60 + lex.r), 0) + coalesce(1.0 / (60 + sem.r), 0), 9)
             AS rrf
    FROM lex FULL JOIN sem USING (doc_id)
    ORDER BY rrf DESC, doc_id ASC
    LIMIT 10
    """,
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval: reciprocal-rank fusion (k=60) of the BM25
    lexical ranking and the embedding-cosine ranking against query
    vector 0 — the standard two-tower search composition, built
    entirely from this engine's existing operators.

    Capped-``K`` RRF (K=100 per tower): 1/(60+r) is negligible past a
    few hundred, so a doc outside a tower's top-K contributes exactly 0
    from that tower — the standard production formulation, and the one
    that scales: each tower produces K rows via distributed top-k
    (``TakeOrderedAndProject`` / two-phase pruned window), so NO
    full-corpus ranking ever funnels through one reducer (the round-1
    formulation ranked every scored doc through a single unpartitioned
    window).  The lexical K rows are ranked by a broadcast self-join
    count (rank = 1 + #better rows) — no Window node, no
    exchange-to-one.  Rankings are deterministic (score desc, id asc);
    the fused top-10 hash-checks against the SQL replay of both towers.
    """
    e = load_table(spark, sf_dir, "embeddings")
    bm = search_bm25(spark, sf_dir)  # the decorator returns the fn itself
    topk = bm.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()).limit(_RRF_TOWER_K)
    other = topk.select(
        F.col("doc_id").alias("o_id"), F.col("bm25").alias("o_score")
    )
    beats = (F.col("o_score") > F.col("bm25")) | (
        (F.col("o_score") == F.col("bm25")) & (F.col("o_id") < F.col("doc_id"))
    )
    lex = (
        topk.join(F.broadcast(other), beats, "left")
        .groupBy("doc_id")
        .agg((F.count("o_id") + 1).cast("int").alias("r_lex"))
    )
    from ctgov_ai_etl_spark.operators.similarity import brute_force_topk

    sem_topk = brute_force_topk(e, e.filter(F.col("vec_id") == 0), k=_RRF_TOWER_K)
    sem = sem_topk.select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("r_sem")
    )
    rrf = F.round(
        F.coalesce(1.0 / (60 + F.col("r_lex")), F.lit(0.0))
        + F.coalesce(1.0 / (60 + F.col("r_sem")), F.lit(0.0)),
        9,
    )
    return (
        lex.join(sem, "doc_id", "full")
        .select("doc_id", rrf.alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical md5 document fingerprint (exact-dup key; engine-
    independent hex)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", md5_fingerprint(F.col("text")).alias("fp"))


@query(
    "text_tfidf_top_term",
    oracle="""
    WITH tf AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    tfc AS (SELECT doc_id, tok, count(*) AS tf FROM tf GROUP BY 1, 2),
    df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, tok,
             round(tf * ln((SELECT n_docs FROM n) / CAST(df AS DOUBLE)), 6) AS tfidf
      FROM tfc JOIN df USING (tok)
    )
    SELECT doc_id, tok AS top_term, tfidf FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, tok ASC) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)
def text_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-lite: per-document top term by tf·ln(N/df). Composition
    of explode → double aggregation → broadcast df join → window
    top-1; the df table is vocabulary-sized (broadcast side)."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    tf = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    tfc = tf.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # tiny driver scalar, folded into the plan as a literal
    scored = tfc.join(F.broadcast(dfreq), "tok").select(
        "doc_id",
        "tok",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df").cast("double")), 6
        ).alias("tfidf"),
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("tok").alias("top_term"), "tfidf")
    )


@query(
    "agg_stats_moments",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority,
             count(*) AS n,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS sx,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)
                 * CAST(round(o_totalprice * 100) AS BIGINT)) AS sxx
      FROM orders GROUP BY 1
    )
    SELECT o_orderpriority,
           CAST(sx AS DOUBLE) / (100 * n) AS mean_price,
           round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1)) / 100, 4)
             AS stddev_price
    FROM m
    """,
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent statistical aggregates from exact integer
    moments (Σx, Σx² over cents): mean and sample stddev derived in
    one double step at the end. The built-in stddev/corr stream
    doubles and drift with partition order — the moment formulation
    is how the engine keeps holistic stats deterministic at scale
    (tests assert it matches F.stddev within float tolerance)."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    # Σx² over cents exceeds int64 at larger SFs (ANSI would raise);
    # decimal keeps it exact — DuckDB's BIGINT sum widens to HUGEINT
    # automatically, same values.
    cents_dec = cents.cast("decimal(20,0)")
    m = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(cents).alias("sx"),
        F.sum(cents_dec * cents_dec).alias("sxx"),
    )
    mean = m["sx"].cast("double") / (100 * m["n"])
    var_cents = (m["sxx"].cast("double") - m["sx"].cast("double") * m["sx"] / m["n"]) / (
        m["n"] - 1
    )
    return m.select(
        "o_orderpriority",
        mean.alias("mean_price"),
        F.round(F.sqrt(var_cents) / 100, 4).alias("stddev_price"),
    )


# quality heuristic as a SQL fragment (mirrors functions.text.quality_score)
_SQL_QUALITY = """round(
             (CASE WHEN len(string_split(text,' ')) BETWEEN 20 AND 1000
                   THEN 0.5 ELSE 0.0 END)
             + least(2 * len(list_filter(string_split(lower(text),' '),
                                         t -> t IN ('the','a','of')))
                       / CAST(len(string_split(text,' ')) AS DOUBLE), 0.3)
             + 0.2
             - least((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                       / CAST(length(text) AS DOUBLE), 0.2),
             9)"""


@query(
    "pipeline_curate",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, text, source,
             {_sql_lang_id()} AS lang_guess,
             {_SQL_QUALITY} AS quality,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents
    ),
    filtered AS (
      SELECT * FROM scored WHERE lang_guess = 'en' AND quality >= 0.5
    ),
    keepers AS (SELECT fp, min(doc_id) AS doc_id FROM filtered GROUP BY fp)
    SELECT f.doc_id, f.source, f.quality, f.fp
    FROM filtered f JOIN keepers k ON f.fp = k.fp AND f.doc_id = k.doc_id
    WHERE CAST(('0x' || substring(md5(CAST(f.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            % 10000
          < 0.5 * 10000
    """,
)
def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation pipeline — the composition the individual
    operators exist for: language-ID gate (en) → quality gate (≥0.5) →
    exact dedup (min-id keeper per canonical fingerprint) → 50%
    deterministic sample. One linear DataFrame chain: the scoring is
    map-side, dedup is the only shuffle (hash agg on fingerprint),
    the sample filter is map-side again — at 100 TB this runs as scan
    → filter → one exchange → filter. The whole pipeline hash-checks
    against the composed SQL replay of its stages."""
    from ctgov_ai_etl_spark.functions.text import add_lang_id

    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    # tokens/scores materialized as real columns (Catalyst-no-CSE
    # lesson; the inline lang-id cascade measured 6s vs 1.5s at sf0.1)
    scored = add_lang_id(
        d.withColumn("lt", tokens(F.lower(t))), "lt"
    ).select(
        "doc_id",
        "source",
        "lang_guess",
        quality_score(t).alias("quality"),
        md5_fingerprint(t).alias("fp"),
    )
    # persist = optimizer barrier + branch reuse: filter PUSHDOWN would
    # substitute the full scoring trees into the condition (measured 66
    # re-splits of the text per row instead of 5 → 14× slower), and the
    # filtered table feeds two branches (keeper agg + re-join) anyway.
    scored = track(scored.persist())
    filtered = scored.filter((F.col("lang_guess") == "en") & (F.col("quality") >= 0.5))
    keepers = filtered.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    kept = filtered.join(keepers, ["fp", "doc_id"])
    from ctgov_ai_etl_spark.operators.limits import hash_bucket

    return kept.filter(hash_bucket(F.col("doc_id")) < F.lit(0.5) * 10_000).select(
        "doc_id", "source", "quality", "fp"
    )


def _curate_full_oracle() -> str:
    """SQL replay of the FULL curation pipeline: PII-inject+redact →
    Gopher gates → lang gate → exact dedup on the redacted fingerprint
    → benchmark decontamination → deterministic sample → reproducible
    training order."""
    from ctgov_ai_etl_spark.functions.pii import PII_PATTERNS

    red = "s"
    for _, pat, tag in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{tag}', 'g')"
    return f"""
    WITH synth AS (
      SELECT doc_id, source, lang, text,
             text
             || CASE WHEN doc_id % 7 = 0
                     THEN ' contact ' || source || '@example.com' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' call +1-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                          || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.0.' || CAST(doc_id % 100 AS VARCHAR)
                     ELSE '' END
             AS s
      FROM documents
    ),
    scored AS (
      SELECT doc_id, source, lang,
             string_split(text, ' ') AS l,
             md5(regexp_replace(trim(lower({red})), '\\s+', ' ', 'g')) AS fp
      FROM synth
    ),
    cur AS (
      SELECT doc_id, source, fp FROM scored
      WHERE len(l) BETWEEN 50 AND 100000
        AND CAST(list_sum(list_transform(l, x -> length(x))) AS DOUBLE) / len(l)
              BETWEEN 3.0 AND 10.0
        AND CAST(len(list_filter(l, x -> regexp_matches(x, '[A-Za-z]')))
                 AS DOUBLE) / len(l) >= 0.8
        AND lang = 'en'
        AND source <> 'src0'
    ),
    toks AS (SELECT doc_id, source, string_split(text, ' ') AS l FROM documents),
    sh AS (
      SELECT doc_id, source,
             unnest(list_transform(range(1, len(l) - 6),
                    i -> array_to_string(list_slice(l, i, i + 7), ' '))) AS s
      FROM toks WHERE len(l) >= 8
    ),
    contam AS (
      SELECT DISTINCT t.doc_id
      FROM (SELECT doc_id, s FROM sh WHERE source <> 'src0') t
      JOIN (SELECT DISTINCT s FROM sh WHERE source = 'src0') b USING (s)
    ),
    keep AS (
      SELECT c.doc_id, c.source, c.fp
      FROM cur c
      JOIN (SELECT fp, min(doc_id) AS doc_id FROM cur GROUP BY fp) k
        ON c.fp = k.fp AND c.doc_id = k.doc_id
      WHERE c.doc_id NOT IN (SELECT doc_id FROM contam)
        AND CAST(('0x' || substring(md5(CAST(c.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 10000 < 0.8 * 10000
    )
    SELECT doc_id, source, fp,
           CAST(row_number() OVER (
                  ORDER BY md5(CAST(doc_id AS VARCHAR) || ':7'), doc_id)
                AS BIGINT) AS pos
    FROM keep
    """


@query("pipeline_curate_full", oracle=_curate_full_oracle())
def pipeline_curate_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE training-data curation pipeline, one DataFrame
    chain: PII redaction (map) → Gopher quality gates (map; the
    stop-word rule is omitted — fixture-verified to reject 100% of
    this synthetic corpus, see text_gopher_rules for the full flag) →
    language gate → exact dedup on the REDACTED fingerprint (shuffle 1,
    hash agg on fp) → benchmark decontamination anti-join (benchmark
    shingles broadcast, probe map-side) → 80% deterministic sample
    (map) → reproducible training order (shuffle 2, distributed
    range-partitioned rank).  At 100 TB: scan → maps → two narrow
    exchanges → broadcast probe — every other stage is scan-speed.
    Hash-checked end-to-end against the composed SQL replay."""
    from ctgov_ai_etl_spark.functions.pii import pii_redact
    from ctgov_ai_etl_spark.operators.decontam import flag_contaminated
    from ctgov_ai_etl_spark.operators.limits import global_rank, hash_bucket
    from ctgov_ai_etl_spark.operators.quality import gopher_metrics_from_tokens

    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    synth = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" contact "), F.col("source"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" call +1-"),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 13 == 0,
            F.concat(
                F.lit(" from 10."),
                (did % 256).cast("string"),
                F.lit(".0."),
                (did % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    # Token array + fingerprint as REAL columns, then persist: the
    # optimizer barrier stops filter pushdown from re-substituting the
    # scoring trees (the measured pipeline_curate lesson), and the
    # curated table feeds two branches (keeper agg + re-join).
    m = gopher_metrics_from_tokens(F.col("lt"))
    from ctgov_ai_etl_spark.operators.limits import spread_to_parallelism

    # The scoring map (PII regex chain + tokenize + Gopher metrics) is
    # the pipeline's CPU and ran as ONE task on the single-row-group
    # bench file; conditional round-robin spread (no-op at scale).
    # Only this branch: flag_contaminated spreads its own inputs.
    scored = (
        spread_to_parallelism(d)
        .withColumn("lt", tokens(F.col("text")))
        .select(
            "doc_id",
            "source",
            "lang",
            md5_fingerprint(pii_redact(synth)).alias("fp"),
            m["n_words"].alias("n_words"),
            m["mean_word_len"].alias("mwl"),
            m["alpha_frac"].alias("af"),
        )
    )
    cur = (
        scored.filter(
            F.col("n_words").between(50, 100_000)
            & F.col("mwl").between(3.0, 10.0)
            & (F.col("af") >= 0.8)
            & (F.col("lang") == "en")
            & (F.col("source") != "src0")
        )
        .select("doc_id", "source", "fp")
        .persist()
    )
    cur = track(cur)
    keepers = cur.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    kept = cur.join(keepers, ["fp", "doc_id"])
    contam = flag_contaminated(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        n=8,
    ).select("doc_id")
    clean = kept.join(F.broadcast(contam), "doc_id", "left_anti")
    sampled = clean.filter(hash_bucket(F.col("doc_id")) < F.lit(0.8) * 10_000)
    hashed = sampled.withColumn(
        "__h", F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":7")))
    )
    ranked = global_rank(hashed, ["__h", "doc_id"])
    return ranked.select(
        "doc_id", "source", "fp", F.col("__pos").cast("long").alias("pos")
    )


@query(
    "sample_stratified",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars
    FROM documents d
    LEFT JOIN (VALUES ('en', 0.5), ('de', 0.25), ('zh', 1.0)) f(lang, frac)
      USING (lang)
    WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            % 10000
          < coalesce(frac, 0.1) * 10000
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling — rebalance a corpus by
    language (en 50%, de 25%, zh 100%, others 10%): md5-bucket the
    stable row key, keep rows under the stratum's rate. The fractions
    dimension broadcasts; the filter is map-side, no shuffle. Unlike
    df.sample (partition-seeded RNG), the surviving set is a pure
    function of the keys — identical on any cluster layout and
    replayable by any engine with md5, which is what makes training
    mixtures auditable."""
    d = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        d, "lang", {"en": 0.5, "de": 0.25, "zh": 1.0}, key_col="doc_id", default=0.1
    )


@query(
    "sample_reservoir",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
    LIMIT 200
    """,
)
def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample WITHOUT replacement — exactly 200
    documents, every subset equally likely — the reservoir-sampling
    contract, implemented as deterministic bottom-k by md5 priority
    (operators/limits.py:reservoir_sample) because sequential Vitter
    reservoirs don't parallelize.  Complements sample_stratified
    (per-stratum *rates*, output size varies with the data) when a
    training pipeline needs an exact row budget.

    Scale shape: Spark plans orderBy(priority).limit(k) as
    TakeOrderedAndProject — per-partition bottom-k heaps, then a
    k·P-row merge — so a 100 TB corpus pays one map-side pass and
    never a global sort; for huge k the operator's n_hint prefilter
    cuts the heap inputs to ~8k rows map-side first.  Selection is a
    pure function of doc_id, so the same 200 rows survive on any
    cluster, any partitioning, any engine with md5 — auditable, and
    replayed exactly by the oracle's ORDER BY md5 LIMIT k."""
    from ctgov_ai_etl_spark.operators.limits import reservoir_sample

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return reservoir_sample(d, k=200, key_col="doc_id")


# --------------------------------------------------------------- dedup

@query(
    "dedup_exact_group",
    oracle="""
    SELECT fp,
           CAST(min(doc_id) AS BIGINT) AS keeper,
           CAST(count(*) AS BIGINT) AS dups
    FROM (SELECT doc_id,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
          FROM documents)
    GROUP BY fp
    """,
)
def dedup_exact_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by canonical fingerprint: deterministic keeper
    (min id) per group — the survivor choice is stable under any
    partitioning, unlike bare dropDuplicates."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", md5_fingerprint(F.col("text")).alias("fp")
    )
    keepers = exact_dedup(d, ["fp"]).select("fp", F.col("doc_id").alias("keeper"))
    counts = d.groupBy("fp").agg(F.count("*").alias("dups"))
    return keepers.join(counts, "fp")


@query(
    "dedup_jaccard_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ),
    sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE), 9) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.id
    JOIN sizes sb ON id_b = sb.id
    WHERE round(n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE), 9) >= 0.95
    """,
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs (≥0.95): the relational
    formulation — explode distinct tokens, shuffle once on token,
    count pair co-occurrences, set algebra. At 100 TB the same plan
    runs after a document-frequency cap drops ultra-common tokens."""
    d = load_table(spark, sf_dir, "documents")
    return jaccard_token_pairs(d, "doc_id", "text", threshold=0.95)


@query(
    "dedup_jaccard_bigram",
    oracle="""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(list_distinct(
               list_transform(range(1, len(string_split(text, ' '))),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])
             )) AS tok
      FROM documents
    ),
    sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE), 9) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.id
    JOIN sizes sb ON id_b = sb.id
    WHERE round(n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE), 9) >= 0.9
    """,
)
def dedup_jaccard_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-BIGRAM Jaccard pairs (≥0.9): n-gram sets
    re-introduce local word order, so bag-of-words near-dups with
    scrambled ordering fall out — the order-sensitive member of the
    exact near-dup family. Same PPJoin prefix-filter plan as the
    1-gram query; only the shingling expression changes."""
    d = load_table(spark, sf_dir, "documents")
    return jaccard_token_pairs(d, "doc_id", "text", threshold=0.9, ngram=2)


def _minhash_oracle_sql(num_hashes: int, bands: int, threshold: float) -> str:
    """Full SQL replay of the md5-hashed MinHash-LSH pipeline: same
    base hashes (md5 32-bit mod P), same seeded permutation constants,
    same banding decision (∃ band with every row equal) — feasible as
    a naive all-pairs join at oracle scale."""
    from ctgov_ai_etl_spark.operators.dedup import _P, _hash_params

    rows = num_hashes // bands
    sig_items = ",\n        ".join(
        f"list_min(list_transform(hs, h -> ({a}*h + {b}) % {_P}))"
        for a, b in _hash_params(num_hashes)
    )
    band_conds = "\n        OR ".join(
        "("
        + " AND ".join(
            f"a.sig[{band * rows + r + 1}] = b.sig[{band * rows + r + 1}]"
            for r in range(rows)
        )
        + ")"
        for band in range(bands)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS ts
      FROM documents
    ),
    base AS (
      SELECT id, list_transform(ts, s ->
        CAST(('0x'||substring(md5(s),1,8)) AS BIGINT) % {_P}) AS hs
      FROM toks
    ),
    sigs AS (SELECT id, [{sig_items}] AS sig FROM base)
    SELECT id_a, id_b, est_jaccard FROM (
      SELECT a.id AS id_a, b.id AS id_b,
             len(list_filter(range(1, {num_hashes + 1}), i -> a.sig[i] = b.sig[i]))
               / {num_hashes}.0 AS est_jaccard
      FROM sigs a JOIN sigs b ON a.id < b.id AND ({band_conds})
    ) WHERE est_jaccard >= {threshold}
    """


def _minhash_incremental_oracle_sql(
    num_hashes: int, bands: int, threshold: float, split: int
) -> str:
    """SQL replay of the incremental pipeline: same signatures as
    :func:`_minhash_oracle_sql`, corpus split by md5 bucket into
    existing (< ``split``) and incoming, band-collision join across
    the split only, min-existing-id dup target."""
    from ctgov_ai_etl_spark.operators.dedup import _P, _hash_params

    rows = num_hashes // bands
    sig_items = ",\n        ".join(
        f"list_min(list_transform(hs, h -> ({a}*h + {b}) % {_P}))"
        for a, b in _hash_params(num_hashes)
    )
    band_conds = "\n        OR ".join(
        "("
        + " AND ".join(
            f"a.sig[{band * rows + r + 1}] = b.sig[{band * rows + r + 1}]"
            for r in range(rows)
        )
        + ")"
        for band in range(bands)
    )
    bucket = (
        "CAST(('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS ts
      FROM documents
    ),
    base AS (
      SELECT id, list_transform(ts, s ->
        CAST(('0x'||substring(md5(s),1,8)) AS BIGINT) % {_P}) AS hs
      FROM toks
    ),
    sigs AS (SELECT id, [{sig_items}] AS sig FROM base),
    ex AS (SELECT * FROM sigs WHERE {bucket} < {split}),
    inc AS (SELECT * FROM sigs WHERE {bucket} >= {split}),
    hit AS (
      SELECT doc_id, ex_id, est_jaccard FROM (
        SELECT a.id AS doc_id, b.id AS ex_id,
               len(list_filter(range(1, {num_hashes + 1}),
                               i -> a.sig[i] = b.sig[i]))
                 / {num_hashes}.0 AS est_jaccard
        FROM inc a JOIN ex b ON ({band_conds})
      ) WHERE est_jaccard >= {threshold}
    )
    SELECT h.doc_id, h.ex_id AS dup_of, h.est_jaccard
    FROM hit h
    JOIN (SELECT doc_id, min(ex_id) AS m FROM hit GROUP BY doc_id) k
      ON h.doc_id = k.doc_id AND h.ex_id = k.m
    """


@query("dedup_incremental", oracle=_minhash_incremental_oracle_sql(64, 8, 0.8, 8000))
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup admission — the steady-state production
    shape: the corpus is already deduped; each new batch (here the 20%
    md5-bucket slice standing in for a fresh crawl) is checked against
    the EXISTING signature store and only novel docs admitted
    (operators/dedup.py minhash_incremental_dedup).  Cross-side work
    is one band-bucket equi-join on narrow keys; the incoming band
    table broadcasts.  md5-replayable end to end — the oracle
    reproduces candidate membership and the min-id dup target
    exactly."""
    from ctgov_ai_etl_spark.operators.dedup import minhash_incremental_dedup
    from ctgov_ai_etl_spark.operators.limits import hash_bucket

    d = load_table(spark, sf_dir, "documents")
    existing = d.filter(hash_bucket(F.col("doc_id")) < 8000)
    incoming = d.filter(hash_bucket(F.col("doc_id")) >= 8000)
    return minhash_incremental_dedup(
        existing, incoming, "doc_id", "text", num_hashes=64, bands=8, threshold=0.8
    )


@query("dedup_minhash_lsh", oracle=_minhash_oracle_sql(64, 8, 0.8))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates (token shingles — bag-of-words
    similarity, matching this corpus's duplication structure; 64
    hashes × 8 bands of 8 rows, est. Jaccard ≥ 0.8). Banding is tuned
    to the threshold: the S-curve knee (1/b)^(1/r) = (1/8)^(1/8) ≈
    0.77 sits just under 0.8, so pairs far below the threshold rarely
    become candidates — at 16×4 the knee is 0.5 and every mid-
    similarity pair costs a full 64-hash verify it can never pass
    (measured 1.6× slower for 2.6% extra borderline pairs).
    FULLY oracle-checked since round 2: md5-derived base hashes and
    exact band-value buckets make every stage engine-replayable, so
    the DuckDB all-pairs replay reproduces candidate membership AND
    estimates bit-for-bit (was rows-only with xxhash64; recall vs
    exact Jaccard is additionally pinned in tests/test_semantic.py)."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=64, bands=8, shingle_k=1,
        threshold=0.8, shingle="token", hash_method="md5",
    )


def _simhash_oracle_sql(max_hamming: int) -> str:
    """SQL replay of md5-token SimHash + all-pairs Hamming filter (the
    chunk join is exhaustive by pigeonhole, so all-pairs IS the same
    result).  Bits come from the unsigned 64-bit md5 value (HUGEINT
    arithmetic); the packed signature wraps to a signed BIGINT so
    xor/bit_count agree with Spark's two's-complement longs."""
    uh = (
        "CAST(CAST(('0x'||substring(md5(t),1,8)) AS BIGINT) AS HUGEINT)"
        "*4294967296 + CAST(('0x'||substring(md5(t),9,8)) AS BIGINT)"
    )
    bal_terms = " + ".join(
        f"(CASE WHEN 2*len(list_filter(hu, h -> (h // {1 << b}) % 2 = 1)) - len(hu) > 0"
        f" THEN CAST('{1 << b}' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)"
        for b in range(64)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS ts
      FROM documents
    ),
    hs AS (
      SELECT id, list_transform(ts, t -> {uh}) AS hu FROM toks
    ),
    packed AS (
      SELECT id, {bal_terms} AS sim_u FROM hs
    ),
    sh AS (
      SELECT id,
             CAST(CASE WHEN sim_u >= CAST('9223372036854775808' AS HUGEINT)
                       THEN sim_u - CAST('18446744073709551616' AS HUGEINT)
                       ELSE sim_u END AS BIGINT) AS sim
      FROM packed
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
    FROM sh a JOIN sh b ON a.id < b.id
    WHERE bit_count(xor(a.sim, b.sim)) <= {max_hamming}
    """


@query("dedup_simhash", oracle=_simhash_oracle_sql(3))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (64-bit token SimHash, Hamming ≤ 3 via
    pigeonhole chunk-banding + exact bit_count verify).  FULLY
    oracle-checked since round 2: md5 token hashes are
    engine-replayable and the chunk join is provably exhaustive at
    distance ≤ 3, so the DuckDB all-pairs Hamming replay is the exact
    same pair set (was rows-only with xxhash64)."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_pairs(d, "doc_id", "text", max_hamming=3, hash_method="md5")


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH sl AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))),
                 6) AS cos_sim
    FROM sl a JOIN sl b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))),
                 6) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.4), EXACT tier over an
    absolutely bounded slice (vec_id < 500): the all-pairs join is
    O(n²) by construction, so since round 4 the exact form is (a)
    registered only over a fixed-size slice whose cost cannot grow
    with the corpus, and (b) guarded inside ``exact_cosine_pairs`` —
    it refuses corpora beyond ``quadratic_cap`` rows unless the caller
    passes ``allow_quadratic=True``.  The unbounded default of the
    one-signature operator (``embedding_near_dup``) is the blocked
    tier benchmarked by ``dedup_embedding_blocked``; this slice exists
    to hash-verify the exact math end to end."""
    e = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup(
        e.filter(F.col("vec_id") < 500), threshold=0.4, method="exact"
    )


# --------------------------------------------------- similarity search

_SIM_ORACLE = """
    WITH sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))),
                   6) AS cosine_sim
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 5
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine_sim DESC, neighbor_id ASC) AS INT) AS rank
      FROM sims
    ) WHERE rank <= 5
"""


@query("sim_topk_bruteforce", oracle=_SIM_ORACLE)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for 5 query vectors: broadcast the
    query side over one corpus pass + per-query window top-k. The
    correct-baseline tier of the ANN operator pair."""
    e = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(e, e.filter(F.col("vec_id") < 5), k=5)


def _lsh_oracle_sql(n_tables: int, n_bits: int, k: int, dim: int = 64) -> str:
    """SQL replay of lsh_topk's ENTIRE pipeline over the same seeded
    hyperplane constants: sign bit = dot(v, plane) >= 0, bucket of
    table t packs bits [t·n_bits, (t+1)·n_bits) with weight 2^i,
    candidates join on (table, bucket), exact cosine (rounded 6 dp,
    ties by neighbor id) re-ranks. 'Approximate' means approximate to
    the true top-k — not nondeterministic: given the planes the
    operator is a pure function, so it hash-checks end to end."""
    from ctgov_ai_etl_spark.operators.similarity import _hyperplanes

    tables = _hyperplanes(n_tables, n_bits, dim)
    rows = ",\n      ".join(
        f"({t}, {1 << i}, [" + ",".join(repr(x) for x in plane) + "])"
        for t, planes in enumerate(tables)
        for i, plane in enumerate(planes)
    )
    qncos = (
        "round(list_dot_product(q.v, n.v)"
        " / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))), 6)"
    )
    return f"""
    WITH planes AS (
      SELECT tbl, w, CAST(pvec AS DOUBLE[]) AS pvec
      FROM (VALUES
      {rows}
      ) p(tbl, w, pvec)
    ),
    corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    buckets AS (
      SELECT e.vec_id, p.tbl,
             sum(CASE WHEN list_dot_product(e.v, p.pvec) >= 0 THEN p.w ELSE 0 END)
               AS bucket
      FROM corpus e CROSS JOIN planes p
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM buckets c
      JOIN buckets q ON c.tbl = q.tbl AND c.bucket = q.bucket
      WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT cand.query_id, cand.neighbor_id, {qncos} AS cosine_sim,
             CAST(row_number() OVER (PARTITION BY cand.query_id
                    ORDER BY {qncos} DESC, cand.neighbor_id ASC) AS INT) AS rank
      FROM cand
      JOIN corpus q ON q.vec_id = cand.query_id
      JOIN corpus n ON n.vec_id = cand.neighbor_id
    ) WHERE rank <= {k}
    """


@query("sim_topk_lsh", oracle=_lsh_oracle_sql(12, 4, 5))
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane LSH (12 tables × 4
    bits — probe count sized to this corpus's weak clustering;
    seed-deterministic hyperplane literals): bucket-join candidate
    generation + exact re-rank. Approximate to the TRUE top-k but a
    pure function of its input given the planes, so the whole pipeline
    (sign bits → bucket pack → candidate join → re-rank) hash-checks
    against a SQL replay; tests measure recall vs brute force."""
    e = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(e, e.filter(F.col("vec_id") < 5), k=5, n_tables=12, n_bits=4)


@query(
    "dedup_components",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ),
    sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON id_a = sa.id
      JOIN sizes sb ON id_b = sb.id
      WHERE round(n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE), 9) >= 0.95
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    reach(id, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
    ),
    comp AS (SELECT id AS doc_id, min(label) AS component FROM reach GROUP BY id),
    csizes AS (SELECT component, count(*) AS csize FROM comp GROUP BY component)
    SELECT doc_id, component, csize FROM comp JOIN csizes USING (component)
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER resolution: exact Jaccard pairs (≥0.95) →
    connected components via iterative min-label propagation → every
    document labeled with its cluster's min doc_id (the deterministic
    canonical keeper) and cluster size. Pairwise near-dup is not
    transitive; this is the step that makes keep-one-per-cluster
    well-defined. Oracle replays the transitive closure with a
    recursive CTE over the same pair set."""
    d = load_table(spark, sf_dir, "documents")
    # spanning=True: CC needs connectivity, not the pair list — the
    # clique-chain + representative-edge subset has the same closure
    # (operator docstring) at linear instead of quadratic edge volume.
    pairs = jaccard_token_pairs(
        d, "doc_id", "text", threshold=0.95, spanning=True
    ).select("id_a", "id_b")
    comp = connected_components(d.select("doc_id"), pairs, id_col="doc_id")
    csizes = comp.groupBy("component").agg(F.count("*").alias("csize"))
    return comp.join(csizes, "component").select("doc_id", "component", "csize")


_COMPONENTS_ORACLE = REGISTRY["dedup_components"].oracle


@query("dedup_components_star", oracle=_COMPONENTS_ORACLE)
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same cluster-resolution contract as ``dedup_components`` but via
    alternating large-star/small-star rounds (Kiveris et al. '14) —
    O(log n) rounds instead of O(diameter), the formulation for
    adversarially deep dup-graphs (chains of pairwise-similar
    revisions).  Identical oracle: the two CC algorithms must agree
    exactly."""
    from ctgov_ai_etl_spark.operators.dedup import connected_components_star

    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_token_pairs(
        d, "doc_id", "text", threshold=0.95, spanning=True
    ).select("id_a", "id_b")
    comp = connected_components_star(d.select("doc_id"), pairs, id_col="doc_id")
    csizes = comp.groupBy("component").agg(F.count("*").alias("csize"))
    return comp.join(csizes, "component").select("doc_id", "component", "csize")


@query(
    "dedup_keep_best",
    oracle=f"""
    WITH base AS ({_COMPONENTS_ORACLE}),
    scored AS (SELECT doc_id, {_SQL_QUALITY} AS quality FROM documents),
    j AS (SELECT b.doc_id, b.component, s.quality
          FROM base b JOIN scored s USING (doc_id))
    SELECT doc_id, component, quality FROM (
      SELECT *, row_number() OVER (PARTITION BY component
                    ORDER BY quality DESC, doc_id ASC) AS rn
      FROM j)
    WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-BEST-per-cluster (new r4): near-dup clusters resolved by
    connected components, but the survivor is the HIGHEST-QUALITY
    member (quality desc, doc_id asc on rounded ties), not the min-id
    — what a real curation pipeline wants when a duplicate clique
    mixes a clean original with mangled re-crawls.  One groupBy
    (min over a (−quality, doc_id) struct — field-wise comparison, no
    window) picks the keeper; singleton docs survive as their own
    cluster.  Oracle = the recursive-CTE components replay joined to
    the shared SQL quality fragment."""
    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_token_pairs(
        d, "doc_id", "text", threshold=0.95, spanning=True
    ).select("id_a", "id_b")
    comp = connected_components(d.select("doc_id"), pairs, id_col="doc_id")
    scored = d.select("doc_id", quality_score(F.col("text")).alias("quality"))
    joined = comp.join(scored, "doc_id")
    best = joined.groupBy("component").agg(
        F.min(
            F.struct((-F.col("quality")).alias("nq"), F.col("doc_id").alias("keep"))
        ).alias("b")
    )
    return (
        joined.join(best, "component")
        .filter(F.col("doc_id") == F.col("b.keep"))
        .select("doc_id", "component", "quality")
    )


@query(
    "split_group_aware",
    oracle=f"""
    WITH base AS ({{components}})
    SELECT doc_id, component,
           CASE WHEN CAST(('0x' || substring(md5(CAST(component AS VARCHAR)), 1, 8))
                          AS BIGINT) % 10000 < 1000
                THEN 'test' ELSE 'train' END AS split
    FROM base
    """.format(components=_COMPONENTS_ORACLE),
)
def split_group_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/test split (operators/splits.py): near-dup
    clusters (exact-Jaccard pairs >= 0.95 -> connected components)
    are assigned to a side as a UNIT — md5 hash bucket of the
    component id, 10%% test — so no near-duplicate of a test document
    can appear in train (the contamination bug a row-level
    df.randomSplit silently commits).  Deterministic and
    engine-reproducible: the oracle recomputes the same closure and
    the same md5 bucket, and the split is a pure function of corpus
    content — stable under repartitioning, re-runs, and corpus
    growth.  Scale: the split adds ZERO shuffles beyond the dedup
    clustering the pipeline already runs (one broadcast-free map-side
    bucket expression)."""
    from ctgov_ai_etl_spark.operators.splits import group_aware_split

    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_token_pairs(
        d, "doc_id", "text", threshold=0.95, spanning=True
    ).select("id_a", "id_b")
    comp = connected_components(d.select("doc_id"), pairs, id_col="doc_id")
    return group_aware_split(
        d.select("doc_id"), comp, "doc_id", test_fraction=0.1
    ).select("doc_id", "component", "split")


_IVF_CENTROIDS = seeded_centroids(k=16, dim=64)
_IVF_NPROBE = 6

# Offline-trained coarse quantizers (spherical k-means on a bounded
# vec_id-ordered sample of the canonical training corpus, pure
# pyarrow+numpy — no SparkSession at import).  Fitted at plan-AUTHORING
# time, so the centroids are literal constants shared verbatim by the
# Spark plans and the SQL oracles — "train small once, serve big" with
# the same replayability as the seeded quantizer.  The block count
# follows the √n rule for the bench corpus (√5000 ≈ 70 → 64): seeded
# k=8 left ~√(Σ block²) ≈ 300-row blocks at sf0.1;
# trained k=64 subdivides the fixture's 10 natural clusters into
# balanced cells (measured max block 47 vs 293 at sf0.1).
_QUANT_TRAIN_PARQUET = "/root/testdata/sf0.01/embeddings.parquet"
try:
    _BLOCK_CENTROIDS = fit_centroids_offline(_QUANT_TRAIN_PARQUET, k=64)
    _IVF_TRAINED_CENTROIDS = fit_centroids_offline(_QUANT_TRAIN_PARQUET, k=16)
except (FileNotFoundError, OSError) as _e:
    # Canonical corpus absent: degrade to seeded constants.  Narrowed
    # from a bare Exception so a transient/partial parquet read error
    # surfaces instead of silently changing trained-IVF recall.
    import warnings

    warnings.warn(
        f"trained centroids falling back to seeded grids "
        f"({_QUANT_TRAIN_PARQUET} unavailable: {_e})"
    )
    _BLOCK_CENTROIDS = seeded_centroids(k=64, dim=64)
    _IVF_TRAINED_CENTROIDS = seeded_centroids(k=16, dim=64, seed=7331)


def _blocked_pairs_oracle_sql(centroids: list[list[float]], threshold: float) -> str:
    """SQL replay of blocked_cosine_pairs: same centroid constants,
    same round-before-argmax assignment, pairs within a block, exact
    cosine verify."""
    rows = ",\n      ".join(
        f"({cid}, [" + ",".join(repr(x) for x in c) + "])"
        for cid, c in enumerate(centroids)
    )
    ccos = (
        "round(list_dot_product(e.v, c.cvec)"
        " / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cvec, c.cvec))), 6)"
    )
    abcos = (
        "round(list_dot_product(x.v, y.v)"
        " / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6)"
    )
    return f"""
    WITH cents AS (
      SELECT cid, CAST(cvec AS DOUBLE[]) AS cvec
      FROM (VALUES
      {rows}
      ) c(cid, cvec)
    ),
    corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ranked AS (
      SELECT e.vec_id, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {ccos} DESC, c.cid ASC) AS rn
      FROM corpus e CROSS JOIN cents c
    ),
    asg AS (SELECT vec_id, cid FROM ranked WHERE rn = 1)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {abcos} AS cos_sim
    FROM asg a
    JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
    JOIN corpus x ON x.vec_id = a.vec_id
    JOIN corpus y ON y.vec_id = b.vec_id
    WHERE {abcos} >= {threshold}
    """


@query(
    "dedup_embedding_blocked",
    oracle=_blocked_pairs_oracle_sql(_BLOCK_CENTROIDS, 0.3),
)
def dedup_embedding_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, the DEFAULT tier of the
    ``embedding_near_dup`` signature: centroid blocking bounds the
    pair join to Σ block² instead of n² — the semantic-dedup analog of
    MinHash banding; exact cosine (≥0.3, norms precomputed per vector)
    verifies within blocks.  The quantizer is the offline-TRAINED
    64-centroid spherical k-means (see ``_BLOCK_CENTROIDS``), whose
    balanced cells keep every block square small; the full blocked
    pipeline — trained constants included — is SQL-replayed by the
    oracle."""
    e = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup(e, threshold=0.3, centroids=_BLOCK_CENTROIDS)


@query(
    "dedup_semantic_prune",
    oracle=semantic_prune_oracle_sql(_BLOCK_CENTROIDS, 0.3),
)
def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup corpus pruning (Abbas et al. 2023,
    operators/similarity.py:semantic_prune): cluster the embeddings
    with the offline-trained 64-centroid quantizer, find within-block
    near-dup pairs (cos >= 0.3), and of each pair KEEP the example
    farther from its centroid -- returning the retained corpus
    (vec_id, cid, centroid_sim), i.e. the semantic-dedup step a
    training-data pipeline runs between embedding and mixing.

    Distinct from ``dedup_embedding_blocked`` (which REPORTS the pair
    graph): this applies the published keep policy and emits the kept
    set.  Same Σ block² candidate bound, plus one corpus anti-join
    against the dominated ids; assignment and policy are deterministic
    given the trained constants, so cluster -> pair -> prune replays
    end-to-end in the SQL oracle."""
    e = load_table(spark, sf_dir, "embeddings")
    return semantic_prune(e, _BLOCK_CENTROIDS, threshold=0.3)


def _semantic_incremental_oracle() -> str:
    from ctgov_ai_etl_spark.operators.similarity import (
        semantic_incremental_oracle_sql,
    )

    return semantic_incremental_oracle_sql(_BLOCK_CENTROIDS, 0.3, 8000)


@query("dedup_semantic_incremental", oracle=_semantic_incremental_oracle())
def dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SEMANTIC admission — the embedding-tier twin of
    ``dedup_incremental``: the corpus is already semantically deduped;
    each new batch (the 20% md5-bucket slice standing in for a fresh
    delivery) is checked against the EXISTING corpus within centroid
    blocks and only semantically novel vectors admitted
    (operators/similarity.py:semantic_incremental_dedup).  Cross-side
    work is ONE equi-join on cluster id with the batch side broadcast;
    the store is probed in place.  Deterministic given the trained
    quantizer, so the oracle replays assignment, candidate membership,
    and the min-id dup target exactly."""
    from ctgov_ai_etl_spark.operators.limits import hash_bucket
    from ctgov_ai_etl_spark.operators.similarity import (
        semantic_incremental_dedup,
    )

    e = load_table(spark, sf_dir, "embeddings")
    existing = e.filter(hash_bucket(F.col("vec_id")) < 8000)
    incoming = e.filter(hash_bucket(F.col("vec_id")) >= 8000)
    return semantic_incremental_dedup(
        existing, incoming, _BLOCK_CENTROIDS, threshold=0.3
    )


def _semantic_groups_oracle_sql(
    centroids: list[list[float]], threshold: float
) -> str:
    """Recursive-CTE replay of dedup_semantic_groups: blocked pairs
    (same trained centroid constants as semantic_prune_oracle_sql) →
    transitive closure → min-label components → keep the per-group
    (centroid_sim, id)-minimum."""
    rows = ",\n      ".join(
        f"({cid}, [" + ",".join(repr(x) for x in c) + "])"
        for cid, c in enumerate(centroids)
    )
    ccos = (
        "round(list_dot_product(e.v, c.cvec)"
        " / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cvec, c.cvec))), 6)"
    )
    abcos = (
        "round(list_dot_product(x.v, y.v)"
        " / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6)"
    )
    return f"""
    WITH RECURSIVE cents AS (
      SELECT cid, CAST(cvec AS DOUBLE[]) AS cvec
      FROM (VALUES
      {rows}
      ) c(cid, cvec)
    ),
    corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ranked AS (
      SELECT e.vec_id, c.cid, {ccos} AS s,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {ccos} DESC, c.cid ASC) AS rn
      FROM corpus e CROSS JOIN cents c
    ),
    asg AS (SELECT vec_id, cid, s AS centroid_sim FROM ranked WHERE rn = 1),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM asg a
      JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN corpus x ON x.vec_id = a.vec_id
      JOIN corpus y ON y.vec_id = b.vec_id
      WHERE {abcos} >= {threshold}
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    reach(id, label) AS (
      SELECT vec_id, vec_id FROM corpus
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
    ),
    comp AS (SELECT id AS vec_id, min(label) AS component FROM reach GROUP BY id),
    j AS (SELECT c.vec_id, c.component, a.centroid_sim
          FROM comp c JOIN asg a USING (vec_id)),
    g AS (
      SELECT vec_id, component, centroid_sim,
             CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS gsize,
             row_number() OVER (PARTITION BY component
                                ORDER BY centroid_sim ASC, vec_id ASC) AS rn
      FROM j
    )
    SELECT vec_id, component, gsize, rn = 1 AS keep FROM g
    """


@query(
    "dedup_semantic_groups",
    oracle=_semantic_groups_oracle_sql(_BLOCK_CENTROIDS, 0.3),
)
def dedup_semantic_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-exact SemDeDup: where ``dedup_semantic_prune`` applies
    the keep policy pairwise, this resolves the within-block near-dup
    pair graph into duplicate GROUPS via connected components
    (operators/dedup.py) and keeps exactly one example per group —
    the (centroid_sim, id)-minimum, the paper's farthest-from-centroid
    pick made total.  Returns every vector with its group, group size,
    and keep flag (keep count == group count by construction).

    The composition story: blocked pair generation (Σ block²), the
    O(log n)-round label propagation, and the keeper policy are the
    SAME primitives the text-side dedup chain uses — one engine, both
    modalities.  Oracle replays the closure with a recursive CTE over
    the identical pair set."""
    e = load_table(spark, sf_dir, "embeddings")
    from ctgov_ai_etl_spark.operators.similarity import (
        blocked_cosine_pairs,
        centroid_assign_with_sim,
    )

    asg = centroid_assign_with_sim(e, _BLOCK_CENTROIDS)
    pairs = blocked_cosine_pairs(e, _BLOCK_CENTROIDS, threshold=0.3).select(
        "id_a", "id_b"
    )
    comp = connected_components(e.select("vec_id"), pairs, id_col="vec_id")
    j = comp.join(asg.withColumnRenamed("id", "vec_id"), "vec_id")
    per_group = j.groupBy("component").agg(
        F.min(F.struct("centroid_sim", "vec_id")).alias("best"),
        F.count("*").alias("gsize"),
    )
    return (
        j.join(per_group, "component")
        .select(
            "vec_id",
            "component",
            "gsize",
            (F.col("vec_id") == F.col("best.vec_id")).alias("keep"),
        )
    )


@query(
    "dedup_sorted_neighborhood",
    oracle=sorted_neighborhood_oracle_sql(window=5, threshold=0.8),
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-Neighborhood near-dup pairs (Hernández & Stolfo '95,
    operators/dedup.py:sorted_neighborhood_pairs): sort by a 4-token
    blocking key, compare each row to its 5 successors, verify with
    exact token-set Jaccard ≥ 0.8 (the corpus shares one vocabulary,
    so lower cuts are vacuous — see the distribution note in the
    test).  The skew-proof counterpart to
    LSH banding — candidate volume is O(n·w) by construction — with
    the distributed rank (no single-reducer window) and the
    w-neighbor range join expressed as two floor(pos/w)-bucket
    equi-joins."""
    from ctgov_ai_etl_spark.operators.dedup import sorted_neighborhood_pairs

    d = load_table(spark, sf_dir, "documents")
    return sorted_neighborhood_pairs(d, window=5, threshold=0.8)


@query(
    "dedup_snm_multipass",
    oracle=f"""
    SELECT DISTINCT id_a, id_b, jaccard FROM (
      ({sorted_neighborhood_oracle_sql(window=5, threshold=0.8)})
      UNION ALL
      ({sorted_neighborhood_oracle_sql(window=5, threshold=0.8, reverse_key=True)})
    )
    """,
)
def dedup_snm_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass sorted-neighborhood (the standard SNM recall fix):
    pass 1 sorts by the FIRST 4 tokens, pass 2 by the LAST 4, and the
    union of their w-window pair sets is deduped — duplicates whose
    difference sits in the document head (invisible to the forward
    key) are recovered by the rotated key.  Each pass keeps the
    O(n·w) candidate bound; total cost is exactly two passes, the
    classic recall/cost dial.  Recall ⊇ either single pass by
    construction (asserted in test)."""
    from ctgov_ai_etl_spark.operators.dedup import sorted_neighborhood_pairs

    d = load_table(spark, sf_dir, "documents")
    fwd = sorted_neighborhood_pairs(d, window=5, threshold=0.8)
    rev = sorted_neighborhood_pairs(d, window=5, threshold=0.8, reverse_key=True)
    return fwd.unionByName(rev).dropDuplicates(["id_a", "id_b"])


def _ivf_oracle_sql(centroids: list[list[float]], nprobe: int, k: int) -> str:
    """SQL replay of ivf_topk over the SAME centroid constants: both
    sides round cluster similarities to 6 dp before the argmax/probe
    ranking and break ties on lowest cluster id, so assignment, probe
    set, candidates, and re-rank all match exactly."""
    rows = ",\n      ".join(
        f"({cid}, [" + ",".join(repr(x) for x in c) + "])"
        for cid, c in enumerate(centroids)
    )
    ccos = (
        "round(list_dot_product(e.v, c.cvec)"
        " / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cvec, c.cvec))), 6)"
    )
    qncos = (
        "round(list_dot_product(q.v, n.v)"
        " / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))), 6)"
    )
    return f"""
    WITH cents AS (
      SELECT cid, CAST(cvec AS DOUBLE[]) AS cvec
      FROM (VALUES
      {rows}
      ) c(cid, cvec)
    ),
    corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ranked AS (
      SELECT e.vec_id, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {ccos} DESC, c.cid ASC) AS rn
      FROM corpus e CROSS JOIN cents c
    ),
    asg AS (SELECT vec_id, cid FROM ranked WHERE rn = 1),
    probes AS (SELECT vec_id AS query_id, cid FROM ranked
               WHERE rn <= {nprobe} AND vec_id < 5),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN asg a USING (cid)
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT cand.query_id, cand.neighbor_id, {qncos} AS cosine_sim,
             CAST(row_number() OVER (PARTITION BY cand.query_id
                    ORDER BY {qncos} DESC, cand.neighbor_id ASC) AS INT) AS rank
      FROM cand
      JOIN corpus q ON q.vec_id = cand.query_id
      JOIN corpus n ON n.vec_id = cand.neighbor_id
    ) WHERE rank <= {k}
    """


@query("sim_topk_ivf", oracle=_ivf_oracle_sql(_IVF_CENTROIDS, _IVF_NPROBE, 5))
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via IVF: map-side max-cosine assignment to 16
    seeded centroids, 6-cluster probes per query, exact re-rank — one
    narrow shuffle on cluster id.  The centroids are deterministic
    constants, so the full pipeline (assignment → probe → candidates →
    re-rank) is hash-checked against a SQL replay; ivf_fit_centroids
    supplies trained centroids for real deployments (recall test in
    tests/test_semantic.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        e,
        e.filter(F.col("vec_id") < 5),
        centroids=_IVF_CENTROIDS,
        k=5,
        nprobe=_IVF_NPROBE,
    )


@query(
    "sim_topk_ivf_partitioned",
    oracle=_ivf_oracle_sql(_IVF_CENTROIDS, _IVF_NPROBE, 5),
)
def sim_topk_ivf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF where the inverted file is PERSISTED partitioned by cluster
    id: the probe set becomes a PartitionFilter on the read-back, so
    the candidate scan touches only nprobe/16 of the stored bytes —
    the 100 TB serving layout SCALE.md's IVF row describes (write the
    assignment once, amortize across query batches).  Same centroids,
    rounding, and tie rules as sim_topk_ivf, so the identical SQL
    oracle hash-checks it."""
    e = load_table(spark, sf_dir, "embeddings")
    return ivf_topk_partitioned(
        e,
        e.filter(F.col("vec_id") < 5),
        centroids=_IVF_CENTROIDS,
        k=5,
        nprobe=_IVF_NPROBE,
    )


@query(
    "sim_topk_ivf_trained",
    oracle=_ivf_oracle_sql(_IVF_TRAINED_CENTROIDS, _IVF_NPROBE, 5),
)
def sim_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 with a TRAINED coarse quantizer: the 16 centroids are
    spherical-k-means cells fitted offline on the canonical corpus
    sample (``fit_centroids_offline``), not data-independent Gaussian
    draws — cells follow the data's 10 natural clusters, so the same
    nprobe buys strictly better recall (asserted ≥ the seeded variant
    in tests/test_semantic.py).  Because training happens at
    plan-authoring time the fitted centroids are literals in both the
    Spark plan and this oracle: the trained pipeline hash-checks end
    to end exactly like the seeded one."""
    e = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        e,
        e.filter(F.col("vec_id") < 5),
        centroids=_IVF_TRAINED_CENTROIDS,
        k=5,
        nprobe=_IVF_NPROBE,
    )


@query(
    "agg_approx_top_k",
    oracle="""
    SELECT tok, CAST(cnt AS BIGINT) AS cnt, true AS sketch_exact FROM (
      SELECT tok, count(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
      ORDER BY cnt DESC, tok ASC
      LIMIT 10
    )
    """,
)
def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the approx_top_k sketch (SPACE-bounded
    frequent-items tracking — the 100 TB shape for 'top URLs/tokens/
    entities' where an exact groupBy's key space won't fit).  Sketch
    output has no stable SQL mirror, so the hash-checked contract is
    the agg_approx_quantile pattern: exact deterministic top-10
    (count desc, token asc) joined against the sketch's counts, with
    a boolean asserting the sketch agreed exactly — guaranteed here
    because maxItemsTracked (10000) exceeds the corpus vocabulary, a
    fixture-verified property, so the sketch is operating in its
    exact regime."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens(F.col("text"))).alias("tok"))
    exact = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(10)
    )
    sketch = toks.select(
        F.expr("approx_top_k(tok, 100, 10000)").alias("top")
    ).select(F.explode("top").alias("e")).select(
        F.col("e.item").alias("tok"), F.col("e.count").alias("sk_cnt")
    )
    return (
        exact.join(sketch, "tok", "left")
        .select(
            "tok",
            "cnt",
            F.coalesce(F.col("sk_cnt") == F.col("cnt"), F.lit(False)).alias(
                "sketch_exact"
            ),
        )
    )


_BPE_PRETOKEN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"


@query(
    "text_token_bpe",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_ws,
           CAST(len(regexp_extract_all(text, '{_BPE_PRETOKEN}')) AS INT) AS n_bpe
    FROM documents
    """,
)
def text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, both tiers the brief names: whitespace tokens
    and a BPE-style pretokenizer count (GPT-2-shaped alternation —
    letter runs / digit runs / punctuation runs with leading-space
    attachment — restricted to RE2-safe syntax so Spark's Java regex
    and DuckDB's RE2 count identically; no lookahead).  The pretoken
    count is the budgeting proxy for subword tokenizers: sequence
    packing and cost caps need it BEFORE any real tokenizer runs."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_ws"),
        F.size(
            F.expr(f"regexp_extract_all(text, '{_BPE_PRETOKEN}', 0)")
        ).alias("n_bpe"),
    )


# ------------------------------------------------------- PII redaction

def _pii_oracle() -> str:
    """DuckDB oracle generated from the same ``PII_PATTERNS`` table the
    Spark expressions use (functions/pii.py keeps patterns inside the
    Java-regex ∩ RE2 common syntax so both engines match identically)."""
    from ctgov_ai_etl_spark.functions.pii import PII_PATTERNS

    pats = {kind: pat for kind, pat, _ in PII_PATTERNS}
    red = "s"
    for _, pat, tag in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{tag}', 'g')"
    return f"""
    WITH synth AS (
      SELECT source,
             text
             || CASE WHEN doc_id % 7 = 0
                     THEN ' contact ' || source || '@example.com' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' call +1-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                          || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.0.' || CAST(doc_id % 100 AS VARCHAR)
                     ELSE '' END
             AS s
      FROM documents
    ),
    scored AS (
      SELECT source, s,
             len(regexp_extract_all(s, '{pats["email"]}')) AS n_email,
             len(regexp_extract_all(s, '{pats["phone"]}')) AS n_phone,
             len(regexp_extract_all(s, '{pats["ipv4"]}')) AS n_ipv4,
             {red} AS red
      FROM synth
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_email) AS BIGINT) AS sum_email,
           CAST(sum(n_phone) AS BIGINT) AS sum_phone,
           CAST(sum(n_ipv4) AS BIGINT) AS sum_ip,
           CAST(sum(CASE WHEN red <> s THEN 1 ELSE 0 END) AS BIGINT) AS n_redacted,
           min(md5(red)) AS redact_probe
    FROM scored
    GROUP BY source
    """


@query("text_pii_redact", oracle=_pii_oracle())
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over the documents corpus (curation
    pass the reference lacks; see functions/pii.py).  The synthetic
    corpus has no PII, so the query deterministically injects
    emails/phones/IPs derived from (doc_id, source) — identically on
    both engines — then counts and redacts with pure built-in regexp
    expressions: map-side, codegen'd, UDF-free; the only shuffle is
    the final per-source partial agg on ~20 groups.  ``min(md5(red))``
    probes the redacted TEXT cross-engine, not just the counts."""
    from ctgov_ai_etl_spark.functions.pii import pii_counts, pii_redact

    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    synth = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" contact "), F.col("source"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" call +1-"),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 13 == 0,
            F.concat(
                F.lit(" from 10."),
                (did % 256).cast("string"),
                F.lit(".0."),
                (did % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    counts = pii_counts(synth)
    scored = d.select(
        "source",
        synth.alias("s"),
        pii_redact(synth).alias("red"),
        *[c.alias(f"n_{k}") for k, c in counts.items()],
    )
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_email").cast("long").alias("sum_email"),
        F.sum("n_phone").cast("long").alias("sum_phone"),
        F.sum("n_ipv4").cast("long").alias("sum_ip"),
        F.sum(F.when(F.col("red") != F.col("s"), 1).otherwise(0))
        .cast("long")
        .alias("n_redacted"),
        F.min(F.md5(F.col("red"))).alias("redact_probe"),
    )


# ------------------------------------------ decontamination / mixing

@query(
    "decontam_ngram",
    oracle="""
    WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS l
                  FROM documents),
    sh AS (
      SELECT doc_id, source,
             unnest(list_transform(range(1, len(l) - 6),
                                   i -> array_to_string(list_slice(l, i, i + 7), ' ')))
               AS s
      FROM toks WHERE len(l) >= 8
    ),
    bench AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
    train AS (SELECT doc_id, s FROM sh WHERE source <> 'src0')
    SELECT doc_id, CAST(count(DISTINCT t.s) AS INT) AS n_hits
    FROM train t JOIN bench b USING (s)
    GROUP BY doc_id
    """,
)
def decontam_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py): flag every
    training document (source != src0) sharing an 8-token shingle
    with the held-out benchmark slice (source = src0).  The benchmark
    shingle set is BROADCAST — eval sets are tiny next to a 100 TB
    corpus — so the contamination probe is map-side over the exploded
    training shingles and only true matches reach the one per-doc
    aggregation shuffle.  Anti-join on the result = the clean corpus."""
    from ctgov_ai_etl_spark.operators.decontam import flag_contaminated

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("source") == "src0")
    train = d.filter(F.col("source") != "src0")
    return flag_contaminated(train, bench, id_col="doc_id", text_col="text", n=8)


@query(
    "text_perplexity_proxy",
    oracle="""
    WITH tf AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    vocab AS (SELECT tok, count(*) AS cnt FROM tf GROUP BY 1),
    t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vocab),
    lp AS (
      SELECT tok,
             CAST(round(ln(cnt / (SELECT total FROM t)) * 1000000) AS BIGINT) AS u
      FROM vocab
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
           CAST(CAST(((sum(u)) - ((((sum(u)) % CAST((count(*)) AS BIGINT)) + CAST((count(*)) AS BIGINT)) % CAST((count(*)) AS BIGINT))) // CAST((count(*)) AS BIGINT) AS BIGINT) AS DOUBLE) / 1000000 AS avg_logprob
    FROM tf JOIN lp USING (tok)
    GROUP BY doc_id
    """,
)
def text_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality scoring (the CCNet/Wenzek et al. 2020
    signal, with the corpus's own unigram LM standing in for the
    external KenLM): per-document mean token log-probability — low
    scores mark gibberish / boilerplate for filtering.  Train-small/
    score-big: the unigram table is ONE vocabulary-sized aggregate,
    broadcast back; scoring is a map-side probe plus a per-doc
    aggregate.  Token log-probs are fixed to integer MICRO-UNITS
    before the per-doc sum, so the aggregation is exact integer
    arithmetic — order-independent under any partitioning, replayable
    by the oracle (the raw double sum would be neither).

    Known residual risk: the micro-unit fix removes ORDER dependence
    but not cross-engine TRANSCENDENTAL divergence — Spark's
    java.lang.Math.log and DuckDB's libm log may differ by 1 ulp, and
    a log-prob landing within that ulp of a .5 micro-unit boundary
    would round to different integers and fail the bit-exact hash.
    Acceptable at 6-dp granularity (no observed flips over this
    vocabulary); a fully replayable variant would derive log-probs
    from the exact integer (cnt, total) pairs via a shared rational
    approximation, or compare avg_logprob with a small tolerance
    instead of hashing."""
    d = load_table(spark, sf_dir, "documents")
    tf = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    vocab = tf.groupBy("tok").agg(F.count("*").alias("cnt"))
    # The corpus token total rides a 1-row broadcast cross join (the
    # pattern used by mixture_fractions above) instead of a driver
    # collect: one lazy plan, no extra job barrier, and the vocab
    # aggregate is shared with the log-prob pass via ReusedExchange.
    total = F.broadcast(
        vocab.agg(F.sum("cnt").cast("double").alias("__total"))
    )
    lp = vocab.crossJoin(total).select(
        "tok",
        F.round(F.log(F.col("cnt") / F.col("__total")) * 1_000_000)
        .cast("long")
        .alias("u"),
    )
    return (
        tf.join(F.broadcast(lp), "tok")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_toks"), F.sum("u").alias("su"))
        .select(
            "doc_id",
            "n_toks",
            # floor-div micro average (half-micro-tie-proof; see
            # operators/quality.py:bigram_lm_score)
            (fdiv(F.col("su"), F.col("n_toks")).cast("double")
             / 1_000_000).alias("avg_logprob"),
        )
    )


@query(
    "lm_bigram_score",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(l)),
                                   i -> l[i] || ' ' || l[i + 1])) AS bg
      FROM t WHERE len(l) >= 2
    ),
    cb AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1),
    cw AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1
           FROM cb GROUP BY 1),
    v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab
          FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
    lp AS (
      SELECT cb.bg,
             CAST(round(ln((c2 + 1) / CAST(c1 + (SELECT vocab FROM v) AS DOUBLE))
                        * 1000000) AS BIGINT) AS u
      FROM cb JOIN cw ON split_part(cb.bg, ' ', 1) = cw.w1
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(CAST(((sum(u)) - ((((sum(u)) % CAST((count(*)) AS BIGINT)) + CAST((count(*)) AS BIGINT)) % CAST((count(*)) AS BIGINT))) // CAST((count(*)) AS BIGINT) AS BIGINT) AS DOUBLE) / 1000000 AS avg_logprob
    FROM bg JOIN lp USING (bg)
    GROUP BY doc_id
    """,
)
def lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based bigram language model, trained on the corpus and
    scored back over it — the KenLM-shaped half of the CCNet quality
    signal that ``text_perplexity_proxy`` approximates with unigrams:
    per-document mean conditional log-probability ln P(w₂|w₁) under
    add-one smoothing, P = (c(w₁w₂)+1)/(c_ctx(w₁)+V).

    Train-small/score-big at 100 TB: bigram extraction is map-side
    (zip the token array with its own tail — no posexplode self-join),
    the model is TWO aggregates (bigram counts; context counts =
    re-aggregation of the already-tiny bigram table, not a second
    corpus pass), V is one driver scalar, and scoring is a broadcast
    probe of the log-prob table plus one per-doc aggregate.  Token
    log-probs fix to integer micro-units before the per-doc sum
    (order-independent, oracle-replayable); same 1-ulp transcendental
    caveat as text_perplexity_proxy, acceptable at 6 dp."""
    from ctgov_ai_etl_spark.operators.quality import bigram_lm_score

    d = load_table(spark, sf_dir, "documents")
    return bigram_lm_score(d, id_col="doc_id", text_col="text")


def _boilerplate_oracle() -> str:
    from ctgov_ai_etl_spark.operators.quality import boilerplate_oracle_sql

    return boilerplate_oracle_sql(min_docs=3)


@query("text_boilerplate_lines", oracle=_boilerplate_oracle())
def text_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate line removal (the CCNet/RefinedWeb
    stage, operators/quality.py:remove_boilerplate_lines): lines
    occurring in ≥ 3 distinct documents are stripped everywhere,
    surviving lines keep their order.  One line-frequency aggregate;
    the removal is a map-side higher-order filter against the one-row
    broadcast boilerplate array — documents never explode or shuffle.
    (This corpus is single-line word-soup, so 'lines' here are whole
    texts — exact-duplicate bodies get blanked; the multi-line
    behavior is pinned by the hand-built test.)"""
    from ctgov_ai_etl_spark.operators.quality import remove_boilerplate_lines

    d = load_table(spark, sf_dir, "documents")
    return remove_boilerplate_lines(d, id_col="doc_id", text_col="text")


@query(
    "text_hash_embedding",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    v AS (
      SELECT doc_id,
             list_transform(range(0, 64), i ->
               CAST(list_sum(list_transform(l, tk ->
                 CASE WHEN CAST(('0x' || substring(md5(tk), 1, 8)) AS BIGINT) % 64 = i
                      THEN CASE WHEN CAST(('0x' || substring(md5(tk), 9, 1)) AS BIGINT) % 2 = 0
                                THEN 1 ELSE -1 END
                      ELSE 0 END)) AS BIGINT)) AS vec
      FROM t
    )
    SELECT doc_id, CAST(d.i AS INT) AS dim, vec[d.i + 1] AS value
    FROM v CROSS JOIN range(0, 64) d(i)
    """,
)
def text_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed document embeddings (functions/text.py:
    hash_embedding — the Weinberger '09 hashing trick): every token
    adds ±1 (md5-derived bucket and sign) to one of 64 coordinates,
    giving each document an exact integer vector with NO external
    embedding model — the internal text→vector path that feeds the
    embedding tier (SemDeDup / ANN / JL) on corpora that arrive
    without vectors.  Pure map-side fold, zero shuffles; emitted in
    the long (doc, dim, value) format shared with
    ``embed_random_projection`` so the integer coordinates
    hash-check exactly."""
    from ctgov_ai_etl_spark.operators.limits import spread_to_parallelism

    dim = 64
    d = spread_to_parallelism(load_table(spark, sf_dir, "documents"))
    # Aggregation formulation of functions/text.hash_embedding (the
    # column fold is right for embedding ONE column mid-pipeline; for
    # a corpus-sized materialization the explode → partial-agg shape
    # hashes each token ONCE instead of once per dim): md5 bucket and
    # sign per token, sum per (doc, bucket), then complete the dense
    # (doc, dim) grid with zeros map-side.
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    h = F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long")
    sgn = F.when(
        F.conv(F.substring(F.md5("t"), 9, 1), 16, 10).cast("long") % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    sums = (
        tok.select("doc_id", (h % dim).cast("int").alias("dim"), sgn.alias("s"))
        .groupBy("doc_id", "dim")
        .agg(F.sum("s").cast("long").alias("value"))
    )
    grid = d.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(dim - 1))).alias("dim")
    ).select("doc_id", F.col("dim").cast("int").alias("dim"))
    return grid.join(sums, ["doc_id", "dim"], "left").select(
        "doc_id", "dim", F.coalesce("value", F.lit(0).cast("long")).alias("value")
    )


def _curate_semantic_oracle() -> str:
    from ctgov_ai_etl_spark.operators.quality import (
        LINEAR_QUALITY_ORACLE_SQL,
        boilerplate_oracle_sql,
    )
    from ctgov_ai_etl_spark.operators.similarity import (
        semantic_prune_oracle_sql,
    )

    lm = REGISTRY["lm_bigram_score"].oracle
    return f"""
    SELECT d.doc_id, d.lang, lm.avg_logprob, sem.cid, sem.centroid_sim
    FROM documents d
    JOIN (SELECT * FROM ({boilerplate_oracle_sql(min_docs=3)}) t) bl
      ON bl.doc_id = d.doc_id AND bl.clean_text <> ''
    JOIN (SELECT * FROM ({LINEAR_QUALITY_ORACLE_SQL}) t) lin
      ON lin.doc_id = d.doc_id AND lin.keep
    JOIN (SELECT * FROM ({lm}) t) lm
      ON lm.doc_id = d.doc_id AND lm.avg_logprob >= -10.0
    JOIN (SELECT * FROM ({semantic_prune_oracle_sql(_BLOCK_CENTROIDS, 0.3)}) t) sem
      ON sem.vec_id = d.doc_id
    """


@query("pipeline_curate_semantic", oracle=_curate_semantic_oracle())
def pipeline_curate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODAL curation pipeline — the round-6 capstone chaining
    the new text- and embedding-tier operators end to end: drop
    pure-boilerplate documents (corpus-level line removal), gate on
    the linear quality classifier (keep flag) and the bigram-LM score
    (mean conditional log-prob ≥ −10), then SEMANTIC-prune survivors
    through the embedding tier (SemDeDup retained set, joined on the
    aligned doc/vec id).  Output: curated (doc_id, lang, avg_logprob,
    cid, centroid_sim).

    Shuffle inventory at scale: the boilerplate line agg + one-row
    broadcast filter, the zero-shuffle classifier, the LM's two
    vocabulary-sized aggregates + broadcast probe + per-doc agg, the
    SemDeDup block-pair join + anti-join, and four id-keyed joins the
    optimizer turns into one exchange lineage on doc_id.  Every
    fragment is the already-oracle-checked operator; the composite
    replays their SQL verbatim as nested subqueries."""
    from ctgov_ai_etl_spark.operators.quality import (
        bigram_lm_score,
        linear_quality_score,
        remove_boilerplate_lines,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    bl = remove_boilerplate_lines(d).filter(F.col("clean_text") != "").select(
        "doc_id"
    )
    lin = linear_quality_score(d).filter(F.col("keep")).select("doc_id")
    lm = bigram_lm_score(d).filter(F.col("avg_logprob") >= -10.0).select(
        "doc_id", "avg_logprob"
    )
    sem = semantic_prune(e, _BLOCK_CENTROIDS, threshold=0.3).select(
        F.col("vec_id").alias("doc_id"), "cid", "centroid_sim"
    )
    return (
        d.select("doc_id", "lang")
        .join(bl, "doc_id")
        .join(lin, "doc_id")
        .join(lm, "doc_id")
        .join(sem, "doc_id")
        .select("doc_id", "lang", "avg_logprob", "cid", "centroid_sim")
    )


def _linear_quality_oracle() -> str:
    from ctgov_ai_etl_spark.operators.quality import LINEAR_QUALITY_ORACLE_SQL

    return LINEAR_QUALITY_ORACLE_SQL


@query("quality_linear_score", oracle=_linear_quality_oracle())
def quality_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shaped linear quality-classifier inference
    (operators/quality.py:linear_quality_score): unigram+bigram
    hashed features fold into an exact integer logit per document,
    mean logit thresholds the keep flag.  ZERO-shuffle — the whole
    model runs as per-row codegen'd expressions at scan speed (the
    md5-derived weights stand where a trained model's broadcast
    weight table would sit, same cost shape)."""
    from ctgov_ai_etl_spark.operators.quality import linear_quality_score

    d = load_table(spark, sf_dir, "documents")
    return linear_quality_score(d, id_col="doc_id", text_col="text")


_GOPHER_STOP_SQL = "['the','be','to','of','and','that','have','with']"


@query(
    "text_gopher_rules",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len(l) AS INT) AS n_words,
             round(CAST(list_sum(list_transform(l, x -> length(x))) AS DOUBLE)
                   / len(l), 6) AS mean_word_len,
             round(CAST(len(list_filter(l, x -> regexp_matches(x, '[A-Za-z]')))
                        AS DOUBLE) / len(l), 6) AS alpha_frac,
             CAST(len(list_intersect(list_distinct(l), {_GOPHER_STOP_SQL}))
                  AS INT) AS n_stop
      FROM t
    )
    SELECT doc_id, n_words, mean_word_len, alpha_frac, n_stop,
           (n_words BETWEEN 50 AND 100000
            AND mean_word_len BETWEEN 3.0 AND 10.0
            AND alpha_frac >= 0.8
            AND n_stop >= 2) AS gopher_pass
    FROM m
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-filter heuristics (Rae et al. 2021 App. A1.1):
    word count, mean word length, alphabetic-word fraction, stop-word
    presence, and the conjunctive pass flag — one map-side projection
    of built-in HOFs (operators/quality.py), no shuffle, no UDF; the
    100 TB corpus filters at scan speed.  Ratios are integer-count
    rational arithmetic, so the SQL replay hash-matches exactly."""
    from ctgov_ai_etl_spark.operators.quality import gopher_quality

    return gopher_quality(load_table(spark, sf_dir, "documents"))


@query(
    "dedup_substring_spans",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    sh0 AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(l) - 14),
                    i -> array_to_string(list_slice(l, i, i + 15), ' '))) AS s
      FROM toks WHERE len(l) >= 16
    ),
    sh AS (SELECT DISTINCT doc_id, md5(s) AS h FROM sh0),
    multi AS (SELECT h FROM sh GROUP BY h HAVING count(*) >= 2)
    SELECT doc_id, CAST(count(*) AS INT) AS n_dup_spans
    FROM sh JOIN multi USING (h)
    GROUP BY doc_id
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed approximation of suffix-array substring dedup (Lee
    et al. 2021): every 16-token span occurring verbatim in >=2
    documents, counted per owning doc.  Spans hash to md5 BEFORE any
    shuffle (16-byte keys, engine-replayable); intra-doc repeats
    collapse in the map-side-combined distinct; the cardinality join
    reuses the hash partitioning of the count.  Anti-join = the
    span-deduplicated corpus (operators/quality.py)."""
    from ctgov_ai_etl_spark.operators.quality import repeated_spans

    return repeated_spans(load_table(spark, sf_dir, "documents"), n=16)


@query(
    "shuffle_training_order",
    oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (
                  ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id)
                AS BIGINT) AS pos
    FROM documents
    """,
)
def shuffle_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global training-order shuffle: position = rank
    under an md5 keyed by (id, seed) — any engine, any partitioning,
    any run re-derives the identical epoch order (the data-loader
    contract for resumable training).  Ranking is the distributed
    global_rank (range-partition -> local rank -> broadcast offsets),
    NEVER a single-reducer window; the oracle replays the
    whole-corpus row_number to prove the parallel form exact."""
    from ctgov_ai_etl_spark.operators.limits import global_rank

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    hashed = d.withColumn(
        "__h", F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":42")))
    )
    ranked = global_rank(hashed, ["__h", "doc_id"])
    return ranked.select("doc_id", F.col("__pos").cast("long").alias("pos"))


@query(
    "curriculum_order",
    oracle=f"""
    WITH scored AS (SELECT doc_id, {_SQL_QUALITY} AS q FROM documents),
    n AS (SELECT count(*) AS n FROM scored),
    ranked AS (SELECT doc_id, q,
                      row_number() OVER (ORDER BY q, doc_id) AS r FROM scored),
    dec AS (SELECT doc_id,
                   CAST(((r - 1) * 10) // (SELECT n FROM n) AS INT) AS decile
            FROM ranked)
    SELECT doc_id, decile,
           CAST(row_number() OVER (
                  ORDER BY -decile,
                           md5(CAST(doc_id AS VARCHAR) || ':17'), doc_id)
                AS BIGINT) AS pos
    FROM dec
    """,
)
def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order: exact quality DECILES (distributed
    rank → ``((r−1)·10) div n`` — integer arithmetic, no
    approximation), then the epoch order starts at the cleanest
    decile and md5-shuffles within each (seeded, so any engine and
    any partitioning re-derive the identical order — the resumable
    data-loader contract, same as ``shuffle_training_order``).  Both
    ranks are the parallel global_rank (range partition + broadcast
    offsets), never a single-reducer window; the count rides along
    free with the first rank."""
    from ctgov_ai_etl_spark.operators.limits import (
        global_rank,
        global_rank_with_count,
    )

    from ctgov_ai_etl_spark.operators.limits import spread_to_parallelism

    d = spread_to_parallelism(load_table(spark, sf_dir, "documents"))
    scored = d.select("doc_id", quality_score(F.col("text")).alias("q"))
    ranked, n = global_rank_with_count(scored, ["q", "doc_id"])
    dec = ranked.select(
        "doc_id",
        F.expr(f"cast(((__pos - 1) * 10) div {n} as int)").alias("decile"),
    )
    hashed = dec.select(
        "doc_id",
        "decile",
        (-F.col("decile")).alias("__nd"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":17"))).alias("__h"),
    )
    pos = global_rank(hashed, ["__nd", "__h", "doc_id"])
    return pos.select("doc_id", "decile", F.col("__pos").cast("long").alias("pos"))


_TEMP_LANGS = ["de", "en", "es", "fr", "zh"]  # fixed summation order
_TEMP_SQRTS = " + ".join(
    f"sqrt((SELECT CAST(count(*) AS DOUBLE) FROM documents WHERE lang = '{s}'))"
    for s in _TEMP_LANGS
)


@query(
    "sample_temperature",
    oracle=f"""
    WITH n AS (SELECT lang, count(*) AS n_s FROM documents GROUP BY lang),
    tot AS (SELECT count(*) // 2 AS out_n FROM documents),
    denom AS (SELECT {_TEMP_SQRTS} AS d),
    rates AS (
      SELECT lang, n_s,
             sqrt(CAST(n_s AS DOUBLE)) / (SELECT d FROM denom) AS w,
             least(1.0, (sqrt(CAST(n_s AS DOUBLE)) / (SELECT d FROM denom))
                          * (SELECT out_n FROM tot) / n_s) AS rate
      FROM n WHERE lang IN ({", ".join(f"'{s}'" for s in _TEMP_LANGS)})
    ),
    sampled AS (
      SELECT d.lang
      FROM documents d JOIN rates r USING (lang)
      WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 10000 < r.rate * 10000
    )
    SELECT r.lang, CAST(r.n_s AS BIGINT) AS n_in,
           CAST(coalesce(o.n_out, 0) AS BIGINT) AS n_out,
           round(r.w, 9) AS weight, round(r.rate, 9) AS rate
    FROM rates r
    LEFT JOIN (SELECT lang, count(*) AS n_out FROM sampled GROUP BY lang) o
      USING (lang)
    """,
)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (α = 0.5 — the XLM-R/mT5
    rebalancing rule, operators/limits.temperature_weights): target
    weights derive from the corpus itself, w_s = √n_s / Σ √n, so tail
    languages upsample without a hand-written mixture; then the same
    deterministic md5-bucket stratified filter as ``sample_mixture``
    resamples to half the corpus.  √ is IEEE-correctly-rounded in
    every engine and the denominator sums in a FIXED stratum order,
    so even the double-precision rates replay bit-for-bit in the
    oracle.  Output is the per-stratum audit (in/out/weight/rate)."""
    from ctgov_ai_etl_spark.operators.limits import (
        mixture_fractions,
        stratified_sample,
        temperature_weights,
    )

    d = load_table(spark, sf_dir, "documents")
    total = d.count()  # bounded driver scalar
    w = temperature_weights(d, "lang", _TEMP_LANGS, alpha=0.5)
    fracs = mixture_fractions(d, "lang", w, total // 2)
    samp = stratified_sample(d, "lang", fracs, "doc_id")
    n_in = d.groupBy("lang").agg(F.count("*").alias("n_in"))
    n_out = samp.groupBy("lang").agg(F.count("*").alias("n_out"))
    aux = spark.createDataFrame(
        [(s, float(w[s]), float(fracs[s])) for s in w],
        "lang string, w_raw double, rate_raw double",
    )
    return (
        n_in.join(n_out, "lang", "left")
        .join(F.broadcast(aux), "lang", "inner")
        .select(
            "lang",
            F.col("n_in").cast("long").alias("n_in"),
            F.coalesce("n_out", F.lit(0)).cast("long").alias("n_out"),
            F.round("w_raw", 9).alias("weight"),
            F.round("rate_raw", 9).alias("rate"),
        )
    )


_MIX_WEIGHTS = {"en": 0.4, "de": 0.25, "es": 0.2, "fr": 0.1, "zh": 0.05}
_MIX_CASE = " ".join(
    f"WHEN '{s}' THEN {w}" for s, w in _MIX_WEIGHTS.items()
)
_MIX_LANGS = ", ".join(f"'{s}'" for s in _MIX_WEIGHTS)


@query(
    "sample_mixture",
    oracle=f"""
    WITH n AS (SELECT lang, count(*) AS n_s FROM documents GROUP BY lang),
    tot AS (SELECT count(*) // 2 AS out_n FROM documents),
    rates AS (
      SELECT lang, n_s,
             least(1.0, (CASE lang {_MIX_CASE} ELSE 0.0 END)
                          * (SELECT out_n FROM tot) / n_s) AS rate
      FROM n WHERE lang IN ({_MIX_LANGS})
    ),
    sampled AS (
      SELECT d.lang
      FROM documents d JOIN rates r USING (lang)
      WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 10000 < r.rate * 10000
    )
    SELECT r.lang, CAST(r.n_s AS BIGINT) AS n_in,
           CAST(coalesce(o.n_out, 0) AS BIGINT) AS n_out,
           round(r.rate, 9) AS rate
    FROM rates r
    LEFT JOIN (SELECT lang, count(*) AS n_out FROM sampled GROUP BY lang) o
      USING (lang)
    """,
)
def sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing sampler (operators/limits.mixture_sample):
    resample the corpus toward a target language mixture at half the
    corpus size.  rate_s = min(1, w_s·out/n_s) from one tiny count
    agg; the sampling filter itself is the map-side md5 bucket —
    deterministic across engines, clusters, and partitionings, which
    is what makes this oracle (and a reproducible training corpus)
    possible.  Output is the per-stratum audit (in/out/rate)."""
    from ctgov_ai_etl_spark.operators.limits import (
        mixture_fractions,
        stratified_sample,
    )

    d = load_table(spark, sf_dir, "documents")
    total = d.count()  # bounded driver scalar, same convention as BM25 n_docs
    fracs = mixture_fractions(d, "lang", _MIX_WEIGHTS, total // 2)
    samp = stratified_sample(d, "lang", fracs, "doc_id")
    n_in = d.groupBy("lang").agg(F.count("*").alias("n_in"))
    n_out = samp.groupBy("lang").agg(F.count("*").alias("n_out"))
    rates = spark.createDataFrame(
        [(s, float(r)) for s, r in fracs.items()], "lang string, rate_raw double"
    )
    return (
        n_in.join(n_out, "lang", "left")
        .join(F.broadcast(rates), "lang", "inner")
        .select(
            "lang",
            F.col("n_in").cast("long").alias("n_in"),
            F.coalesce("n_out", F.lit(0)).cast("long").alias("n_out"),
            F.round("rate_raw", 9).alias("rate"),
        )
    )


@query(
    "text_repetition",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    b AS (SELECT doc_id, l,
                 CASE WHEN len(l) >= 2
                      THEN list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])
                      ELSE [] END AS bg
          FROM t),
    s AS (SELECT doc_id,
                 CAST(len(l) AS INT) AS n_tokens,
                 round(list_max(list_transform(list_distinct(l),
                                               tk -> len(list_filter(l, x -> x = tk))))
                         / CAST(len(l) AS DOUBLE), 9) AS top_tok_ratio,
                 round(CASE WHEN len(bg) > 0
                            THEN 1.0 - len(list_distinct(bg)) / CAST(len(bg) AS DOUBLE)
                            ELSE 0.0 END, 9) AS dup_bigram_frac
          FROM b)
    SELECT doc_id, n_tokens, top_tok_ratio, dup_bigram_frac,
           CAST(top_tok_ratio <= 0.2 AND dup_bigram_frac <= 0.5 AS INT) AS keep
    FROM s
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: per-document most-frequent-token
    share and duplicate-bigram fraction, plus the keep/drop decision at
    (0.2, 0.5) thresholds.  Pure HOF expressions over one materialized
    token array — map-side, no explode, no shuffle; the thresholds are
    compared on the ROUNDED columns so both engines decide from
    identical doubles."""
    from ctgov_ai_etl_spark.functions.text import (
        dup_bigram_frac,
        top_token_ratio,
    )

    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", tokens(F.col("text")).alias("l"))
    scored = base.select(
        "doc_id",
        F.size("l").cast("int").alias("n_tokens"),
        F.round(top_token_ratio(F.col("l")), 9).alias("top_tok_ratio"),
        F.round(dup_bigram_frac(F.col("l")), 9).alias("dup_bigram_frac"),
    )
    keep = (F.col("top_tok_ratio") <= 0.2) & (F.col("dup_bigram_frac") <= 0.5)
    return scored.withColumn("keep", keep.cast("int"))


@query(
    "sim_text_cosine_sparse",
    oracle="""
    WITH tf AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tfc AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM tf GROUP BY 1, 2),
    dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
    w AS (
      SELECT doc_id, tok,
             tf * CAST(round(ln((SELECT n_docs FROM n) / df) * 1000) AS BIGINT) AS w
      FROM tfc JOIN dfreq USING (tok)
      WHERE df BETWEEN 2 AND 100
    ),
    norms AS (SELECT doc_id, sqrt(CAST(sum(w * w) AS DOUBLE)) AS nrm
              FROM w GROUP BY 1),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(sum(a.w * b.w) AS BIGINT) AS dot
      FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 6) AS cos_sim
    FROM dots
    JOIN norms na ON id_a = na.doc_id
    JOIN norms nb ON id_b = nb.doc_id
    WHERE dot / (na.nrm * nb.nrm) >= 0.6
    """,
)
def sim_text_cosine_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine document similarity via an INVERTED-INDEX
    join — the lexical twin of the dense embedding near-dup chain:
    no vectors are materialized; the dot product is the token-keyed
    self-join Σ w_a·w_b, which is the textbook sparse-vector
    formulation (one shuffle on the token key).  The scale lever is
    the document-frequency band (2 ≤ df ≤ 100): hapax tokens can't
    contribute to any pair and stopwords would make the index join
    explode on Σ df² — pruning both bounds the join exactly like a
    prefix filter, and the oracle applies the same band.

    Determinism: idf is fixed to integer MILLI-units
    (round(ln(N/df)·1000) — the perplexity query's transcendental
    contract), weights and dot products are exact int64, norms are
    IEEE sqrt of exact sums (correctly rounded, so bit-identical
    across engines), and the output cosine rounds at 6 dp."""
    d = load_table(spark, sf_dir, "documents")
    tf = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    tfc = tf.groupBy("doc_id", "tok").agg(F.count("*").cast("long").alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = F.broadcast(d.agg(F.count("*").cast("double").alias("__n")))
    idf_milli = (
        F.round(F.log(F.col("__n") / F.col("df")) * 1000).cast("long")
    )
    w = (
        tfc.join(
            F.broadcast(
                dfreq.filter(F.col("df").between(2, 100)).crossJoin(n_docs)
            ),
            "tok",
        )
        .select("doc_id", "tok", (F.col("tf") * idf_milli).alias("w"))
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("nrm")
    )
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.sum(F.col("a.w") * F.col("b.w")).cast("long").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("nrm").alias("nb"))
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .filter(cos >= 0.6)
        .select("id_a", "id_b", F.round(cos, 6).alias("cos_sim"))
    )


@query(
    "dedup_chunks_global",
    oracle="""
    WITH chunks AS (
      SELECT doc_id, CAST(i AS INT) AS chunk_id,
             array_to_string(list_slice(toks, i*8 + 1, i*8 + 8), ' ') AS chunk
      FROM (
        SELECT doc_id, toks,
               unnest(range(0, greatest(CAST(ceil(len(toks) / 8.0) AS BIGINT), 1)))
                 AS i
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      )
    ),
    flagged AS (
      SELECT doc_id, chunk_id, chunk,
             CASE WHEN row_number() OVER (PARTITION BY md5(chunk)
                                          ORDER BY doc_id, chunk_id) = 1
                  THEN 1 ELSE 0 END AS kept
      FROM chunks
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           coalesce(string_agg(CASE WHEN kept = 1 THEN chunk END, ' '
                               ORDER BY chunk_id), '') AS text_kept
    FROM flagged GROUP BY doc_id
    """,
)
def dedup_chunks_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-WIDE chunk dedup (operators/dedup.py chunk_dedup_global):
    8-token non-overlapping chunks, first corpus occurrence (by
    doc_id, chunk_id) keeps its claim, documents reassemble from the
    surviving chunks — the C4/RefinedWeb recipe that removes CROSS-
    document boilerplate (headers, license blocks) document-level
    dedup cannot see; typically the largest single token reduction in
    a web corpus.  Two shuffles at any scale: one window over the
    chunk hash (groups = duplicate multiplicity), one groupBy doc."""
    from ctgov_ai_etl_spark.operators.dedup import chunk_dedup_global

    d = load_table(spark, sf_dir, "documents")
    return chunk_dedup_global(d, "doc_id", "text", chunk_size=8)


_CMS_DEPTH, _CMS_WIDTH = 3, 16
_CMS_HASH = (
    "CAST(CAST(('0x' || substring(md5(CAST(s.seed AS VARCHAR) || ':' || {item}),"
    " 1, 15)) AS BIGINT) % 16 AS INT)"
)


@query(
    "sketch_cms_freq",
    oracle=f"""
    WITH occ AS (
      SELECT unnest(string_split(text, ' ')) AS item FROM documents
    ),
    seeds AS (SELECT unnest(range(0, 3)) AS seed),
    cells AS (
      SELECT s.seed, {_CMS_HASH.format(item='o.item')} AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM occ o, seeds s
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT item, CAST(count(*) AS BIGINT) AS exact FROM occ GROUP BY item
    ),
    probes AS (
      SELECT e.item, s.seed, {_CMS_HASH.format(item='e.item')} AS bucket
      FROM exact e, seeds s
    )
    SELECT e.item, e.exact, est.est
    FROM exact e JOIN (
      SELECT p.item, min(coalesce(c.cnt, 0)) AS est
      FROM probes p LEFT JOIN cells c USING (seed, bucket)
      GROUP BY p.item
    ) est USING (item)
    """,
)
def sketch_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN sketch frequency estimation (operators/sketches.py):
    a 3x16 counter grid over the corpus token stream, probed for every
    vocabulary item against its exact count.  Width 16 << vocabulary
    forces collisions, so the demo exercises the estimator (min over
    rows), not a perfect hash; CMS guarantees est >= exact always.
    The md5 hash is engine-portable, so the oracle replays the
    ESTIMATES bit-for-bit — a stronger contract than the bound-only
    HLL checks.  Scale: the build shuffles depth x width = 48 cells
    regardless of corpus size (partial agg does the rest map-side),
    and per-shard grids merge by cell-wise sum — the keep-a-sketch-
    per-day, answer-any-range pattern."""
    from ctgov_ai_etl_spark.operators.sketches import cms_build, cms_estimate

    d = load_table(spark, sf_dir, "documents")
    # Single-space split: the repo-wide tokenization contract (matches
    # every string_split(text, ' ') oracle; \s+ would diverge on tabs
    # or consecutive spaces — advisor r8).
    occ = d.select(F.explode(F.split("text", " ")).alias("item"))
    sketch = cms_build(occ, "item", _CMS_DEPTH, _CMS_WIDTH)
    exact = occ.groupBy("item").agg(F.count("*").cast("long").alias("exact"))
    est = cms_estimate(
        sketch, exact.select("item"), "item", _CMS_DEPTH, _CMS_WIDTH
    )
    return exact.join(est, "item").select("item", "exact", "est")


_KMV_K = 64
_KMV_H = (
    "CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)"
)


@query(
    "sketch_kmv_intersect",
    oracle=f"""
    WITH ska AS (
      SELECT DISTINCT {_KMV_H} AS h FROM events WHERE event_type = 'click'
      ORDER BY h LIMIT {_KMV_K}
    ),
    skb AS (
      SELECT DISTINCT {_KMV_H} AS h FROM events WHERE event_type = 'view'
      ORDER BY h LIMIT {_KMV_K}
    ),
    u AS (
      SELECT DISTINCT h FROM (SELECT h FROM ska UNION ALL SELECT h FROM skb)
      ORDER BY h LIMIT {_KMV_K}
    ),
    th AS (
      SELECT CAST(max(h) AS DOUBLE) / 1152921504606846976.0 AS theta,
             CAST(count(*) AS BIGINT) AS k_eff
      FROM u
    ),
    nb AS (
      SELECT CAST(count(*) AS BIGINT) AS n_both FROM u
      WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)
    ),
    est AS (
      SELECT th.k_eff, nb.n_both,
             CASE WHEN th.k_eff < {_KMV_K} THEN CAST(th.k_eff AS DOUBLE)
                  ELSE CAST(th.k_eff - 1 AS DOUBLE) / th.theta END AS eu
      FROM th, nb
    ),
    ex AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_union
      FROM events WHERE event_type IN ('click', 'view')
    ),
    ei AS (
      SELECT CAST(count(*) AS BIGINT) AS exact_inter FROM (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
        INTERSECT
        SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
      )
    )
    SELECT est.k_eff, round(est.eu, 6) AS est_union, est.n_both,
           round(CAST(est.n_both AS DOUBLE) / est.k_eff * est.eu, 6)
             AS est_inter,
           ex.exact_union, ei.exact_inter
    FROM est, ex, ei
    """,
)
def sketch_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / THETA sketch set algebra (operators/sketches.py): the 64
    smallest md5-hash values of the click-users and view-users key
    sets estimate the UNION cardinality ((K-1)/theta) and — the
    operation HLL cannot do — the INTERSECTION (union-sketch members
    present in both sides, scaled by the union estimate).  Portable
    hashes mean the oracle replays the estimates exactly, alongside
    the exact union/intersection for judging the error.  Scale: each
    sketch is a distinct -> TakeOrderedAndProject(K) — partitions
    forward at most K candidates — and sketches persist per shard and
    merge at query time (the K smallest of the concatenation)."""
    from ctgov_ai_etl_spark.operators.sketches import (
        kmv_sketch,
        kmv_union_intersection,
    )

    e = load_table(spark, sf_dir, "events")
    ska = kmv_sketch(
        e.filter(F.col("event_type") == "click").select("user_id"),
        "user_id",
        _KMV_K,
    )
    skb = kmv_sketch(
        e.filter(F.col("event_type") == "view").select("user_id"),
        "user_id",
        _KMV_K,
    )
    est = kmv_union_intersection(ska, skb, _KMV_K)
    exact_u = (
        e.filter(F.col("event_type").isin("click", "view"))
        .agg(F.countDistinct("user_id").alias("exact_union"))
    )
    exact_i = (
        e.filter(F.col("event_type") == "click")
        .select("user_id")
        .distinct()
        .intersect(
            e.filter(F.col("event_type") == "view").select("user_id").distinct()
        )
        .agg(F.count("*").cast("long").alias("exact_inter"))
    )
    return est.crossJoin(exact_u).crossJoin(exact_i)


@query(
    "sample_negatives_ring",
    oracle="""
    WITH ranked AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS pos,
             count(*) OVER () AS n
      FROM documents
    )
    SELECT a.doc_id AS anchor_id, CAST(js.j AS INT) AS j,
           b.doc_id AS negative_id
    FROM ranked a
    CROSS JOIN (VALUES (1), (2), (3)) AS js(j)
    JOIN ranked b
      ON b.pos = ((a.pos - 1 + js.j * (a.n // 4)) % a.n) + 1
    WHERE b.doc_id <> a.doc_id
    """,
)
def sample_negatives_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC random-negative mining for contrastive training:
    each anchor document pairs with k=3 pseudo-random negatives — the
    documents sitting 1/4, 2/4, 3/4 of the way around a ring ordered
    by md5(doc_id).  The hash order is content-random (no locality:
    adjacent doc_ids land far apart) yet fully reproducible by any
    engine, unlike df.sample's partition-seeded RNG; every anchor
    gets exactly k negatives, and stride-j offsets mean negatives are
    shared across anchors only N/4 apart — no hot rows.

    Scale: the ring position comes from global_rank_with_count over
    the unique (hash, doc_id) key — the bounded driver tier below its
    cap, the range-partitioned distributed rank above it.  Negatives
    resolve via an equi-join on the ring position (one shuffle, k rows
    per anchor).  The oracle's row_number window replays the same
    order on one thread."""
    from ctgov_ai_etl_spark.operators.limits import global_rank_with_count

    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("__h")
    )
    ranked, n = global_rank_with_count(keyed, ["__h", "doc_id"])
    ranked = ranked.select("doc_id", F.col("__pos").alias("pos"))
    stride = n // 4
    js = F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j")
    anchors = ranked.select(
        F.col("doc_id").alias("anchor_id"), F.col("pos").alias("apos")
    ).select("anchor_id", "apos", js)
    neg_pos = ((F.col("apos") - 1 + F.col("j") * stride) % n) + 1
    negs = ranked.select(
        F.col("doc_id").alias("negative_id"), F.col("pos").alias("npos")
    )
    return (
        anchors.withColumn("npos", neg_pos)
        .join(negs, "npos")
        .filter(F.col("negative_id") != F.col("anchor_id"))
        .select("anchor_id", F.col("j").cast("int").alias("j"), "negative_id")
    )


@query(
    "pipeline_curate_chunks",
    oracle="""
    WITH chunks AS (
      SELECT doc_id, CAST(i AS INT) AS chunk_id,
             array_to_string(list_slice(toks, i*8 + 1, i*8 + 8), ' ') AS chunk
      FROM (
        SELECT doc_id, toks,
               unnest(range(0, greatest(CAST(ceil(len(toks) / 8.0) AS BIGINT), 1)))
                 AS i
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      )
    ),
    flagged AS (
      SELECT doc_id, chunk_id, chunk,
             CASE WHEN row_number() OVER (PARTITION BY md5(chunk)
                                          ORDER BY doc_id, chunk_id) = 1
                  THEN 1 ELSE 0 END AS kept
      FROM chunks
    ),
    rebuilt AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(kept) AS BIGINT) AS n_kept,
             coalesce(string_agg(CASE WHEN kept = 1 THEN chunk END, ' '
                                 ORDER BY chunk_id), '') AS text_kept
      FROM flagged GROUP BY doc_id
    ),
    survivors AS (
      SELECT r.doc_id, d.source,
             CAST(len(string_split(r.text_kept, ' ')) AS BIGINT) AS n_tok
      FROM rebuilt r JOIN documents d USING (doc_id)
      WHERE r.n_kept * 2 >= r.n_chunks AND r.n_kept > 0
    )
    SELECT doc_id, source, n_tok,
           CAST(floor((cum - n_tok) / 512.0) AS INT) AS seq_id
    FROM (
      SELECT doc_id, source, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum
      FROM survivors
    )
    """,
)
def pipeline_curate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END chunk-level curation — the C4-style recipe as one
    pipeline: corpus-wide chunk dedup (first claim wins) → drop
    documents that lost HALF or more of their chunks to cross-doc
    boilerplate (or kept nothing) → re-tokenize the surviving text →
    pack into 512-token training sequences per source.  Composition
    of chunk_dedup_global + the pack-sequences window, and the oracle
    is literally the two fragment oracles composed.  Scale: chunk
    dedup's two shuffles + one broadcast-ready doc-id join + one
    window per source partition — no new shuffle classes appear when
    stages compose."""
    from ctgov_ai_etl_spark.operators.dedup import chunk_dedup_global
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    rebuilt = chunk_dedup_global(d, "doc_id", "text", chunk_size=8)
    survivors = (
        rebuilt.join(d.select("doc_id", "source"), "doc_id")
        .filter(
            (F.col("n_kept") * 2 >= F.col("n_chunks")) & (F.col("n_kept") > 0)
        )
        .select(
            "doc_id",
            "source",
            F.size(F.split("text_kept", r"\s+")).cast("long").alias("n_tok"),
        )
    )
    w = W.partitionBy("source").orderBy("doc_id")
    cum = F.sum("n_tok").over(w)
    return survivors.select(
        "doc_id",
        "source",
        "n_tok",
        F.floor((cum - F.col("n_tok")) / 512.0).cast("int").alias("seq_id"),
    )


# ------------------------------------------------- wave-10: BPE training step


@query(
    "text_bpe_merge_rank",
    oracle="""
    WITH words AS (
      SELECT word, CAST(count(*) AS BIGINT) AS wf
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE length(word) >= 2
      GROUP BY word
    ),
    pairs AS (
      SELECT unnest(list_transform(generate_series(1, length(word) - 1),
                                   i -> substring(word, i, 2))) AS pair,
             wf
      FROM words
    ),
    freq AS (
      SELECT pair, CAST(sum(wf) AS BIGINT) AS freq FROM pairs GROUP BY pair
    )
    SELECT pair, freq,
           CAST(row_number() OVER (ORDER BY freq DESC, pair) AS INT) AS rk
    FROM freq
    QUALIFY rk <= 20
    """,
)
def text_bpe_merge_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training merge-selection round, distributed: count every
    adjacent symbol pair (character bigram at step 0) weighted by word
    frequency across the corpus, and rank the top 20 merge candidates
    — rank 1 is the pair a BPE trainer would merge next.  Iterating
    this (re-tokenize with the merged symbol, re-count) IS tokenizer
    training; one round is the exactly-verifiable unit.

    Scale story: the corpus collapses to the distinct-WORD frame
    first (Zipf: orders of magnitude smaller than the token stream),
    pair generation is a map-side array HOF over that compressed
    frame, and pair frequencies partially aggregate.  The ranking
    window runs over the aggregated pair table — bounded by the
    symbol-alphabet square, a few thousand rows regardless of corpus
    size — so the single-partition sort is over KB, never the data.
    Tokenization is the repo-wide single-space contract
    (functions/text.py); ties break on the pair string so the rank
    is total and engine-stable."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wf"))
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "wf",
    )
    freq = pairs.groupBy("pair").agg(F.sum("wf").cast("long").alias("freq"))
    rk = F.row_number().over(W.orderBy(F.desc("freq"), F.asc("pair")))
    return (
        freq.withColumn("rk", rk.cast("int"))
        .filter(F.col("rk") <= 20)
        .select("pair", "freq", "rk")
    )


@query(
    "pipeline_web_corpus",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, source, text,
             (CASE doc_id % 3 WHEN 0 THEN 'http://' WHEN 1 THEN 'https://'
                              ELSE 'HTTPS://' END)
             || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
             || source || '.Example.COM/a/B/'
             || CAST(doc_id % 7 AS VARCHAR)
             || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 4 = 0
                      THEN '?utm_source=feed&ref=rss' ELSE '' END)
               AS url
      FROM documents
    ),
    scored AS (
      SELECT doc_id, source, text,
             regexp_replace(
               regexp_replace(
                 lower(regexp_replace(url, '^[A-Za-z]+://', '')),
                 '^www\\.', ''),
               '(/$|\\?.*$)', '') AS canonical_url,
             {_SQL_QUALITY} AS quality,
             len(string_split(text, ' ')) AS n_tok
      FROM raw
    ),
    keepers AS (
      SELECT canonical_url, min(doc_id) AS doc_id
      FROM scored GROUP BY canonical_url
    ),
    gated AS (
      SELECT s.doc_id, s.source, s.canonical_url, s.n_tok
      FROM scored s
      JOIN keepers k ON s.canonical_url = k.canonical_url
                    AND s.doc_id = k.doc_id
      WHERE s.quality >= 0.5
    )
    SELECT doc_id, source, canonical_url, CAST(n_tok AS INT) AS n_tok,
           CAST(floor((cum - n_tok) / 512.0) AS INT) AS seq_id
    FROM (
      SELECT *, sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum
      FROM gated
    )
    """,
)
def pipeline_web_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END web-corpus recipe — the crawl-to-training-rows
    composition: URL canonicalization + frontier dedup (min-doc_id
    keeper per canonical URL) → quality gate (≥ 0.5) → 512-token
    sequence packing per source.  Every stage is a catalog fragment
    (text_url_canonicalize, the pipeline_curate quality gate,
    text_pack_sequences) and the oracle composes those fragments
    verbatim — the pipeline is the proof the operators compose.

    Scale story: URL synthesis/canonicalization and scoring are
    map-side codegen; the pipeline shuffles exactly twice (canonical-
    URL keeper agg + re-join, then the per-source packing window) —
    at 100 TB that is scan → exchange → exchange, with the quality
    filter applied before the second exchange so packing sees only
    survivors."""
    from ctgov_ai_etl_spark.functions.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    scheme = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("http://"))
        .when(F.col("doc_id") % 3 == 1, F.lit("https://"))
        .otherwise(F.lit("HTTPS://"))
    )
    url = F.concat(
        scheme,
        F.when(F.col("doc_id") % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".Example.COM/a/B/"),
        (F.col("doc_id") % 7).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.lit("?utm_source=feed&ref=rss"))
        .otherwise(F.lit("")),
    )
    canonical = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_replace(url, "^[A-Za-z]+://", "")),
            r"^www\.",
            "",
        ),
        r"(/$|\?.*$)",
        "",
    )
    # persist = optimizer barrier + branch reuse (the pipeline_curate
    # lesson: filter pushdown would inline the scoring trees)
    scored = track(
        d.select(
            "doc_id",
            "source",
            canonical.alias("canonical_url"),
            quality_score(F.col("text")).alias("quality"),
            F.size(F.split("text", " ")).alias("n_tok"),
        ).persist()
    )
    keepers = scored.groupBy("canonical_url").agg(
        F.min("doc_id").alias("doc_id")
    )
    gated = scored.join(keepers, ["canonical_url", "doc_id"]).filter(
        F.col("quality") >= 0.5
    )
    from pyspark.sql import Window as W

    cum = F.sum("n_tok").over(W.partitionBy("source").orderBy("doc_id"))
    return gated.select(
        "doc_id",
        "source",
        "canonical_url",
        F.col("n_tok").cast("int").alias("n_tok"),
        F.floor((cum - F.col("n_tok")) / 512.0).cast("int").alias("seq_id"),
    )


@query(
    "text_html_extract",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             '<html><head><title>' || source || '</title>'
             || '<script>var x=' || CAST(doc_id AS VARCHAR)
             || ';</script><style>.c{color:red}</style></head>'
             || '<body><h1>' || upper(source) || '</h1><p>'
             || substring(text, 1, 120)
             || '</p><!-- crawler: drop --><div class="f">footer'
             || '</div></body></html>' AS html
      FROM documents
    ),
    stripped AS (
      SELECT doc_id,
             trim(regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(html,
                       '(?s)<script.*?</script>', '', 'g'),
                     '(?s)<style.*?</style>', '', 'g'),
                   '(?s)<!--.*?-->', '', 'g'),
                 '<[^>]*>', ' ', 'g'),
               '\\s+', ' ', 'g')) AS extracted
      FROM raw
    )
    SELECT doc_id,
           CAST(length(extracted) AS INT) AS n_chars,
           md5(extracted) AS extract_md5
    FROM stripped
    """,
)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML text extraction — the step between the crawl and every
    text operator in this catalog: drop script/style blocks and
    comments (dot-all non-greedy), replace remaining tags with
    spaces, collapse whitespace, trim.  The fixture carries no HTML,
    so both engines wrap each document in the SAME deterministic
    page skeleton (title/script/style/h1/comment/footer) — the
    extraction chain, not the corpus, is under test, and the md5 of
    the extracted text pins every character of the result.

    Scale story: pure map-side regexp codegen, zero shuffle — the
    boilerplate strip distributes embarrassingly, exactly like the
    multimodal codec stages."""
    d = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>"),
        F.col("source"),
        F.lit("</title><script>var x="),
        F.col("doc_id").cast("string"),
        F.lit(";</script><style>.c{color:red}</style></head><body><h1>"),
        F.upper(F.col("source")),
        F.lit("</h1><p>"),
        F.substring(F.col("text"), 1, 120),
        F.lit('</p><!-- crawler: drop --><div class="f">footer'),
        F.lit("</div></body></html>"),
    )
    extracted = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.regexp_replace(
                            html, r"(?s)<script.*?</script>", ""
                        ),
                        r"(?s)<style.*?</style>",
                        "",
                    ),
                    r"(?s)<!--.*?-->",
                    "",
                ),
                r"<[^>]*>",
                " ",
            ),
            r"\s+",
            " ",
        )
    )
    return d.select(
        "doc_id",
        F.length(extracted).cast("int").alias("n_chars"),
        F.md5(extracted).alias("extract_md5"),
    )


@query(
    "maintenance_compact_binpack",
    oracle="""
    WITH groups AS (
      SELECT source, lang, CAST(sum(n_chars) AS BIGINT) AS sz
      FROM documents GROUP BY source, lang
    ),
    ordered AS (
      SELECT source, lang, sz,
             sum(sz) OVER (ORDER BY sz DESC, source, lang) AS cum
      FROM groups
    ),
    binned AS (
      SELECT CAST(((cum - sz) - ((((cum - sz) % CAST((40000) AS BIGINT)) + CAST((40000) AS BIGINT)) % CAST((40000) AS BIGINT))) // CAST((40000) AS BIGINT) AS BIGINT) AS bin_id, sz FROM ordered
    )
    SELECT CAST(bin_id AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(sz) AS BIGINT) AS bytes,
           CAST(((CAST(sum(sz) AS BIGINT) * 1000000) - ((((CAST(sum(sz) AS BIGINT) * 1000000) % CAST((40000) AS BIGINT)) + CAST((40000) AS BIGINT)) % CAST((40000) AS BIGINT))) // CAST((40000) AS BIGINT) AS BIGINT) AS fill_ppm
    FROM binned
    GROUP BY bin_id
    """,
)
def maintenance_compact_binpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction PLANNING — the sizing math maintenance_compact_files
    executes: pack per-(source, lang) document groups into ~40 KB
    target output files by next-fit over the size-descending order
    (the deterministic streaming approximation of first-fit-
    decreasing every table-maintenance service actually ships), and
    report each planned file's group count, byte total, and exact
    fill ratio in ppm.

    Exactness: bin assignment is fdiv(cumsum - size, target) — pure
    integer arithmetic over an exact int64 running sum with a total
    (size DESC, source, lang) order, so the plan is bit-identical on
    any engine.  Scale story: the group frame is |sources × langs|
    (hundreds at 100 TB — file-level metadata, not data), so the
    single-partition planning window is bounded by the catalog, not
    the corpus; the partial-aggregated group rollup is the only
    data-scale pass."""
    from pyspark.sql import Window as W

    from ctgov_ai_etl_spark.functions.exact import fdiv

    d = load_table(spark, sf_dir, "documents")
    groups = d.groupBy("source", "lang").agg(
        F.sum("n_chars").cast("long").alias("sz")
    )
    cum = F.sum("sz").over(
        W.orderBy(F.desc("sz"), "source", "lang").rowsBetween(
            W.unboundedPreceding, W.currentRow
        )
    )
    binned = groups.select(
        fdiv(cum - F.col("sz"), 40_000).alias("bin_id"), "sz"
    )
    return binned.groupBy("bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("sz").cast("long").alias("bytes"),
        fdiv(F.sum("sz").cast("long") * 1_000_000, 40_000).alias("fill_ppm"),
    )


# ------------------------------------------- RAKE keyword extraction


_RAKE_STOPS = ("the", "a", "and", "of", "to", "in", "is", "for", "with", "on")
_RAKE_TOPK = 15


@query(
    "text_rake_keywords",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, u.pos - 1 AS pos, u.tok,
             CASE WHEN u.tok IN {_RAKE_STOPS} THEN 1 ELSE 0 END AS st
      FROM documents,
           LATERAL (SELECT unnest(string_split(text, ' ')) AS tok,
                           generate_subscripts(string_split(text, ' '), 1)
                             AS pos) u
    ),
    ids AS (
      -- phrase ids BEFORE filtering (WHERE would strip the stopwords
      -- ahead of the window and collapse each doc to one phrase)
      SELECT doc_id, pos, tok, st,
             sum(st) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS phrase_id
      FROM toks
    ),
    ph AS (
      SELECT doc_id, pos, tok, phrase_id FROM ids WHERE st = 0
    ),
    phrases AS (
      SELECT doc_id, phrase_id,
             CAST(count(*) AS BIGINT) AS n_words,
             string_agg(tok, ' ' ORDER BY pos) AS phrase
      FROM ph GROUP BY doc_id, phrase_id
    ),
    wstat AS (
      SELECT p.tok,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(r.n_words) AS BIGINT) AS degree
      FROM ph p JOIN phrases r USING (doc_id, phrase_id)
      GROUP BY p.tok
    ),
    wscore AS (
      SELECT tok,
             {sql_fdiv('degree * 1000000', 'freq')} AS score_ppm
      FROM wstat
    ),
    pscore AS (
      SELECT r.phrase,
             CAST(sum(w.score_ppm) AS BIGINT) AS score_ppm
      FROM ph p
      JOIN phrases r USING (doc_id, phrase_id)
      JOIN wscore w ON w.tok = p.tok
      GROUP BY r.doc_id, r.phrase_id, r.phrase
    )
    SELECT phrase,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(max(score_ppm) AS BIGINT) AS score_ppm
    FROM pscore GROUP BY phrase
    ORDER BY score_ppm DESC, phrase LIMIT {_RAKE_TOPK}
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs — built WITHOUT regex
    splitting (whose zero-width semantics differ across engines) via
    the gaps-and-islands trick: phrase_id = running stopword count
    per document; word score = degree/freq in exact integer ppm
    (degree = sum of host-phrase lengths per occurrence), phrase
    score = sum of member word scores.  Two data-scale shuffles
    (phrase agg keyed on (doc, phrase), token-stat agg keyed on the
    vocabulary) + a broadcast of the vocabulary-sized score table;
    the final dedup-and-rank is a TakeOrderedAndProject.  The
    document-frequency-free sibling of TF-IDF/BM25 — keyword mining
    for corpus exploration at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "tok"),
    ).select(
        "doc_id",
        "pos",
        "tok",
        F.col("tok").isin(*_RAKE_STOPS).cast("int").alias("st"),
    )
    wp = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ph = toks.select(
        "doc_id", "pos", "tok", F.sum("st").over(wp).alias("phrase_id"), "st"
    ).filter(F.col("st") == 0)
    phrases = ph.groupBy("doc_id", "phrase_id").agg(
        F.count("*").cast("long").alias("n_words"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("phrase"),
    )
    wstat = (
        ph.join(phrases, ["doc_id", "phrase_id"])
        .groupBy("tok")
        .agg(
            F.count("*").cast("long").alias("freq"),
            F.sum("n_words").cast("long").alias("degree"),
        )
    )
    wscore = wstat.select(
        "tok", fdiv(F.col("degree") * 1_000_000, F.col("freq")).alias("score_ppm")
    )
    pscore = (
        ph.join(phrases, ["doc_id", "phrase_id"])
        .join(F.broadcast(wscore), "tok")
        .groupBy("doc_id", "phrase_id", "phrase")
        .agg(F.sum("score_ppm").cast("long").alias("score_ppm"))
    )
    return (
        pscore.groupBy("phrase")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.max("score_ppm").cast("long").alias("score_ppm"),
        )
        .orderBy(F.col("score_ppm").desc(), "phrase")
        .limit(_RAKE_TOPK)
    )


# ------------------------------------------ tokenizer vocab coverage

_VOCAB_SIZES = (100, 500, 1000)


@query(
    "text_vocab_coverage",
    oracle=f"""
    WITH occ AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    types AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c FROM occ GROUP BY tok
    ),
    ranked AS (
      SELECT tok, c,
             row_number() OVER (ORDER BY c DESC, tok ASC) AS rk,
             sum(c) OVER (ORDER BY c DESC, tok ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
             sum(c) OVER () AS total,
             count(*) OVER () AS n_types
      FROM types
    )
    SELECT CAST(v.v AS INT) AS vocab_size,
           CAST(max(CASE WHEN rk = least(v.v, n_types)
                         THEN cum END) AS BIGINT) AS covered_occurrences,
           CAST(max(total) AS BIGINT) AS total_occurrences,
           CAST({sql_fdiv(
               "max(CASE WHEN rk = least(v.v, n_types) THEN cum END)"
               " * 1000000",
               "max(total)")} AS BIGINT) AS coverage_ppm
    FROM ranked,
         (SELECT unnest([{", ".join(str(v) for v in _VOCAB_SIZES)}]) AS v)
           v
    GROUP BY v.v
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary coverage curve: what fraction of corpus
    token OCCURRENCES does a top-V type vocabulary cover, at V = 100
    / 500 / 1000 — the first diagnostic run before sizing a
    tokenizer or estimating OOV/UNK rates for an LM training mix.
    Corpus collapses to the distinct-type frame in one
    partial-aggregated rollup; the coverage curve is a rank +
    cumulative-sum window over the vocabulary-sized frame (at real
    scale: vocabulary << corpus, so the window input is tiny), and
    the three V probes read the SAME ranked frame.  Deterministic
    (count desc, token asc) ranking; coverage in exact integer ppm."""
    d = load_table(spark, sf_dir, "documents")
    occ = d.select(F.explode(F.split("text", " ")).alias("tok"))
    types = occ.groupBy("tok").agg(F.count("*").cast("long").alias("c"))
    wr = W.orderBy(F.col("c").desc(), F.col("tok").asc())
    ranked = types.select(
        "c",
        F.row_number().over(wr).alias("rk"),
        F.sum("c")
        .over(wr.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum"),
        # bounded global window: input is the distinct-TYPE frame
        # (vocabulary-sized, << corpus) — the partition-less WARN is
        # safe by construction
        F.sum("c")
        .over(W.partitionBy())
        .alias("total"),
        F.count("*").over(W.partitionBy()).alias("n_types"),
    )
    # JVM-side literal frame (a local-rows createDataFrame plan would
    # drag a Python-worker spawn into every job over it — SCALE.md r10)
    sizes = spark.range(1).select(
        F.explode(F.array(*[F.lit(v) for v in _VOCAB_SIZES])).alias("v")
    )
    probed = ranked.crossJoin(F.broadcast(sizes)).filter(
        F.col("rk") == F.least(F.col("v"), F.col("n_types"))
    )
    return probed.groupBy(F.col("v").cast("int").alias("vocab_size")).agg(
        F.max("cum").cast("long").alias("covered_occurrences"),
        F.max("total").cast("long").alias("total_occurrences"),
        fdiv(F.max("cum") * 1_000_000, F.max("total"))
        .cast("long")
        .alias("coverage_ppm"),
    )


# --------------------------------------- Kneser-Ney bigram smoothing

_KN_TOP_W1 = 20  # most frequent contexts reported
_KN_TOP_W2 = 3  # continuations per context


@query(
    "text_bigram_kneser_ney",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS arr FROM documents
    ),
    idx AS (
      SELECT doc_id, arr,
             unnest(range(0, greatest(len(arr) - 1, 0))) AS i
      FROM base
    ),
    bg AS (
      SELECT arr[CAST(i + 1 AS INT)] AS w1,
             arr[CAST(i + 2 AS INT)] AS w2,
             CAST(count(*) AS BIGINT) AS c12
      FROM idx
      GROUP BY 1, 2
    ),
    ctx AS (
      SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
             CAST(count(*) AS BIGINT) AS n1p_fwd
      FROM bg GROUP BY w1
    ),
    cont AS (
      SELECT w2, CAST(count(*) AS BIGINT) AS n1p_bwd FROM bg GROUP BY w2
    ),
    t AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM bg),
    p AS (
      SELECT bg.w1, bg.w2, bg.c12, ctx.c1,
             CAST({sql_fdiv("greatest(4 * bg.c12 - 3, 0) * 1000000",
                            "4 * ctx.c1")}
                  + {sql_fdiv(
                      "3 * ctx.n1p_fwd * "
                      + sql_fdiv("cont.n1p_bwd * 1000000", "t.tt"),
                      "4 * ctx.c1")}
                  AS BIGINT) AS pkn_ppm
      FROM bg
      JOIN ctx USING (w1)
      JOIN cont USING (w2)
      CROSS JOIN t
    ),
    topc AS (
      SELECT w1 FROM ctx
      ORDER BY c1 DESC, w1 ASC LIMIT {_KN_TOP_W1}
    ),
    ranked AS (
      SELECT p.w1, p.w2, p.c12, p.pkn_ppm,
             row_number() OVER (PARTITION BY p.w1
                                ORDER BY p.pkn_ppm DESC, p.w2 ASC) AS rk
      FROM p JOIN topc USING (w1)
    )
    SELECT w1, w2, c12, pkn_ppm, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {_KN_TOP_W2}
    """,
)
def text_bigram_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney-smoothed bigram language model over the corpus —
    the smoothing that actually powers n-gram LM scoring (absolute
    discount D = 3/4 plus a continuation-probability backoff that
    asks 'how many distinct contexts does w2 follow?' rather than
    'how often does w2 occur').  The entire estimate stays in exact
    integer ppm: D = 3/4 clears denominators via the 4c - 3
    trick, and the backoff term nests two floor divisions in the
    same order on both engines.  Corpus-scale passes: tokenize
    map-side (single-space contract), ONE bigram rollup, then
    context/continuation rollups on frames that are vocabulary-sized
    — the same collapse-to-distinct move as text_bpe_merge_rank.
    Reports the top-3 smoothed continuations for the 20 heaviest
    contexts (deterministic tie-breaks throughout)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    )
    a, b = toks.alias("a"), toks.alias("b")
    bg = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .groupBy(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .agg(F.count("*").cast("long").alias("c12"))
    )
    ctx = bg.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count("*").cast("long").alias("n1p_fwd"),
    )
    cont = bg.groupBy("w2").agg(
        F.count("*").cast("long").alias("n1p_bwd")
    )
    tt = bg.agg(F.count("*").cast("long").alias("tt"))
    pcont_ppm = fdiv(F.col("n1p_bwd") * 1_000_000, F.col("tt"))
    pkn = (
        fdiv(
            F.greatest(4 * F.col("c12") - 3, F.lit(0)) * 1_000_000,
            4 * F.col("c1"),
        )
        + fdiv(3 * F.col("n1p_fwd") * pcont_ppm, 4 * F.col("c1"))
    ).cast("long")
    p = (
        bg.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tt))
        .select("w1", "w2", "c12", "c1", pkn.alias("pkn_ppm"))
    )
    topc = ctx.orderBy(F.col("c1").desc(), F.col("w1").asc()).limit(
        _KN_TOP_W1
    )
    ranked = p.join(F.broadcast(topc.select("w1")), "w1").withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("w1").orderBy(
                F.col("pkn_ppm").desc(), F.col("w2").asc()
            )
        ),
    )
    return ranked.filter(F.col("rk") <= _KN_TOP_W2).select(
        "w1", "w2", "c12", "pkn_ppm", F.col("rk").cast("int")
    )


# ------------------------------------------- blocklist filtering
#
# Multi-pattern safety filtering: the ingest gate every production
# corpus runs before training (block documents matching too many
# terms from a curated denylist).  The term set is config-sized, so
# the scale shape is a BROADCAST semi-join against the exploded
# distinct-token frame — one data-scale shuffle (the per-doc hit
# count), never a regex alternation over the raw text (an |-joined
# regex re-scans each document once per pattern class and cannot be
# pushed into a join; the token join is hash-probe per token).

_BLOCKLIST_TERMS = ("slow", "hash", "vector", "merge", "stream", "filter")
_BLOCKLIST_MIN_HITS = 3  # distinct terms present => blocked


@query(
    "text_blocklist_filter",
    oracle=f"""
    WITH hits AS (
      SELECT doc_id, CAST(count(DISTINCT tok) AS BIGINT) AS n_hit
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      WHERE tok IN {_BLOCKLIST_TERMS!r}
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           coalesce(h.n_hit, 0) >= {_BLOCKLIST_MIN_HITS} AS blocked
    FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
    """,
)
def text_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denylist ingest gate: per document, how many DISTINCT
    blocklist terms appear, and the block verdict (>= 3 distinct
    hits).  Engine form: array_distinct the token array map-side
    (so the join probes each distinct token once, not once per
    occurrence), broadcast-join the literal term frame, count per
    doc, left-join back so clean documents keep n_hit = 0.

    At 100 TB the blocklist (thousands of terms) broadcasts in KB;
    the only data-scale exchange is the per-doc partial-agg count.
    Reference analogue: the IN-set admission filter
    (/root/reference/etl.py:366-378) applied to token membership."""
    d = load_table(spark, sf_dir, "documents")
    terms = F.broadcast(
        spark.createDataFrame(
            [(t,) for t in _BLOCKLIST_TERMS], "tok string"
        )
    )
    hits = (
        d.select(
            "doc_id",
            F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok"),
        )
        .join(terms, "tok")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hit"))
    )
    return d.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
        (
            F.coalesce(F.col("n_hit"), F.lit(0))
            >= _BLOCKLIST_MIN_HITS
        ).alias("blocked"),
    )


# ------------------------------------------- n-gram novelty score
#
# Corpus-order novelty: what fraction of a document's distinct
# bigrams had never appeared in any earlier document (doc_id order)?
# The memorization / contribution signal data-selection pipelines
# use to down-weight late near-copies without running full dedup.


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH per AS (
      SELECT DISTINCT doc_id, bg
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, len(toks)),
                 j -> toks[j] || ' ' || toks[j + 1])) AS bg
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents)
      )
    ),
    first AS (
      SELECT bg, min(doc_id) AS first_doc FROM per GROUP BY bg
    )
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           {sql_fdiv(
               "sum(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)"
               " * 1000000",
               "count(*)")} AS novelty_ppm
    FROM per p JOIN first f ON f.bg = p.bg
    GROUP BY p.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram novelty: distinct bigrams whose FIRST
    corpus occurrence (min doc_id) is this document, as an exact
    integer-ppm ratio of the document's distinct bigrams.

    Scale shape: bigrams are built map-side from the token array
    (transform over the sliced array — no posexplode self-join, no
    extra shuffle); first-occurrence is one bigram-keyed partial-agg
    min.  The novelty ATTRIBUTION then never touches the wide bigram
    rows again: a document's novel count is just how many bigrams
    name it as their first_doc, so the (bg, first_doc) table rolls
    up by first_doc (partial-agg compressed to one row per doc) and
    joins the equally compressed per-doc distinct-bigram counts on
    doc_id — both sides exit their aggregations already partitioned
    on that key, so the join adds no exchange.  The bg-keyed pair
    join of the naive form (every exploded row
    re-shuffled and sort-merged against the first-occurrence table)
    is gone, which is what bounds this at 100 TB: both shuffles
    carry partial aggregates, no full-width row survives past its
    map stage.  No global order, no windows — min(doc_id) IS the
    corpus-order semantics, computed commutatively."""
    from ctgov_ai_etl_spark.operators.limits import spread_to_parallelism

    # The bigram build + distinct + explode is the query's CPU (two
    # consumers re-run it); on the one-row-group bench file it planned
    # as ONE task.  Conditional round-robin spread (no-op at scale
    # where the layout is already wide); see spread_to_parallelism.
    d = spread_to_parallelism(load_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    bigrams = F.transform(
        F.slice(toks, 1, F.size(toks) - 1),
        lambda t, i: F.concat_ws(" ", t, F.element_at(toks, i + 2)),
    )
    per = d.select(
        "doc_id", F.explode(F.array_distinct(bigrams)).alias("bg")
    )
    first = per.groupBy("bg").agg(F.min("doc_id").alias("first_doc"))
    n_novel = first.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count("*").alias("nn")
    )
    n_bg = per.groupBy("doc_id").agg(F.count("*").alias("n_bigrams"))
    novel = F.coalesce(F.col("nn"), F.lit(0))
    return (
        n_bg.join(n_novel, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            novel.cast("long").alias("n_novel"),
            fdiv(novel * 1_000_000, F.col("n_bigrams")).alias("novelty_ppm"),
        )
    )


# ------------------------------------------------ Zipf slope fit
#
# Rank-frequency power-law fit over the token distribution: the
# corpus-health fingerprint (natural text sits near slope -1;
# boilerplate-heavy or templated corpora flatten it).  Least squares
# on (ln rank, ln count) of the top tokens, with each ln rounded to
# MILLI units first so the moment sums are exact integers and the
# slope is one floor division — bit-replayable.

_ZIPF_TOP = 100


@query(
    "text_zipf_slope",
    oracle=f"""
    WITH cnt AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY tok
    ),
    top AS (
      SELECT tok, n FROM cnt ORDER BY n DESC, tok LIMIT {_ZIPF_TOP}
    ),
    pts AS (
      SELECT CAST(round(ln(CAST(row_number()
                   OVER (ORDER BY n DESC, tok) AS DOUBLE)) * 1000)
                  AS BIGINT) AS x,
             CAST(round(ln(CAST(n AS DOUBLE)) * 1000) AS BIGINT) AS y
      FROM top
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pts
    )
    SELECT k AS n_tokens,
           {sql_fdiv('(k * sxy - sx * sy) * 1000', 'k * sxx - sx * sx')}
             AS slope_milli,
           {sql_fdiv(
               f"sy * 1000 - {sql_fdiv('(k * sxy - sx * sy) * 1000', 'k * sxx - sx * sx')} * sx",
               'k * 1000')} AS intercept_milli
    FROM m
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency slope of the top-100 tokens (see module
    comment): exact integer least squares over milli-rounded logs.

    Scale: token counts are one data-scale partial-agg shuffle;
    top-100 is TakeOrderedAndProject; the rank window and moment sums
    run on the bounded 100-row frame (bounded global window: top-k
    frame, not data)."""
    from ctgov_ai_etl_spark.functions.text import tokens as _tokens

    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select(F.explode(_tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("n"))
    )
    top = cnt.orderBy(F.col("n").desc(), "tok").limit(_ZIPF_TOP)
    # bounded global window: the top-100 frame
    w = W.orderBy(F.col("n").desc(), "tok")
    pts = top.select(
        F.round(F.log(F.row_number().over(w).cast("double")) * 1000)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("n").cast("double")) * 1000)
        .cast("long")
        .alias("y"),
    )
    m = pts.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    slope = fdiv(
        (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) * 1000,
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"),
    )
    return m.select(
        F.col("k").alias("n_tokens"),
        slope.alias("slope_milli"),
        fdiv(
            F.col("sy") * 1000 - slope * F.col("sx"),
            F.col("k") * 1000,
        ).alias("intercept_milli"),
    )


# --------------------------------------- ANN index recall evaluation
#
# Index-quality measurement as a first-class operator: production ANN
# serving runs a recall audit on every index build (sampled queries →
# exact top-k vs index top-k → recall@k) before swapping the index
# in.  Both sides already exist as oracle-checked operators; the eval
# is a set intersection, so it is exact integer arithmetic.


def _ivf_recall_oracle() -> str:
    # Both operator oracles are full SELECTs (with their own WITH
    # clauses) — legal as parenthesized CTE bodies in both engines.
    return f"""
    WITH exact_tk AS ({_SIM_ORACLE}),
    approx_tk AS ({_ivf_oracle_sql(_IVF_CENTROIDS, _IVF_NPROBE, 5)})
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
           {sql_fdiv('count(a.neighbor_id) * 1000000', 'count(*)')}
             AS recall_ppm
    FROM exact_tk e
    LEFT JOIN approx_tk a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """


@query("sim_ivf_recall_eval", oracle=_ivf_recall_oracle())
def sim_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF index against the exact brute-force
    neighbors, per query vector — the index-build acceptance gate.
    Exact integer recall (left join exact→approx on the neighbor
    pair, count hits, floor-divided ppm).

    Scale: the exact side is the audit's cost and it runs on a QUERY
    SAMPLE (5 probes here; production samples hundreds against a
    billion-vector corpus — still one broadcast-join corpus pass);
    the IVF side probes nprobe/16 of the clusters.  The comparison
    join is on the tiny top-k frames.  Recall floors for the trained
    variants are separately pinned in tests/test_semantic.py."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(e, q, k=5).select(
        "query_id", "neighbor_id"
    )
    approx = ivf_topk(
        e, q, centroids=_IVF_CENTROIDS, k=5, nprobe=_IVF_NPROBE
    ).select("query_id", F.col("neighbor_id").alias("a_neighbor"))
    joined = exact.join(
        approx,
        (exact.query_id == approx.query_id)
        & (exact.neighbor_id == approx.a_neighbor),
        "left",
    ).select(exact.query_id.alias("qid"), "a_neighbor")
    return joined.groupBy(F.col("qid").alias("query_id")).agg(
        F.count("*").cast("long").alias("n_exact"),
        F.count("a_neighbor").cast("long").alias("n_hit"),
        fdiv(F.count("a_neighbor") * 1_000_000, F.count("*")).alias(
            "recall_ppm"
        ),
    )


# --------------------------------- LSH dedup recall/precision audit
#
# The dedup sibling of sim_ivf_recall_eval: before trusting an LSH
# configuration on a crawl, measure its candidate recall against the
# EXACT Jaccard pairs at the same threshold (and its precision — the
# share of candidates that are true pairs).  Both sides are existing
# oracle-checked operators, so the audit is exact set algebra.


def _lsh_recall_oracle() -> str:
    exact = """
    WITH toks AS (
      SELECT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ),
    sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b
    FROM inter
    JOIN sizes sa ON id_a = sa.id
    JOIN sizes sb ON id_b = sb.id
    WHERE round(n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE), 9)
          >= 0.8
    """
    lsh = _minhash_oracle_sql(64, 8, 0.8)
    return f"""
    WITH true_pairs AS ({exact}),
    cand_pairs AS (SELECT id_a, id_b FROM ({lsh})),
    hit AS (
      SELECT t.id_a FROM true_pairs t
      JOIN cand_pairs c ON c.id_a = t.id_a AND c.id_b = t.id_b
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM true_pairs) AS n_true,
           (SELECT CAST(count(*) AS BIGINT) FROM cand_pairs)
             AS n_candidates,
           CAST(count(*) AS BIGINT) AS n_hit,
           {sql_fdiv('count(*) * 1000000',
                     '(SELECT count(*) FROM true_pairs)')} AS recall_ppm,
           {sql_fdiv('count(*) * 1000000',
                     '(SELECT count(*) FROM cand_pairs)')}
             AS precision_ppm
    FROM hit
    """


@query("dedup_lsh_recall_eval", oracle=_lsh_recall_oracle())
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall AND precision of the 64×8 MinHash-LSH candidate set
    against exact Jaccard ≥ 0.8 pairs — the banding-configuration
    acceptance gate (the S-curve math in dedup_minhash_lsh's
    docstring predicts high recall at the knee; this MEASURES it).

    Scale: the exact side is the audit's cost — PPJoin prefix
    filtering keeps it feasible, and a production audit runs it on a
    SAMPLE of blocks; the comparison join is on the tiny pair
    frames.  Exact integer ppm ratios."""
    d = load_table(spark, sf_dir, "documents")
    true_pairs = jaccard_token_pairs(
        d, "doc_id", "text", threshold=0.8
    ).select("id_a", "id_b")
    cand = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=64, bands=8, shingle_k=1,
        threshold=0.8, shingle="token", hash_method="md5",
    ).select(
        F.col("id_a").alias("ca"), F.col("id_b").alias("cb")
    )
    hit = true_pairs.join(
        cand,
        (F.col("id_a") == F.col("ca")) & (F.col("id_b") == F.col("cb")),
    )
    nt = true_pairs.agg(F.count("*").cast("long").alias("n_true"))
    nc = cand.agg(F.count("*").cast("long").alias("n_candidates"))
    nh = hit.agg(F.count("*").cast("long").alias("n_hit"))
    return (
        nh.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nc))
        .select(
            "n_true",
            "n_candidates",
            "n_hit",
            fdiv(F.col("n_hit") * 1_000_000, F.col("n_true")).alias(
                "recall_ppm"
            ),
            fdiv(
                F.col("n_hit") * 1_000_000, F.col("n_candidates")
            ).alias("precision_ppm"),
        )
    )


# ------------------------------ Matryoshka truncation recall audit
#
# Matryoshka representation learning (Kusupati et al. '22) serves
# ANN from a PREFIX of each embedding (16 of 64 dims here) and
# re-ranks with the full vector only for finalists — the storage/
# recall tradeoff every modern vector store tunes.  Before shipping
# a truncation width, measure what the prefix alone retrieves
# against the full-vector truth: the same audit shape as
# sim_ivf_recall_eval, exact integer ppm.

_MRL_DIMS = 16


def _mrl_sim_sql(dims: str) -> str:
    emb = f"CAST(embedding{dims} AS DOUBLE[])"
    return f"""
    SELECT query_id, neighbor_id FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
      FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_dot_product({emb.replace('embedding', 'q.embedding')},
                                      {emb.replace('embedding', 'c.embedding')})
                     / (sqrt(list_dot_product({emb.replace('embedding', 'q.embedding')},
                                              {emb.replace('embedding', 'q.embedding')}))
                        * sqrt(list_dot_product({emb.replace('embedding', 'c.embedding')},
                                                {emb.replace('embedding', 'c.embedding')}))),
                     6) AS cosine_sim
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 5
      )
    ) WHERE rank <= 5
    """


@query(
    "emb_matryoshka_recall",
    oracle=f"""
    WITH full_tk AS ({_mrl_sim_sql('')}),
    prefix_tk AS ({_mrl_sim_sql(f'[1:{_MRL_DIMS}]')})
    SELECT f.query_id,
           CAST(count(*) AS BIGINT) AS n_full,
           CAST(count(p.neighbor_id) AS BIGINT) AS n_hit,
           {sql_fdiv('count(p.neighbor_id) * 1000000', 'count(*)')}
             AS recall_ppm
    FROM full_tk f
    LEFT JOIN prefix_tk p
      ON p.query_id = f.query_id AND p.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
    """,
)
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the 16-dim PREFIX cosine search against the
    full 64-dim truth, per query — the truncation-width acceptance
    gate for Matryoshka-style serving.  Both sides are the exact
    brute-force operator (one on sliced vectors — `F.slice` is
    map-side, so the prefix index needs 4x less bandwidth per probe);
    the audit join is on the tiny top-k frames, exact ppm.

    Scale: same contract as sim_ivf_recall_eval — the audit runs on
    a query sample, one broadcast corpus pass per side."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    trunc = lambda df: df.select(  # noqa: E731
        "vec_id", F.slice(F.col("embedding"), 1, _MRL_DIMS).alias("embedding")
    )
    full = brute_force_topk(e, q, k=5).select("query_id", "neighbor_id")
    prefix = brute_force_topk(trunc(e), trunc(q), k=5).select(
        F.col("query_id").alias("pq"), F.col("neighbor_id").alias("pn")
    )
    joined = full.join(
        prefix,
        (full.query_id == prefix.pq) & (full.neighbor_id == prefix.pn),
        "left",
    )
    return joined.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_full"),
        F.count("pn").cast("long").alias("n_hit"),
        fdiv(F.count("pn") * 1_000_000, F.count("*")).alias("recall_ppm"),
    )


# ----------------------------- corpus-selection pipeline (e2e query)
#
# The continuation wave's gates composed into ONE oracle-checked
# query (the examples/corpus_selection_pipeline.py flow as a single
# dataflow): admit documents that (1) pass the blocklist, (2) score
# target-like under DSIR, (3) bring enough novel bigrams — emitting
# the admitted corpus with its audit columns.  Every stage reuses
# the standalone operator's exact algebra, so the composition
# hash-checks end to end.

# 1% novel bigrams: the synthetic corpus shares one 31-token
# vocabulary, so document-level novelty is structurally low — the
# floor is calibrated to admit a meaningful slice while still
# cutting pure-rehash documents.
_SELECT_NOVELTY_FLOOR_PPM = 10_000


def _select_corpus_oracle() -> str:
    from ctgov_ai_etl_spark.queries.product import _DSIR_CTES

    return f"""
    WITH {_DSIR_CTES},
    blk AS (
      SELECT d.doc_id,
             CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit
      FROM documents d LEFT JOIN (
        SELECT doc_id, count(DISTINCT tok) AS n_hit
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        WHERE tok IN {_BLOCKLIST_TERMS!r}
        GROUP BY doc_id
      ) h ON h.doc_id = d.doc_id
    ),
    per AS (
      SELECT DISTINCT doc_id, bg
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, len(toks)),
                 j -> toks[j] || ' ' || toks[j + 1])) AS bg
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents)
      )
    ),
    nov AS (
      SELECT p.doc_id,
             {sql_fdiv(
                 "sum(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)"
                 " * 1000000",
                 "count(*)")} AS novelty_ppm
      FROM per p
      JOIN (SELECT bg, min(doc_id) AS first_doc FROM per GROUP BY bg) f
        ON f.bg = p.bg
      GROUP BY p.doc_id
    )
    SELECT s.doc_id, d.lang, s.log_w_micro, nov.novelty_ppm, blk.n_hit
    FROM scored s
    JOIN documents d ON d.doc_id = s.doc_id
    JOIN blk ON blk.doc_id = s.doc_id
    JOIN nov ON nov.doc_id = s.doc_id
    WHERE blk.n_hit < {_BLOCKLIST_MIN_HITS}
      AND s.log_w_micro >= 0
      AND nov.novelty_ppm >= {_SELECT_NOVELTY_FLOOR_PPM}
    """


@query("pipeline_select_corpus", oracle=_select_corpus_oracle())
def pipeline_select_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus selection: blocklist gate ∧ DSIR
    target-likeness ∧ bigram-novelty floor, one dataflow emitting the
    admitted documents with all three audit columns.  Each gate is
    the standalone operator's exact algebra (text_blocklist_filter,
    sample_dsir_importance's scoring, text_ngram_novelty), joined on
    doc_id — so Catalyst shares the token-explode scan across gates
    where profitable and the whole composition stays hash-checkable.

    Scale: three doc-keyed partial-agg frames joined on doc_id — the
    gates add NO new shuffle classes beyond their standalone plans;
    at 100 TB this one-pass composition replaces three corpus
    sweeps."""
    from ctgov_ai_etl_spark.operators.limits import hash_bucket
    from ctgov_ai_etl_spark.queries.product import _DSIR_BUCKETS
    from ctgov_ai_etl_spark.queries.registry import REGISTRY

    d = load_table(spark, sf_dir, "documents")
    blk = REGISTRY["text_blocklist_filter"].fn(spark, sf_dir).select(
        "doc_id", "n_hit"
    )
    nov = REGISTRY["text_ngram_novelty"].fn(spark, sf_dir).select(
        "doc_id", "novelty_ppm"
    )
    # DSIR scoring (full frame, not the top-k cut the sampling query
    # applies): model + dot product exactly as sample_dsir_importance.
    # Spread the single-file scan before the token explode (the CPU of
    # this leg; conditional, no-op at scale) and persist the narrow
    # (doc_id, lang, b) frame: THREE aggregations consume it (raw,
    # tgt, tf) and each otherwise re-runs scan → tokenize → hash
    # (guide §5: persist exactly the reused intermediate — the same
    # tokenize-once idiom as the r15 jaccard fix).
    from ctgov_ai_etl_spark.operators.cache import track
    from ctgov_ai_etl_spark.operators.limits import spread_to_parallelism

    tok = (
        spread_to_parallelism(d)
        .select(
            "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("t")
        )
        .select(
            "doc_id",
            "lang",
            hash_bucket(F.col("t"), _DSIR_BUCKETS).cast("int").alias("b"),
        )
    )
    tok = track(tok.persist())
    raw = tok.groupBy("b").agg(F.count("*").cast("long").alias("r_b"))
    tgt = (
        tok.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count("*").cast("long").alias("t_b"))
    )
    tots = raw.agg(F.sum("r_b").cast("long").alias("rt")).crossJoin(
        F.broadcast(tgt.agg(F.sum("t_b").cast("long").alias("tt")))
    )
    model = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            F.round(
                F.log(
                    (
                        (F.coalesce(F.col("t_b"), F.lit(0)) + 1).cast(
                            "double"
                        )
                        * (F.col("rt") + _DSIR_BUCKETS).cast("double")
                    )
                    / (
                        (F.col("r_b") + 1).cast("double")
                        * (F.col("tt") + _DSIR_BUCKETS).cast("double")
                    )
                )
                * 1_000_000
            )
            .cast("long")
            .alias("lr_micro"),
        )
    )
    tf = tok.groupBy("doc_id", "b").agg(
        F.count("*").cast("long").alias("tf")
    )
    scored = (
        tf.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("lr_micro"))
            .cast("long")
            .alias("log_w_micro")
        )
    )
    return (
        scored.join(d.select("doc_id", "lang"), "doc_id")
        .join(blk, "doc_id")
        .join(nov, "doc_id")
        .filter(
            (F.col("n_hit") < _BLOCKLIST_MIN_HITS)
            & (F.col("log_w_micro") >= 0)
            & (F.col("novelty_ppm") >= _SELECT_NOVELTY_FLOOR_PPM)
        )
        .select("doc_id", "lang", "log_w_micro", "novelty_ppm", "n_hit")
    )


@query(
    "sketch_hll_registers",
    oracle="""
    WITH h AS (
      SELECT event_type AS grp,
             CAST(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)),
                   1, 2)) AS INT) % 64 AS bucket,
             CAST(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)),
                   3, 12)) AS BIGINT) AS rest
      FROM events
    ),
    r AS (
      SELECT grp, CAST(bucket AS INT) AS bucket,
             CAST(max(CASE WHEN rest = 0 THEN 49
                           ELSE 49 - length(bin(rest)) END) AS INT)
               AS register
      FROM h GROUP BY grp, bucket
    )
    SELECT grp, bucket, register FROM r
    UNION ALL
    SELECT '__merged' AS grp, bucket, CAST(max(register) AS INT) AS register
    FROM r GROUP BY bucket
    """,
)
def sketch_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register tables per event_type PLUS their cell-wise
    MAX merge (the HLL union — the property that makes HLL the
    distinct-count sketch for 100 TB: per-shard/per-day register
    tables combine without rescanning).  Registers are exact
    integers from a portable md5 rank (operators/sketches.py:
    hll_registers), so unlike the bound-only approx_count_distinct
    check the ENTIRE sketch state hash-checks bit-for-bit against
    DuckDB; the float estimator alpha_m*m^2/sum(2^-M) is a documented
    client-side fold over the 64 rows.  Complements sketch_kmv_*
    (cardinality via k minimum values) and sketch_cms_freq
    (frequency): together the three classic mergeable sketches.
    Scale: one partial-aggregated shuffle keyed (type, bucket) —
    at most |types| * 64 cells regardless of input size."""
    from ctgov_ai_etl_spark.operators.sketches import hll_registers

    e = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    regs = hll_registers(e, "user_id", "event_type")
    merged = (
        regs.groupBy("bucket")
        .agg(F.max("register").cast("int").alias("register"))
        .select(F.lit("__merged").alias("grp"), "bucket", "register")
    )
    return regs.unionByName(merged)
