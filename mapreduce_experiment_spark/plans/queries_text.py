"""Text-analysis queries over ``documents`` with mirrored oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.textfns import hash60_sql, shingles_sql, tokenize_sql
from ..operators import text as TX
from ..sources.tables import load_table
from .registry import register

_TOKS = tokenize_sql("text")
_T_CTE = f"WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)\n"


def _hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in TX.STOPWORDS[lang])
    return (
        f"CAST(len(list_filter(toks, x -> list_contains([{words}], x)))"
        " AS BIGINT)"
    )


# lang_id folds NULL text into '' (zero hits → 'und'), so its oracle
# tokenizes coalesce(text, '') — mirroring operators/text.lang_id.
_LANG_T_CTE = ("WITH t AS (SELECT doc_id, "
               + tokenize_sql("coalesce(text, '')")
               + " AS toks FROM documents)\n")

_LANG_SCORE_CTE = _LANG_T_CTE + f"""
, s AS (
  SELECT doc_id,
         {', '.join(f'{_hits_sql(lg)} AS hits_{lg}' for lg in TX.LANGS)}
  FROM t
)
"""

_BEST = "greatest(" + ", ".join(f"hits_{lg}" for lg in TX.LANGS) + ")"
_PRED = (
    f"CASE WHEN {_BEST} = 0 THEN 'und' "
    + " ".join(f"WHEN hits_{lg} = {_BEST} THEN '{lg}'" for lg in TX.LANGS)
    + " END"
)


@register(
    "lang_id",
    oracle=_LANG_SCORE_CTE + f"""
SELECT doc_id, {', '.join(f'hits_{lg}' for lg in TX.LANGS)},
       {_PRED} AS pred_lang
FROM s
""",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID (n-gram-heuristic family)."""
    return TX.lang_id(load_table(spark, sf_dir, "documents"))


_Q6 = "floor(({}) * 1000000 + 0.5) / 1000000.0"
_ALPHA = "CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT)"
_NSTOP = _hits_sql("en")
_TOKCHARS = "list_sum(list_transform(toks, x -> length(x)))"

# quality_features' oracle needs its own CTE: the Spark side folds
# NULL text into '' and floors alpha_ratio to 0.0 on an empty doc,
# while _T_CTE's raw text would let a NULL row emit NULL features and
# DuckDB's x/0 emit NULL instead of 0.0 (dormant on shipped data,
# which has no NULL/empty text). Mirror both: coalesce in the CTE,
# CASE-guard the one division whose denominator can be 0
# (len(toks) >= 1 always — tokenize('') yields the phantom token).
_QF_CTE = ("WITH t AS (SELECT doc_id, coalesce(text, '') AS text, "
           + tokenize_sql("coalesce(text, '')") + " AS toks FROM documents)\n")
_ALPHA_RATIO = (f"CASE WHEN length(text) = 0 THEN 0.0 "
                f"ELSE {_ALPHA} * 1.0 / length(text) END")


@register(
    "quality_scores",
    oracle=_QF_CTE + f"""
, f AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         {_Q6.format(_ALPHA_RATIO)} AS alpha_ratio,
         {_Q6.format(f"{_NSTOP} * 1.0 / len(toks)")} AS stop_ratio,
         {_Q6.format(f"{_TOKCHARS} * 1.0 / len(toks)")} AS mean_tok_len
  FROM t
)
SELECT doc_id, n_chars, n_tokens, alpha_ratio, stop_ratio, mean_tok_len,
       {_Q6.format("least(alpha_ratio * 0.5 + stop_ratio * 2.0"
                   " + least(mean_tok_len / 10.0, 0.3), 1.0)")} AS quality_score
FROM f
""",
)
def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.quality_features(load_table(spark, sf_dir, "documents"))


@register(
    "token_counts",
    oracle=_T_CTE + f"""
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_words,
       CAST(len(regexp_extract_all(lower(text), '{TX.BPE_ISH}')) AS BIGINT)
         AS n_bpe_ish
FROM t
""",
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.token_counts(load_table(spark, sf_dir, "documents"))


@register(
    "token_frequencies",
    oracle=_T_CTE + """
SELECT token, n FROM (
  SELECT token, count(*) AS n,
         row_number() OVER (ORDER BY count(*) DESC, token) AS rn
  FROM (SELECT unnest(toks) AS token FROM t)
  GROUP BY token
) WHERE rn <= 100
""",
    headline=True,
)
def q_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: the canonical MapReduce wordcount, Spark-first
    — explode → hash aggregate (map-side partial) → top-100. At 100 TB
    the partial aggregation means the shuffle carries one row per
    (partition, distinct token), not per token occurrence."""
    from pyspark.sql import functions as F

    from ..functions.textfns import tokenize
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        counts.orderBy(F.col("n").desc(), F.col("token"))
        .limit(100)
        .select("token", "n")
    )


_PII_EMAIL = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"
_PII_PHONE = "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"


@register(
    "pii_redaction",
    oracle=f"""
SELECT doc_id,
       regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                      '{_PII_PHONE}', '<PHONE>', 'g') AS redacted,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phones
FROM documents
""",
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (emails/phones → placeholder tokens) with
    per-doc match counts — conservative regex subset that parses
    identically under Java regex and RE2."""
    from pyspark.sql import functions as F
    docs = load_table(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
        _PII_PHONE, "<PHONE>")
    return docs.select(
        "doc_id",
        redacted.alias("redacted"),
        F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), 0))
         .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PII_PHONE), 0))
         .cast("long").alias("n_phones"),
    )


@register(
    "tfidf_doc_pairs",
    oracle=_T_CTE + """
, tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM t)
  GROUP BY doc_id, term
),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
nn AS (SELECT count(*) AS n FROM documents),
w AS (
  SELECT doc_id, term,
         tf * ln((SELECT n FROM nn) * 1.0 / df) AS w
  FROM tf JOIN dfr USING (term) WHERE df <= 100
),
nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS norm FROM w GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         na.norm AS na, nb.norm AS nb,
         sum(a.w * b.w) AS dot
  FROM w a
  JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  JOIN nrm na ON na.doc_id = a.doc_id
  JOIN nrm nb ON nb.doc_id = b.doc_id
  GROUP BY a.doc_id, b.doc_id, na.norm, nb.norm
)
SELECT id_a, id_b,
       floor(dot / (na * nb) * 1000000 + 0.5) / 1000000.0 AS tfidf_cosine
FROM dots
WHERE floor(dot / (na * nb) * 1000000 + 0.5) / 1000000.0 >= 0.5
""",
)
def q_tfidf_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF cosine document pairs via the inverted-index join (see
    operator docstring): per-TERM pair generation with df pruning, no
    doc×doc product."""
    return TX.tfidf_pairs(load_table(spark, sf_dir, "documents"),
                          threshold=0.5, max_df=100)


_GRAMS5 = shingles_sql("toks", 5)


@register(
    "fingerprints",
    oracle=_T_CTE + f"""
SELECT doc_id,
       list_min(list_transform({_GRAMS5}, s -> {hash60_sql('s')})) AS fingerprint
FROM t
WHERE len({_GRAMS5}) > 0
""",
)
def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.fingerprints(load_table(spark, sf_dir, "documents"))


_PACK_H = hash60_sql("CAST(doc_id AS VARCHAR)")


# coalesce(text, ''): NULL text packs as the empty-string case (one
# phantom token), matching _pack_starts.
_PACK_W_CTE = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({tokenize_sql("coalesce(text, '')")}) AS BIGINT) AS n_tokens,
         {_PACK_H} AS h,
         {_PACK_H} % {TX.PACK_SHARDS} AS shard
  FROM documents),
w AS (
  SELECT doc_id, n_tokens, shard,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tokens
              AS BIGINT) AS start
  FROM t)
"""


@register(
    "packed_sequences",
    oracle=_PACK_W_CTE + f"""
SELECT doc_id, n_tokens, shard,
       start // {TX.PACK_CAPACITY} AS seq_id,
       start % {TX.PACK_CAPACITY} AS seq_offset
FROM w
""",
)
def q_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing of the documents table (see the
    operator docstring): hash-sharded streaming next-fit into
    2048-token training sequences, all-integer arithmetic (true
    integer division both sides — Spark ``DIV`` / DuckDB ``//``)."""
    return TX.pack_sequences(load_table(spark, sf_dir, "documents"))


_CAP = TX.PACK_CAPACITY


@register(
    "packed_sequence_fragments",
    oracle=_PACK_W_CTE + f"""
, f AS (
  SELECT doc_id, shard, start, n_tokens,
         unnest(range(start // {_CAP}, (start + n_tokens - 1) // {_CAP} + 1))
           AS seq_id
  FROM w WHERE n_tokens > 0)
SELECT doc_id, shard, seq_id,
       greatest(start, seq_id * {_CAP}) - seq_id * {_CAP} AS frag_offset,
       least(start + n_tokens, (seq_id + 1) * {_CAP})
         - greatest(start, seq_id * {_CAP}) AS frag_len
FROM f
""",
)
def q_packed_sequence_fragments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-splitting packing (see operator docstring): one row per
    (doc, sequence) fragment; straddling docs split at every capacity
    boundary so no fragment crosses one."""
    return TX.pack_sequence_fragments(load_table(spark, sf_dir, "documents"))


_SH5 = f"list_transform({shingles_sql('toks', 5)}, s -> {hash60_sql('s')})"
_EM = TX.EVAL_MOD


@register(
    "decontamination_pairs",
    oracle=_T_CTE + f"""
, x AS (SELECT doc_id, unnest({_SH5}) AS g FROM t),
ev AS (SELECT doc_id AS eval_doc_id, g FROM x WHERE doc_id % {_EM} = 0),
tr AS (SELECT doc_id AS train_doc_id, g FROM x WHERE doc_id % {_EM} <> 0)
SELECT train_doc_id, eval_doc_id, count(*) AS n_shared_grams
FROM tr JOIN ev USING (g)
GROUP BY 1, 2 HAVING count(*) >= {TX.MIN_SHARED_GRAMS}
""",
)
def q_decontamination_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval benchmark-overlap detection (see operator docstring):
    eval shingles broadcast, corpus probes map-side."""
    return TX.contamination_pairs(load_table(spark, sf_dir, "documents"))


# External benchmark table for decontamination_external: an inline
# literal eval corpus with its OWN schema (string eval_id + prompt),
# genuinely disjoint from the documents table. Three prompts embed a
# contiguous 10-token span lifted from the deterministic sf0.01
# synthetic corpus (docs 7 / 123 / 321), planting >= 6 shared distinct
# 5-grams each so the driver's sf0.01 gate exercises REAL collisions
# through the broadcast join, not an empty intersection; the fourth
# prompt shares no 5-gram with any doc (vocabulary disjoint) and must
# never pair. One Python list feeds BOTH the Spark literal DataFrame
# and the oracle VALUES clause, so the two sides cannot drift.
EVAL_BENCHMARK = [
    ("bench-0007", "which plan fragment best matches hash fast part window"
                   " the stream key column batch filter when reordered"),
    ("bench-0123", "true or false customer big join batch stream data fast"
                   " stream row fast describes a shuffle"),
    ("bench-0321", "complete the sequence column data stream the spark table"
                   " stream data fast group from the corpus"),
    ("bench-clean", "what is the capital of france and when was it founded"),
]

_EV_VALUES = ",\n  ".join(f"('{i}', '{p}')" for i, p in EVAL_BENCHMARK)


@register(
    "decontamination_external",
    oracle=_T_CTE + f"""
, ev_raw(eval_id, prompt) AS (VALUES
  {_EV_VALUES}),
evg AS (
  SELECT eval_id, unnest(list_transform(
    {shingles_sql(tokenize_sql('prompt'), 5)}, s -> {hash60_sql('s')})) AS g
  FROM ev_raw),
trg AS (SELECT doc_id AS train_doc_id, unnest({_SH5}) AS g FROM t)
SELECT train_doc_id, eval_id, count(*) AS n_shared_grams
FROM trg JOIN evg USING (g)
GROUP BY 1, 2 HAVING count(*) >= {TX.MIN_SHARED_GRAMS}
""",
)
def q_decontamination_external(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination against a genuinely external eval corpus (see
    ``contamination_pairs_external``): the eval side is an inline
    literal benchmark table with different column names/types from the
    train side; eval shingles broadcast, the corpus probes map-side."""
    eval_df = spark.createDataFrame(EVAL_BENCHMARK,
                                    "eval_id string, prompt string")
    return TX.contamination_pairs_external(
        load_table(spark, sf_dir, "documents"), eval_df)


_BIGRAMS = ("CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)),"
            " i -> array_to_string(list_slice(toks, i, i + 1), ' '))"
            " ELSE CAST([] AS VARCHAR[]) END")


@register(
    "repetition_scores",
    oracle=_T_CTE + f"""
, tc AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2),
ta AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) AS distinct_tokens, max(c) AS top_token_n
  FROM tc GROUP BY 1),
gc AS (
  SELECT doc_id, gram, count(*) AS c
  FROM (SELECT doc_id, unnest({_BIGRAMS}) AS gram FROM t) GROUP BY 1, 2),
ga AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
         count(*) AS distinct_bigrams, max(c) AS top_bigram_n
  FROM gc GROUP BY 1)
SELECT ta.doc_id, n_tokens, distinct_tokens, top_token_n,
       coalesce(n_bigrams, 0) AS n_bigrams,
       coalesce(distinct_bigrams, 0) AS distinct_bigrams,
       coalesce(top_bigram_n, 0) AS top_bigram_n,
       floor(top_token_n * 1.0 / n_tokens * 1000000 + 0.5) / 1000000.0
         AS top_token_frac,
       CASE WHEN coalesce(n_bigrams, 0) > 0
            THEN floor(top_bigram_n * 1.0 / n_bigrams * 1000000 + 0.5)
                 / 1000000.0
            ELSE 0.0 END AS top_bigram_frac
FROM ta LEFT JOIN ga ON ta.doc_id = ga.doc_id
""",
)
def q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-doc repetition metrics (see operator docstring): token and
    bigram-occurrence type-token stats + top-fraction ratios — the
    boilerplate/spam signal in the Gopher-rules family."""
    return TX.repetition_scores(load_table(spark, sf_dir, "documents"))


# Corpus-mixing config: per-source keep rates in parts-per-million
# (the config is DATA — a broadcast weights table — not a CASE chain;
# see operators.relational.mixture_sample). Rates cycle so the sample
# exercises full-keep, halving, and heavy downsampling.
MIX_PPM = (1_000_000, 500_000, 250_000, 100_000)
MIX_WEIGHTS = [(f"src{i}", MIX_PPM[i % len(MIX_PPM)]) for i in range(20)]

_W_VALUES = ",\n  ".join(f"('{s}', {p})" for s, p in MIX_WEIGHTS)
_MIX_HASH = hash60_sql("concat_ws(':', source, CAST(doc_id AS VARCHAR))")


@register(
    "source_mixture_sample",
    oracle=f"""
WITH w(source, keep_ppm) AS (VALUES
  {_W_VALUES})
SELECT doc_id, source, lang
FROM documents JOIN w USING (source)
WHERE {_MIX_HASH} % 1000000 < keep_ppm
""",
)
def q_source_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixing from a broadcast weights table: keep each
    doc iff hash60(source:doc_id) % 1e6 < the source's ppm rate —
    deterministic, restart-safe, rate-composable; the exact kept SET
    is what the oracle checks."""
    from ..operators.relational import mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    weights = spark.createDataFrame(MIX_WEIGHTS, "source string, keep_ppm long")
    return mixture_sample(docs, weights, "doc_id", "source") \
        .select("doc_id", "source", "lang")


# Quality-filter thresholds (C4/Gopher-rules family; tuned so the
# synthetic corpus produces a keep/drop MIX rather than a constant).
QF_MIN_TOKENS = 12
QF_MIN_ALPHA = 0.80
QF_MIN_STOP = 0.02
QF_MIN_SCORE = 0.78

_QF_REASON = f"""CASE
  WHEN n_tokens < {QF_MIN_TOKENS} THEN 'too_short'
  WHEN alpha_ratio < {QF_MIN_ALPHA} THEN 'low_alpha'
  WHEN stop_ratio < {QF_MIN_STOP} THEN 'low_stopword'
  WHEN quality_score < {QF_MIN_SCORE} THEN 'low_score'
  ELSE 'kept' END"""


@register(
    "quality_filtered_corpus",
    # _QF_CTE + the guarded alpha_ratio, NOT raw _T_CTE: the engine
    # folds NULL text to '' and floors alpha_ratio to 0.0 on an empty
    # doc, while the raw CTE would emit NULL features for a NULL-text
    # doc and NULL (DuckDB x/0) for an empty one — the same mirror as
    # quality_scores' oracle.
    oracle=_QF_CTE + f"""
, f AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         {_Q6.format(_ALPHA_RATIO)} AS alpha_ratio,
         {_Q6.format(f"{_NSTOP} * 1.0 / len(toks)")} AS stop_ratio,
         {_Q6.format(f"{_TOKCHARS} * 1.0 / len(toks)")} AS mean_tok_len
  FROM t),
g AS (
  SELECT doc_id, n_tokens, alpha_ratio, stop_ratio,
         {_Q6.format("least(alpha_ratio * 0.5 + stop_ratio * 2.0"
                     " + least(mean_tok_len / 10.0, 0.3), 1.0)")}
           AS quality_score
  FROM f)
SELECT doc_id, n_tokens, quality_score,
       {_QF_REASON} AS reason,
       ({_QF_REASON}) = 'kept' AS keep
FROM g
""",
)
def q_quality_filtered_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter pass over the corpus: composes the quality
    features into a keep/drop decision with a FIRST-FAILING-RULE reason
    column (the audit trail a production filter chain emits, so
    dropped-data rates are attributable per rule)."""
    return TX.quality_filter(
        load_table(spark, sf_dir, "documents"),
        min_tokens=QF_MIN_TOKENS, min_alpha=QF_MIN_ALPHA,
        min_stop=QF_MIN_STOP, min_score=QF_MIN_SCORE)


@register(
    "decontaminated_corpus",
    oracle=_T_CTE + f"""
, ev_raw(eval_id, prompt) AS (VALUES
  {_EV_VALUES}),
evg AS (
  SELECT eval_id, unnest(list_transform(
    {shingles_sql(tokenize_sql('prompt'), 5)}, s -> {hash60_sql('s')})) AS g
  FROM ev_raw),
trg AS (SELECT doc_id AS train_doc_id, unnest({_SH5}) AS g FROM t),
hits AS (
  SELECT train_doc_id
  FROM trg JOIN evg USING (g)
  GROUP BY train_doc_id, eval_id HAVING count(*) >= 3)
SELECT doc_id, source, lang
FROM documents
WHERE doc_id NOT IN (SELECT train_doc_id FROM hits)
""",
)
def q_decontaminated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL step completing the decontamination story: the
    corpus anti-joined against the docs that overlap the external
    benchmark (decontamination_external's pairs) — what actually ships
    to the trainer. Anti-join on a collision-bounded key set; the
    100 TB side streams through map-side."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    eval_df = spark.createDataFrame(EVAL_BENCHMARK,
                                    "eval_id string, prompt string")
    hits = (TX.contamination_pairs_external(docs, eval_df)
            .select(F.col("train_doc_id").alias("doc_id")).distinct())
    return docs.join(hits, "doc_id", "left_anti") \
        .select("doc_id", "source", "lang")


_CH_C = TX.CHUNK_CHARS
_CH_S = TX.CHUNK_CHARS - TX.CHUNK_OVERLAP


@register(
    "doc_chunks",
    oracle=f"""
WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
c AS (
  SELECT doc_id, text,
         unnest(range(0, CASE WHEN len <= {_CH_C} THEN 0
                         ELSE (len - {_CH_C} + {_CH_S} - 1) // {_CH_S} END + 1))
           AS chunk_id
  FROM d)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(chunk_id * {_CH_S} + 1 AS BIGINT) AS chunk_start,
       CAST(length(substr(text, chunk_id * {_CH_S} + 1, {_CH_C})) AS BIGINT)
         AS chunk_len,
       substr(text, chunk_id * {_CH_S} + 1, {_CH_C}) AS chunk_text
FROM c
""",
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking of the corpus (see operator docstring):
    200-char windows every 150 chars (50 overlap), positive-operand
    integer arithmetic only, exact chunk text both engines."""
    return TX.chunk_documents(load_table(spark, sf_dir, "documents"))


_TRI = ("list_transform(range(1, len(toks) - 1),"
        " i -> array_to_string(list_slice(toks, i, i + 2), ' '))")


@register(
    "trigram_counts",
    oracle=_T_CTE + f"""
SELECT gram, n FROM (
  SELECT gram, count(*) AS n,
         row_number() OVER (ORDER BY count(*) DESC, gram) AS rn
  FROM (SELECT unnest({_TRI}) AS gram FROM t)
  GROUP BY gram
) WHERE rn <= 200
""",
)
def q_trigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus trigram OCCURRENCE counts, top-200 (see operator
    docstring): the LM-counts table — wordcount one level up, with
    map-side partial aggregation and a TakeOrdered top-N."""
    return TX.ngram_counts(load_table(spark, sf_dir, "documents"), n=3)


# Literal retrieval benchmark for bm25_topk: query terms drawn from
# the synthetic corpus vocabulary ('dup' is rare → high idf, so the
# ranking exercises the idf spread, not just tf). One Python list
# feeds BOTH the Spark literal DataFrame and the oracle VALUES clause.
BM25_QUERIES = [
    ("q-scan", "fast table scan filter"),
    ("q-join", "hash join merge key"),
    ("q-stream", "stream batch window data"),
    ("q-rare", "dup vector spark"),
]

_BQ_VALUES = ",\n  ".join(f"('{i}', '{q}')" for i, q in BM25_QUERIES)
# The exact doubles the Spark plan uses, embedded via repr() so the
# oracle evaluates bit-identical constants.
_K1 = repr(float(TX.BM25_K1))
_B = repr(float(TX.BM25_B))
_K1P1 = repr(float(TX.BM25_K1) + 1.0)
_OMB = repr(1.0 - float(TX.BM25_B))


@register(
    "bm25_topk",
    oracle=_T_CTE + f"""
, q_raw(query_id, qtext) AS (VALUES
  {_BQ_VALUES}),
qt AS (
  SELECT * FROM (
    SELECT query_id, unnest(list_distinct({tokenize_sql('qtext')})) AS term
    FROM q_raw)
  WHERE length(term) > 0),
vocab AS (SELECT DISTINCT term FROM qt),
tfq AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM t)
  WHERE term IN (SELECT term FROM vocab) AND length(term) > 0
  GROUP BY doc_id, term),
dfr AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
dln AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
st AS (SELECT CAST(count(*) AS DOUBLE) AS _n, avg(dl) AS _avgdl FROM dln),
w AS (
  -- CAST(tf AS DOUBLE) before the k1+1 multiply (r18, the r17
  -- qavg_sql decimal-literal class): {_K1P1} parses as DECIMAL, so
  -- bare tf * {_K1P1} is BIGINT x DECIMAL = EXACT (tf=3: 6.6 ->
  -- double 6.6) while Spark computes double(tf) * double(2.2) =
  -- 6.6000000000000005 — a 1-ulp head start that can flip the micro
  -- floor. The cast makes both engines run the identical IEEE
  -- product. ({_K1}/{_B}/{_OMB} multiply doubles, and df + 0.5 is
  -- dyadic-exact below 2^52 — both verified safe.)
  SELECT doc_id, term,
         CAST(floor(ln(1.0 + (_n - df + 0.5) / (df + 0.5))
                    * ((CAST(tf AS DOUBLE) * {_K1P1})
                       / (tf + {_K1} * ({_OMB} + {_B} * (dl / _avgdl))))
                    * 1000000 + 0.5) AS BIGINT) AS w_micro
  FROM tfq JOIN dfr USING (term) JOIN dln USING (doc_id) CROSS JOIN st),
sc AS (
  SELECT query_id, doc_id, CAST(sum(w_micro) AS BIGINT) AS score_micro
  FROM w JOIN qt USING (term)
  GROUP BY query_id, doc_id)
SELECT query_id, doc_id, score_micro, rank FROM (
  SELECT query_id, doc_id, score_micro,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_micro DESC, doc_id) AS rank
  FROM sc
) WHERE rank <= {TX.BM25_TOP_K}
""",
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval against a literal query benchmark (see
    operator docstring): per-term contributions quantized to integer
    micro-units BEFORE summation, so scores are exact int64 —
    broadcast query vocabulary, map-side corpus reduction."""
    qdf = spark.createDataFrame(BM25_QUERIES, "query_id string, qtext string")
    return TX.bm25_topk(load_table(spark, sf_dir, "documents"), qdf)
