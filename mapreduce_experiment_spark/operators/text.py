"""Text-analysis operators for LLM-data pipelines over ``documents``.

All pure-expression (tokenize/regex/higher-order functions — no UDFs,
so the whole suite stays in whole-stage codegen and scales linearly):

- language ID: stopword-hit scoring across candidate languages
  (n-gram-heuristic family; deterministic argmax with fixed tie order)
- quality scoring: length / alpha-ratio / stopword-ratio / mean token
  length combined into a bounded score
- token counting: whitespace words plus a BPE-ish regex segmentation
  (alnum runs + single punctuation marks)
- fingerprinting: min-hash over rolling word 5-grams (winnowing-style
  single-value document fingerprint)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textfns import tokenize, word_ngrams

# Fixed stopword inventories (shared with the oracle SQL).
STOPWORDS = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "den", "von", "mit"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "los", "por"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "du", "est", "dans"),
}
LANGS = tuple(STOPWORDS)  # fixed order = deterministic tie-break

# Whitespace is spelled out instead of `\s` because the engines
# disagree on it: Java's default `\s` is [ \t\n\x0B\f\r] while
# DuckDB's RE2 `\s` is [ \t\n\f\r] — WITHOUT vertical tab — so a
# U+000B in the text would make the oracle count one extra segment.
# The explicit class is Java's set, so both engines agree. Pinned by
# test_token_and_quality_survive_dirty_text.
BPE_ISH = "[a-z0-9]+|[^a-z0-9 \\t\\n\\r\\f\\x0b]"

# Word n-gram length of fingerprints and decontamination.
GRAM_N = 5


def _hits(tokens: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(tokens, lambda t: t.isin(*words))).cast("long")


def lang_scores(text: Column) -> dict[str, Column]:
    toks = tokenize(text)
    return {lang: _hits(toks, words) for lang, words in STOPWORDS.items()}


def lang_id(docs: DataFrame) -> DataFrame:
    """Predict language by stopword hits; ties resolve in LANGS order,
    zero hits → 'und' (undetermined). NULL text folds into the
    empty-string case (zero hits everywhere → 'und') — unguarded, the
    hit counts would be NULL and the when-chain would fall through to a
    NULL pred_lang bucket; the same convention quality_features uses."""
    scores = lang_scores(F.coalesce(F.col("text"), F.lit("")))
    best = F.greatest(*[scores[lg] for lg in LANGS])
    pred = F.when(best == 0, F.lit("und"))
    for lg in LANGS:
        pred = pred.when(scores[lg] == best, F.lit(lg))
    cols = [scores[lg].alias(f"hits_{lg}") for lg in LANGS]
    return docs.select("doc_id", *cols, pred.alias("pred_lang"))


def quality_features(docs: DataFrame) -> DataFrame:
    """Quality-scoring features + a bounded composite score.

    All ratios come from integer counts quantized with floor(+0.5), so
    the values are cross-engine deterministic.
    """
    # NULL text folds into the empty-string case: NULL would propagate
    # through every feature, and F.least SKIPS null operands, so a
    # null-text doc would score a PERFECT 1.0 and sail through
    # quality_filter's null-comparison when-chain as 'kept'.
    # As '' it takes the ordinary path: one phantom token, zero
    # ratios, score 0.0, reason 'too_short'.
    text = F.coalesce(F.col("text"), F.lit(""))
    toks = tokenize(text)
    n_chars = F.length(text).cast("long")
    n_alpha = F.length(F.regexp_replace(F.lower(text), "[^a-z]", "")).cast("long")
    n_tokens = F.size(toks).cast("long")
    n_stop = _hits(toks, STOPWORDS["en"])
    total_tok_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    q6 = lambda c: F.floor(c * 1_000_000 + 0.5) / 1_000_000.0  # noqa: E731
    # Zero-guard: ANSI-on Spark 4 (the session default) hard-fails
    # the division on an empty doc instead of scoring it; an empty doc
    # is simply zero-alpha. n_tokens needs no guard — tokenize('')
    # yields [''], so it is never 0.
    alpha_ratio = q6(F.when(n_chars == 0, F.lit(0.0))
                     .otherwise(n_alpha.cast("double") / n_chars))
    stop_ratio = q6(n_stop.cast("double") / n_tokens)
    mean_tok_len = q6(total_tok_chars.cast("double") / n_tokens)
    # Bounded composite: rewards alpha-heavy, stopword-bearing prose
    # with mid-length tokens (heuristic in the C4/Gopher-rules family).
    score = q6(
        F.least(alpha_ratio * 0.5 + stop_ratio * 2.0
                + F.least(mean_tok_len / 10.0, F.lit(0.3)), F.lit(1.0))
    )
    return docs.select(
        "doc_id", n_chars.alias("n_chars"), n_tokens.alias("n_tokens"),
        alpha_ratio.alias("alpha_ratio"), stop_ratio.alias("stop_ratio"),
        mean_tok_len.alias("mean_tok_len"), score.alias("quality_score"),
    )


def quality_filter(docs: DataFrame, min_tokens: int = 10,
                   min_alpha: float = 0.70, min_stop: float = 0.02,
                   min_score: float = 0.55) -> DataFrame:
    """Keep/drop decision per doc with a FIRST-FAILING-RULE reason —
    the audit trail a production filter chain emits so drop rates are
    attributable per rule (C4/Gopher-rules family).

    All inputs are the q6-quantized :func:`quality_features` values
    (bit-identical across engines), so the threshold comparisons are
    deterministic; the rule ORDER is part of the contract (a doc
    failing several rules reports the first).
    """
    f = quality_features(docs)
    reason = (
        F.when(F.col("n_tokens") < min_tokens, F.lit("too_short"))
        .when(F.col("alpha_ratio") < min_alpha, F.lit("low_alpha"))
        .when(F.col("stop_ratio") < min_stop, F.lit("low_stopword"))
        .when(F.col("quality_score") < min_score, F.lit("low_score"))
        .otherwise(F.lit("kept"))
    )
    return f.select(
        "doc_id", "n_tokens", "quality_score",
        reason.alias("reason"), (reason == "kept").alias("keep"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace tokens vs BPE-ish regex segments (alnum runs +
    individual punctuation)."""
    text = F.col("text")
    return docs.select(
        "doc_id",
        F.size(tokenize(text)).cast("long").alias("n_words"),
        F.size(F.regexp_extract_all(F.lower(text), F.lit(BPE_ISH), 0))
         .cast("long").alias("n_bpe_ish"),
    )


PACK_CAPACITY = 2048
PACK_SHARDS = 8


def pack_sequences(docs: DataFrame) -> DataFrame:
    """Pack documents into fixed token-budget training sequences —
    the assembly step between a cleaned corpus and a trainer's
    dataloader.

    Deterministic streaming next-fit: docs are sharded by
    ``hash60(id) % PACK_SHARDS``, ordered within the shard by (hash, id)
    — a stable pseudo-shuffle, so the mixing order is a pure function
    of the ids (restart-safe, rerun-identical, no RNG state) — then a
    per-shard running token total places each doc at
    ``seq_id = floor(start / PACK_CAPACITY)``, ``seq_offset = start %
    PACK_CAPACITY``. A doc whose tokens straddle a boundary belongs to the
    sequence where it STARTS (may overflow by < its own length — the
    standard streaming-pack semantics; the trainer truncates or
    spills the tail).

    Scale shape: one shuffle on ``shard``; each shard's window cumsum
    runs independently, so parallelism = ``PACK_SHARDS`` (thousands at
    100 TB — here 8 so sf0.01 exercises multi-doc sequences). All
    arithmetic is integer — ``seq_id`` uses true integer division
    (Spark ``DIV``, oracle ``//``), never a double round-trip, so the
    cross-engine hash-exactness claim holds for the full int64 range,
    not just below 2^53.
    """
    return _pack_starts(docs).select(
        "doc_id", "n_tokens", "shard",
        F.expr(f"_start DIV {PACK_CAPACITY}").alias("seq_id"),
        (F.col("_start") % PACK_CAPACITY).alias("seq_offset"),
    )


def _pack_starts(docs: DataFrame) -> DataFrame:
    """Shared packing core: per-doc running token ``_start`` within its
    hash shard (see :func:`pack_sequences` for the ordering contract)."""
    from pyspark.sql import Window

    from ..functions.textfns import hash60

    h = hash60(F.col("doc_id").cast("string"))
    # NULL text folds into the empty-string case (one phantom ''
    # token), the repo-wide convention: otherwise pack_sequences would
    # emit a NULL-n_tokens row (poisoning every later _start in the
    # shard) while pack_sequence_fragments dropped the doc, and the two
    # views would disagree on corpus membership.
    t = docs.select(
        F.col("doc_id"),
        F.size(tokenize(F.coalesce(F.col("text"), F.lit(""))))
         .cast("long").alias("n_tokens"),
        h.alias("_h"),
        (h % PACK_SHARDS).alias("shard"),
    )
    w = (Window.partitionBy("shard").orderBy("_h", "doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return t.select("doc_id", "n_tokens", "shard", start.alias("_start"))


def pack_sequence_fragments(docs: DataFrame) -> DataFrame:
    """Boundary-splitting sequence packing: the trainer-facing variant
    of :func:`pack_sequences`.

    Where ``pack_sequences`` assigns a straddling doc to the sequence
    it STARTS in (and lets the trainer spill the tail),
    this emits one row per (doc, sequence) FRAGMENT: a doc occupying
    token interval ``[start, start + n_tokens)`` is split at every
    multiple of ``PACK_CAPACITY``, yielding ``(doc_id, shard, seq_id,
    frag_offset, frag_len)`` with the invariants

    - per-doc ``sum(frag_len) == n_tokens``,
    - ``0 <= frag_offset`` and ``frag_offset + frag_len <= PACK_CAPACITY``
      (no fragment crosses a boundary),
    - consecutive fragments of a doc tile adjacent sequences.

    Zero-token docs are dropped (nothing to train on). The fan-out is
    ``F.sequence`` over the spanned seq range + ``explode`` — pure
    expressions, and the explosion factor per doc is
    ``ceil(n_tokens / PACK_CAPACITY) + 1`` at most, so the output is
    ~``total_tokens / PACK_CAPACITY`` rows regardless of doc skew. All
    arithmetic integer (``DIV`` both sides).
    """
    c = PACK_CAPACITY
    t = _pack_starts(docs).where(F.col("n_tokens") > 0)
    f = t.select(
        "doc_id", "shard", "_start", "n_tokens",
        F.explode(F.sequence(
            F.expr(f"_start DIV {c}"),
            F.expr(f"(_start + n_tokens - 1) DIV {c}"),
        )).alias("seq_id"),
    )
    frag_from = F.greatest(F.col("_start"), F.col("seq_id") * c)
    frag_to = F.least(F.col("_start") + F.col("n_tokens"),
                      (F.col("seq_id") + 1) * c)
    return f.select(
        "doc_id", "shard", "seq_id",
        (frag_from - F.col("seq_id") * c).alias("frag_offset"),
        (frag_to - frag_from).alias("frag_len"),
    )


# Decontamination: the in-corpus eval slice is ``doc_id % EVAL_MOD == 0``,
# and a (train, eval) pair is contaminated at MIN_SHARED_GRAMS shared
# distinct grams.
EVAL_MOD = 50
MIN_SHARED_GRAMS = 3


def contamination_pairs(docs: DataFrame) -> DataFrame:
    """Benchmark decontamination: (train doc, eval doc) pairs sharing
    ≥ ``MIN_SHARED_GRAMS`` distinct word ``GRAM_N``-grams — the overlap
    check a training corpus runs against every eval benchmark before
    training.

    Here the "benchmark" is the deterministic slice ``id % EVAL_MOD
    == 0`` of the corpus itself (the test dirs carry no separate eval
    table; at deployment the eval side is the real benchmark corpus).

    Scale shape: eval sets are benchmark-sized (thousands of docs), so
    the eval shingle table BROADCASTS; the corpus side explodes its
    shingles map-side and probes the broadcast hash — the 100 TB side
    never shuffles its text, and the only shuffle is the (train, eval)
    pair count, bounded by actual collisions. Integer hash counts →
    cross-engine exact.
    """
    from ..functions.textfns import hash60, shingles, tokenize as tok

    # Token array materialized BELOW the explode: the shingle
    # expression references it three times (guard size, sequence
    # size, slice) and Generate inlines its generator — without the
    # projection the regex tokenizer runs thrice per corpus row.
    t = docs.select(F.col("doc_id"), tok(F.col("text")).alias("_toks"))
    h = t.select(
        F.col("doc_id"),
        F.explode(F.transform(shingles(F.col("_toks"), GRAM_N), hash60))
         .alias("g"))
    ev = h.where(F.col("doc_id") % EVAL_MOD == 0).select(
        F.col("doc_id").alias("eval_doc_id"), "g")
    tr = h.where(F.col("doc_id") % EVAL_MOD != 0).select(
        F.col("doc_id").alias("train_doc_id"), "g")
    return (
        tr.join(F.broadcast(ev), "g")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .where(F.col("n_shared_grams") >= MIN_SHARED_GRAMS)
    )


def contamination_pairs_external(train_docs: DataFrame,
                                 eval_docs: DataFrame) -> DataFrame:
    """Decontamination against a genuinely EXTERNAL eval corpus.

    :func:`contamination_pairs` carves its "benchmark" out of the
    corpus itself (``id % EVAL_MOD``); this is the deployment shape —
    the eval side is a separate table with its own schema (a string
    ``eval_id`` + ``prompt``, deliberately different column names and
    types from the train side's ``doc_id`` + ``text``, so train/eval
    schema drift is exercised, not assumed away).

    Same scale shape: the benchmark-sized eval shingle table
    BROADCASTS; the 100 TB train side explodes its shingles map-side
    and probes the broadcast hash; only actual collision pairs
    shuffle into the final count.
    """
    from ..functions.textfns import hash60, shingles, tokenize as tok

    def _grams(df: DataFrame, idc: str, alias: str, txt: str) -> DataFrame:
        # Same materialize-below-the-explode shape as
        # contamination_pairs: one tokenizer run per row.
        t = df.select(F.col(idc).alias(alias), tok(F.col(txt)).alias("_toks"))
        return t.select(
            alias,
            F.explode(F.transform(shingles(F.col("_toks"), GRAM_N), hash60))
             .alias("g"))

    tr = _grams(train_docs, "doc_id", "train_doc_id", "text")
    ev = _grams(eval_docs, "eval_id", "eval_id", "prompt")
    return (
        tr.join(F.broadcast(ev), "g")
        .groupBy("train_doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .where(F.col("n_shared_grams") >= MIN_SHARED_GRAMS)
    )


def tfidf_pairs(docs: DataFrame, threshold: float = 0.5,
                max_df: int = 100) -> DataFrame:
    """Document-pair cosine similarity over TF-IDF weights.

    Inverted-index formulation: pairs are generated per TERM (join on
    the term), never as a doc×doc product — the classic IR trick that
    keeps 100 TB feasible. Terms with document frequency > ``max_df``
    are pruned first (an integer, cross-engine-exact condition): high-
    df terms contribute least weight but dominate the per-term join's
    quadratic cost.

    idf = ln(N/df); weights/norms are floats but every input is
    identical across engines, and outputs are 6dp-quantized.
    """
    toks = docs.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # N rides in the plan as a broadcast 1-row aggregate (a scalar
    # subquery shape) — no driver action anywhere in the operator.
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    w = (
        tf.join(df_, "term")
        .where(F.col("df") <= max_df)
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "term",
                (F.col("tf") * F.log(F.col("_n") / F.col("df")))
                .alias("w"))
    )
    norm = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w")))
                                 .alias("norm"))
    wa = (w.join(norm, "doc_id")
          .select(F.col("doc_id").alias("id_a"), "term",
                  F.col("w").alias("wa"), F.col("norm").alias("na")))
    wb = (w.join(norm, "doc_id")
          .select(F.col("doc_id").alias("id_b"), "term",
                  F.col("w").alias("wb"), F.col("norm").alias("nb")))
    dots = (
        wa.join(wb, "term")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    # Zero-norm guard: a doc whose surviving terms all have df == N
    # gets idf 0 everywhere, hence norm 0, and ANSI-on Spark 4 would
    # hard-fail the division for every pair it appears in. Degenerate
    # docs carry no tf-idf signal — score their pairs 0, below any
    # meaningful threshold.
    sim = F.floor(F.when(F.col("na") * F.col("nb") == 0, F.lit(0.0))
                  .otherwise(F.col("dot") / (F.col("na") * F.col("nb")))
                  * 1_000_000 + 0.5) / 1_000_000.0
    return (
        dots.select("id_a", "id_b", sim.alias("tfidf_cosine"))
        .where(F.col("tfidf_cosine") >= threshold)
    )


def repetition_scores(docs: DataFrame) -> DataFrame:
    """Intra-document repetition metrics (Gopher-rules family): the
    quality signal that catches boilerplate/SEO spam which LENGTH and
    stopword ratios miss.

    Per doc: token type-token stats (distinct tokens, most-frequent
    token count) and the same over word BIGRAM occurrences (NOT the
    distinct shingle set — repetition needs occurrence counts), plus
    q6-quantized top-token / top-bigram fractions. High
    ``top_bigram_frac`` ⇒ a phrase loops through the doc.

    Shape: explode → two-level hash aggregate; both levels combine
    map-side, so the shuffle carries one row per (doc, distinct gram),
    bounded by doc content not corpus size. Integer counts →
    cross-engine exact; ratios quantized like the other text ops.
    """
    toks = docs.select("doc_id", F.explode(tokenize(F.col("text")))
                       .alias("tok"))
    tok_counts_ = (
        toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_tokens"),
             F.count(F.lit(1)).alias("distinct_tokens"),
             F.max("c").alias("top_token_n"))
    )
    t = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    grams = t.select(
        "doc_id",
        F.explode(word_ngrams(F.col("toks"), 2)).alias("gram"),
    )
    gram_counts = (
        grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_bigrams"),
             F.count(F.lit(1)).alias("distinct_bigrams"),
             F.max("c").alias("top_bigram_n"))
    )
    q6 = lambda c: F.floor(c * 1_000_000 + 0.5) / 1_000_000.0  # noqa: E731
    out = tok_counts_.join(gram_counts, "doc_id", "left")
    zed = [F.coalesce(F.col(c), F.lit(0)).alias(c)
           for c in ("n_bigrams", "distinct_bigrams", "top_bigram_n")]
    out = out.select("doc_id", "n_tokens", "distinct_tokens", "top_token_n",
                     *zed)
    return out.select(
        "*",
        q6(F.col("top_token_n").cast("double") / F.col("n_tokens"))
            .alias("top_token_frac"),
        F.when(F.col("n_bigrams") > 0,
               q6(F.col("top_bigram_n").cast("double") / F.col("n_bigrams")))
            .otherwise(F.lit(0.0)).alias("top_bigram_frac"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Single-value rolling-hash fingerprint: min 60-bit hash over
    word ``GRAM_N``-grams. Equal fingerprints ⇒ near-identical prefixes
    of content; used for cheap shard-level dedup sweeps.

    Computed via the exploded codegen path (posexplode + window leads
    + hash → min aggregate — the same machinery MinHash uses,
    dedup.exploded_shingle_hashes), not
    ``array_min(transform(shingles(...)))`` + an isNotNull filter.
    The HOF form runs interpreted (higher-order functions exit
    whole-stage codegen, so tokenize re-splits the text several times
    per evaluation) and its pushed-down NULL filter evaluates the
    whole fingerprint a second time below the projection; on the
    single-row-group local scan that was 12.2 s wall ≈ 11.6 s CPU in
    one task. The exploded form is whole-stage codegen, hashes each
    gram once, and parallelizes past the exchange. Docs with fewer
    than ``GRAM_N`` tokens emit no row.

    Assumes ``doc_id`` is unique per document (true for every corpus
    this repo loads, and what the oracle checks): the groupBy
    collapses duplicate ids to ONE row carrying the min across all
    their texts."""
    from .dedup import exploded_shingle_hashes

    return (exploded_shingle_hashes(docs, GRAM_N)
            .groupBy("doc_id")
            .agg(F.min("h").alias("fingerprint")))


CHUNK_CHARS = 200
CHUNK_OVERLAP = 50


def chunk_documents(docs: DataFrame) -> DataFrame:
    """Sliding-window document chunking — the ingest step that turns a
    corpus into retrieval/embedding-sized pieces (RAG prep, context-
    window packing, chunk-level dedup all start here).

    One chunk every ``stride = CHUNK_CHARS - CHUNK_OVERLAP`` characters;
    consecutive chunks share ``CHUNK_OVERLAP`` characters so no boundary
    ever splits content without a covering neighbor. The last chunk
    is the first one whose window reaches the end of the doc (it may
    be shorter than ``CHUNK_CHARS``); a doc no longer than one window
    yields exactly one chunk. Chunk count per doc is
    ``1 + ceil(max(len - CHUNK_CHARS, 0) / stride)`` — computed with
    POSITIVE-operand integer division only (Spark ``DIV`` truncates,
    DuckDB ``//`` floors; they agree only for non-negative operands,
    so the ``len <= CHUNK_CHARS`` case is handled by CASE, not by
    division of a negative numerator).

    Shape: ``sequence`` + ``explode`` + ``substring`` — pure codegen
    expressions, embarrassingly parallel, fan-out per doc is
    ~``len / stride`` rows regardless of doc-length skew.
    """
    stride = CHUNK_CHARS - CHUNK_OVERLAP
    c = CHUNK_CHARS
    # Integer DIV is written in SQL over the projected length.
    length = F.length(F.col("text"))
    last_i = F.when(length <= c, F.lit(0)).otherwise(
        F.expr(f"(`__chunk_len` - {c} + {stride} - 1) DIV {stride}"))
    t = docs.select(
        F.col("doc_id"), F.col("text"), length.alias("__chunk_len"),
    ).select(
        F.col("doc_id"), F.col("text"),
        F.explode(F.sequence(F.lit(0), last_i)).alias("chunk_id"))
    start = (F.col("chunk_id") * stride + 1).cast("long")
    chunk = F.substring(F.col("text"), start, c)
    return t.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        start.alias("chunk_start"),
        F.length(chunk).cast("long").alias("chunk_len"),
        chunk.alias("chunk_text"),
    )


def ngram_counts(docs: DataFrame, n: int = 3) -> DataFrame:
    """Corpus-level word n-gram OCCURRENCE counts (LM-counts flavor):
    the top ``NGRAM_TOP_N`` n-grams by frequency, ties broken by gram
    text.

    Unlike the dedup shingle path this does NOT de-duplicate grams
    within a doc — language-model count tables need occurrences.

    Shape: the wordcount shape one level up — explode n-grams → hash
    aggregate with map-side partial combine (the shuffle carries one
    row per (partition, distinct gram), not per occurrence) → global
    top-N via TakeOrdered. 100 TB-safe: no all-gram sort, the only
    full-width state is the per-partition partial map.

    The token array is materialized in its own projection BELOW the
    explode: the gram expression references it three times (two
    ``size``, one ``slice``), and inlining would re-run the regex
    tokenizer thrice per row (Catalyst's CollapseProject keeps
    non-cheap multi-referenced aliases separate; measured ~1.6× on
    the corpus scan).
    """
    t = docs.select(tokenize(F.col("text")).alias("toks"))
    grams = word_ngrams(F.col("toks"), n)
    counts = (
        t.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        counts.orderBy(F.col("n").desc(), F.col("gram"))
        .limit(NGRAM_TOP_N)
        .select("gram", "n")
    )


NGRAM_TOP_N = 200

# BM25 constants; repr() of these exact doubles is embedded in the
# oracle SQL so both engines evaluate the same IEEE values.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10


def bm25_topk(docs: DataFrame, queries: DataFrame) -> DataFrame:
    """BM25 retrieval: top-``BM25_TOP_K`` documents per query (Robertson/
    Sparck Jones probabilistic ranking — the lexical-retrieval
    baseline every RAG/data-curation stack ships).

    ``score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))``
    with ``k1 = BM25_K1`` and ``b = BM25_B``,
    with ``idf = ln(1 + (N-df+0.5)/(df+0.5))`` (the non-negative
    Lucene form). Document frequency is computed over the corpus
    (restricted to query terms — df of a term is the same whether or
    not other terms are counted), so pruning to the broadcast query
    vocabulary FIRST costs nothing semantically and everything in
    shuffle volume.

    Cross-engine determinism: each per-term contribution is quantized
    to integer micro-units BEFORE summation, so the score sum is
    exact int64 arithmetic — no float-accumulation-order hazard, which
    is what made float percentile sums differ across engines. The only
    float step is the identical scalar expression both engines
    evaluate per (doc, term).

    Scale shape: query sets are benchmark-sized → the query-term
    table broadcasts twice (vocabulary semi-join, score fan-out); the
    corpus side reduces to (doc, matched-term) rows map-side; the
    final top-k is a per-query TakeOrdered window over only matched
    docs. The 100 TB side never shuffles text. ``queries`` holds
    (query_id, qtext).
    """
    k1, b = float(BM25_K1), float(BM25_B)
    # Zero-length terms are filtered on BOTH sides: tokenize('') yields
    # the phantom '' token, so an empty or punctuation-only QUERY would
    # match every empty DOCUMENT and retrieve them rank-1 (idf of '' is
    # high precisely because almost no doc is empty). The corpus-side
    # filter also keeps '' rows out of the explode → vocab join even
    # when a degenerate query slips through.
    qterms = queries.select(
        "query_id",
        F.explode(F.array_distinct(tokenize(F.col("qtext"))))
         .alias("term")).where(F.length("term") > 0)
    vocab = qterms.select("term").distinct()
    # One tokenized base projection; dl (doc token length) rides
    # THROUGH the explode as a carried column, so no corpus-sized
    # doc_id join is ever needed to reattach it — at 100 TB that join
    # would shuffle the whole corpus's doc list. (The token array is
    # materialized below the explode for single tokenizer evaluation,
    # same as the other n-gram operators.)
    t = docs.select("doc_id", tokenize(F.col("text")).alias("_toks"))
    base = t.select(
        "doc_id",
        F.size("_toks").cast("long").alias("dl"),
        F.explode("_toks").alias("term")).where(F.length("term") > 0)
    tfq = (base.join(F.broadcast(vocab), "term")
           .groupBy("doc_id", "dl", "term")
           .agg(F.count(F.lit(1)).alias("tf")))
    dfr = tfq.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # Corpus stats (N, avgdl) need ALL docs — including ones matching
    # no query term — so they are a separate 1-row aggregate pass (at
    # deployment: corpus metadata computed once, a broadcast scalar).
    stats = t.agg(F.count(F.lit(1)).cast("double").alias("_n"),
                  F.avg(F.size("_toks").cast("long")).alias("_avgdl"))
    idf = F.log(1.0 + (F.col("_n") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.col("_avgdl")))
    w_micro = F.floor(idf * ((F.col("tf") * F.lit(k1 + 1.0)) / denom)
                      * 1_000_000 + 0.5).cast("long")
    # dfr is query-vocabulary-sized (tiny): broadcast it explicitly so
    # a stats misestimate can never shuffle the corpus-sized tf table
    # on `term` — a skewed key at 100 TB (stopword-ish query terms
    # concentrate most of the corpus rows on a handful of terms).
    w = (tfq.join(F.broadcast(dfr), "term")
         .crossJoin(F.broadcast(stats))
         .select("doc_id", "term", w_micro.alias("w_micro")))
    scored = (w.join(F.broadcast(qterms), "term")
              .groupBy("query_id", "doc_id")
              .agg(F.sum("w_micro").alias("score_micro")))
    from pyspark.sql import Window
    rank = F.row_number().over(
        Window.partitionBy("query_id")
        .orderBy(F.col("score_micro").desc(), "doc_id"))
    return (scored.select("query_id", "doc_id", "score_micro",
                          rank.cast("long").alias("rank"))
            .where(F.col("rank") <= BM25_TOP_K))
