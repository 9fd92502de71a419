"""Dedup queries over ``documents`` with value-level DuckDB oracles.

The Spark plans and the oracle SQL share one source of truth for
every constant (hash function, MinHash permutation params, band
layout, SimHash bit width) — generated from
:mod:`..functions.textfns` / :mod:`..operators.dedup` — so signatures
match bit-for-bit across engines.

Oracle strategy per query:

- ``exact_dedup_groups`` / ``*_signatures``: same computation, same
  values.
- ``minhash_dedup_pairs``: oracle is EXACT all-pairs Jaccard — it
  validates LSH recall, not just implementation agreement (the banded
  join must find every pair ≥ threshold; P(miss) < 1e-14 at J=0.8
  with b=32, r=2).
- ``simhash_near_dups``: oracle is exact all-pairs Hamming; the Spark
  side uses the pigeonhole-banded join (guaranteed-complete for
  hamming ≤ 7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.textfns import (
    MERSENNE31,
    hash60_sql,
    minhash_params,
    shingle_hashes_sql,
    tokenize_sql,
)
from ..operators import dedup as D
from ..sources.tables import load_table
from .registry import register

_HS = shingle_hashes_sql("text", D.SHINGLE_N)

_SH_CTE = f"""
WITH sh AS (
  SELECT doc_id, {_HS} AS hs
  FROM documents
  WHERE len({_HS}) > 0
)
"""

_P = MERSENNE31


def _minhash_sql_exprs() -> list[str]:
    return [
        f"list_min(list_transform(hs, h -> ({a} * (h % {_P}) + {b}) % {_P}))"
        for a, b in minhash_params(D.K)
    ]


_JACCARD_SQL = (
    "floor((len(list_intersect(a.hs, b.hs)) * 1.0"
    " / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))))"
    " * 1000000 + 0.5) / 1000000.0"
)


@register(
    "exact_dedup_groups",
    oracle="""
SELECT md5(text) AS text_md5, min(doc_id) AS canonical_id,
       count(*) AS n_copies
FROM documents GROUP BY md5(text)
""",
)
def q_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content digest (one shuffle on the
    digest; at 100 TB, hash first so the shuffle moves 32-byte keys,
    not document bodies)."""
    return D.exact_dedup_groups(load_table(spark, sf_dir, "documents"))


@register(
    "minhash_dedup_pairs",
    oracle=_SH_CTE + f"""
SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_JACCARD_SQL} AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE {_JACCARD_SQL} >= 0.8
""",
    headline=True,
)
def q_minhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via MinHash-LSH + exact verify (threshold 0.8).
    Oracle is exhaustive all-pairs Jaccard, so this checks recall."""
    return D.minhash_dedup_pairs(load_table(spark, sf_dir, "documents"),
                                 threshold=0.8)


@register(
    "streaming_minhash_dedup",
    oracle=_SH_CTE + f"""
, s AS (
  SELECT doc_id,
         array_to_string([{', '.join(_minhash_sql_exprs())}], ',') AS signature
  FROM sh)
SELECT signature, min(doc_id) AS canonical_id, count(*) AS n_copies
FROM s GROUP BY signature
""",
)
def q_streaming_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash dedup of an at-least-once (doubled) document
    stream: a state-backed signature table (applyInPandasWithState
    keyed by signature, timeout-EVICTED) emits each doc exactly once,
    draining through a checkpointed parquet sink; the per-signature
    rollup must equal the batch signature-group dedup on a single
    copy, which the batch oracle checks value-for-value (see
    ``streaming.pipeline.streaming_minhash_dedup``)."""
    from ..streaming.pipeline import streaming_minhash_dedup
    return streaming_minhash_dedup(spark, sf_dir)


@register(
    "ngram_jaccard_pairs",
    oracle=_SH_CTE + f"""
SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_JACCARD_SQL} AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE {_JACCARD_SQL} >= 0.5
""",
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram Jaccard pairs at threshold 0.5 via prefix
    filtering (rarest-shingle inverted index + verify). The oracle is
    exhaustive all-pairs Jaccard, so the hash match PROVES the prefix
    pruning is lossless — it's a stronger check than a mirrored
    bucketing oracle would be."""
    return D.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"),
                                 threshold=0.5)


_CLUSTER_DEPTH = 8


def _dedup_clusters_oracle() -> str:
    """Pairs (exact all-pairs Jaccard ≥ 0.8) → connected components
    (min-label propagation unrolled to ``_CLUSTER_DEPTH``, MATERIALIZED like
    the graph CC oracle) → one row per document with its cluster label
    and canonical flag. Depth 8 covers any near-dup chain the test
    data produces (dup clusters are near-cliques; verified converged
    at sf0.01 and sf0.1)."""
    ctes = [
        _SH_CTE.strip().removeprefix("WITH").replace(
            "sh AS (", "sh AS MATERIALIZED (", 1),
        f"""pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE {_JACCARD_SQL} >= 0.8
)""",
        """sym AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL SELECT id_b AS a, id_a AS b FROM pairs
)""",
        """l0 AS MATERIALIZED (
  SELECT DISTINCT a AS node, a AS component FROM sym
)""",
    ]
    for i in range(1, _CLUSTER_DEPTH + 1):
        ctes.append(f"""l{i} AS MATERIALIZED (
  SELECT n.node,
         least(n.component, coalesce(m.mn, n.component)) AS component
  FROM l{i - 1} n LEFT JOIN (
    SELECT s.a AS node, min(l.component) AS mn
    FROM sym s JOIN l{i - 1} l ON s.b = l.node GROUP BY s.a
  ) m ON n.node = m.node
)""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT d.doc_id,
       coalesce(l.component, d.doc_id) AS cluster_id,
       count(*) OVER (PARTITION BY coalesce(l.component, d.doc_id))
         AS cluster_size,
       CAST(coalesce(l.component, d.doc_id) = d.doc_id AS BIGINT)
         AS is_canonical
FROM documents d LEFT JOIN l{_CLUSTER_DEPTH} l ON d.doc_id = l.node
""")


@register("dedup_clusters", oracle=_dedup_clusters_oracle())
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup deduplication — the composite a training-
    data pipeline actually runs: MinHash-LSH pairs → connected
    components over the duplicate graph → every document labeled with
    its cluster and whether it is the cluster's canonical keeper
    (minimum doc_id). Docs in no pair are their own singleton cluster.

    Scale shape: the pair graph is tiny relative to the corpus (only
    near-dups appear), so the iterative CC runs on a residual graph;
    the corpus-wide work is the one LSH pass plus a final broadcast
    join of labels onto doc_ids."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators import graph as G

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(docs, threshold=0.8).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # The LSH pairs are distinct id_a < id_b with no self-loops by
    # construction: skip CC's normalize+distinct shuffle.
    labels = G.connected_components(pairs, assume_canonical=True)
    out = (
        docs.select("doc_id")
        .join(labels.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
        )
    )
    return out.select(
        "doc_id", "cluster_id",
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
            .alias("cluster_size"),
        (F.col("cluster_id") == F.col("doc_id")).cast("long")
            .alias("is_canonical"),
    )


def _simhash_sql() -> str:
    terms = [
        "(CASE WHEN list_sum(list_transform(hs,"
        f" h -> ((h >> {j}) & 1) * 2 - 1)) >= 0"
        f" THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(D.SIMHASH_BITS)
    ]
    return "(" + " + ".join(terms) + ")"


@register(
    "simhash_near_dups",
    oracle=_SH_CTE + f"""
, sigs AS (SELECT doc_id, {_simhash_sql()} AS simhash FROM sh)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
""",
)
def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups (Hamming ≤ 6 of 48 bits) via pigeonhole-banded
    equi-join; oracle is exact all-pairs Hamming."""
    return D.simhash_near_dup_pairs(load_table(spark, sf_dir, "documents"),
                                    max_hamming=6)


@register(
    "dedup_survivors",
    oracle=f"""
WITH clus AS ({_dedup_clusters_oracle()})
SELECT d.doc_id, d.source, d.lang
FROM documents d JOIN clus c ON d.doc_id = c.doc_id
WHERE c.is_canonical = 1
""",
)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL step completing the near-dup story (the analogue of
    ``decontaminated_corpus`` for dedup): the corpus with every
    non-canonical cluster member dropped — what actually ships to the
    trainer after MinHash near-dedup.

    A doc is removed iff it appears in the duplicate graph with a
    component label smaller than itself; survivors are the per-cluster
    minima plus every singleton. Scale shape: the removal list is
    bounded by actual near-dups (tiny vs the corpus), so the final
    step is a broadcast anti-join the 100 TB side streams through
    map-side; the oracle recomputes clusters exhaustively
    (all-pairs Jaccard + unrolled min-label CC), so the hash match
    re-proves LSH recall AND CC convergence on the removal set."""
    docs = load_table(spark, sf_dir, "documents")
    return D.dedup_survivors(docs, threshold=0.8) \
        .select("doc_id", "source", "lang")


# --- span-level (substring) cross-document dedup ----------------------------
# Shared SQL fragments mirror operators/dedup.py span functions; the
# window length constant comes from one place (D.SPAN_N) so the two
# engines can never disagree on the grain.

_SPN = D.SPAN_N


def _span_cte(src: str = "documents") -> str:
    """The span-dedup oracle preamble (tokenize → window fps → fp
    groups), parameterized on the source relation so the composed
    ``clean_corpus`` oracle can run the identical algebra over the
    survivor CTE instead of the raw corpus."""
    return f"""
WITH t AS (
  SELECT doc_id, {tokenize_sql('text')} AS toks FROM {src}
),
w AS (
  SELECT doc_id, i,
         {hash60_sql(f"array_to_string(list_slice(toks, i, i + {_SPN - 1}), ' ')")} AS fp
  FROM t, unnest(range(1, len(toks) - {_SPN - 2})) AS r(i)
  WHERE len(toks) >= {_SPN}
),
g AS (
  SELECT fp, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS min_doc
  FROM w GROUP BY fp
)
"""


_SPAN_CTE = _span_cte()

def _islands_sql(src: str, pos: str, end_expr: str, prefix: str) -> str:
    """Gaps-and-islands over per-doc coverage intervals [pos,
    end_expr] — the SQL mirror of operators.dedup._merge_islands,
    parameterized so the window-interval use (repeated_spans, width
    SPAN_N) and the removed-token use (span_deduped_corpus, unit
    width) share ONE copy of the open-condition logic."""
    return f"""
{prefix} AS (
  SELECT *, {end_expr} AS e,
         CASE WHEN max({end_expr}) OVER prev IS NULL
                OR {pos} > max({end_expr}) OVER prev + 1
              THEN 1 ELSE 0 END AS opens
  FROM {src}
  WINDOW prev AS (PARTITION BY doc_id ORDER BY {pos}
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
{prefix}2 AS (
  SELECT *, sum(opens) OVER (PARTITION BY doc_id ORDER BY {pos}
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS island
  FROM {prefix}
)
"""


@register(
    "repeated_spans",
    oracle=_SPAN_CTE + ",\nflagged AS (SELECT w.* FROM w JOIN g USING (fp)"
    " WHERE n_docs >= 2),\n"
    + _islands_sql("flagged", "i", f"i + {_SPN - 1}", "isl") + f"""
SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start,
       CAST(max(e) - min(i) + 1 AS BIGINT) AS span_len,
       arg_min(fp, i) AS lead_fp,
       count(*) AS n_windows
FROM isl2 GROUP BY doc_id, island
""",
)
def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level cross-doc dedup, detection half (Lee et al. 2021
    repeated-substring removal, distributed as fixed-length token
    window fingerprints): maximal merged regions whose SPAN_N(=8)-token
    windows recur in >= 2 distinct docs. The corpus-scale window
    table groups on an 8-byte fp with map-side partial aggregation;
    only repeated fps (the repeated CONTENT — tiny) come back via an
    equi-join; region merge shuffles per-doc triples. Never all-pairs
    (pinned in test_plans)."""
    return D.repeated_spans(load_table(spark, sf_dir, "documents"))


# The removal-half oracle body after the span preamble: source-
# agnostic (it only references the t/w/g CTEs), shared verbatim by
# ``span_deduped_corpus`` (over the raw corpus) and ``clean_corpus``
# (over the survivor corpus).
_SPAN_REMOVAL_TAIL = f"""
, flagged AS (
  SELECT w.*, g.min_doc FROM w JOIN g USING (fp) WHERE n_docs >= 2
),
cov AS (
  SELECT DISTINCT doc_id, j
  FROM flagged, unnest(range(i, i + {_SPN})) AS r(j)
  WHERE doc_id <> min_doc
),
keepcov AS (
  SELECT DISTINCT doc_id, j
  FROM flagged, unnest(range(i, i + {_SPN})) AS r(j)
  WHERE doc_id = min_doc
),
removed AS (
  SELECT doc_id, j FROM cov ANTI JOIN keepcov USING (doc_id, j)
),
{_islands_sql("removed", "j", "j", "risl").strip().rstrip()}
,
nrm AS (
  SELECT doc_id, CAST(count(DISTINCT island) AS BIGINT) AS n
  FROM risl2 GROUP BY doc_id
),
tokpos AS (
  SELECT doc_id, i AS j, toks[i] AS tk
  FROM t, unnest(range(1, len(toks) + 1)) AS r(i)
),
kept AS (
  SELECT doc_id, j, tk FROM tokpos ANTI JOIN removed USING (doc_id, j)
),
ct AS (
  SELECT doc_id, string_agg(tk, ' ' ORDER BY j) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, coalesce(nrm.n, 0) AS n_spans_removed,
       coalesce(ct.clean_text, '') AS clean_text
FROM t LEFT JOIN nrm USING (doc_id) LEFT JOIN ct USING (doc_id)
"""


@register(
    "span_deduped_corpus",
    oracle=_SPAN_CTE + _SPAN_REMOVAL_TAIL,
)
def q_span_deduped_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup, removal half: window-granular keep-first
    removal with ownership protection (a doc never loses tokens
    covered by a repeated window IT keeps — see the operator
    docstring for why that guarantee needs the protection term).
    Oracle recomputes the coverage algebra token-by-token from
    scratch — the hash match proves flagging, ownership, protection,
    island merging, and the filter-by-index reconstruction at once."""
    return D.span_deduped_corpus(load_table(spark, sf_dir, "documents"))


# --- URL/metadata dedup ------------------------------------------------------

def _canon_url_sql(expr: str) -> str:
    """DuckDB mirror of :func:`operators.dedup.canonical_url`: the
    same :data:`URL_CANON_STEPS` regex chain + host-only lowercasing,
    generated from the one shared constant tuple so the engines
    cannot drift. Every step is start-anchored or consumes to
    end-of-string ([\\s\\S]*), so RE2's first-match regexp_replace
    equals Java's replace-all (newlines included — see the constant's
    rationale)."""
    e = expr
    for pat, rep in D.URL_CANON_STEPS:
        e = f"regexp_replace({e}, '{pat}', '{rep}')"
    h = D.URL_HOST_RE
    return (f"lower(regexp_extract({e}, '{h}'))"
            f" || regexp_replace({e}, '{h}', '')")


@register(
    "canonical_url_groups",
    oracle=f"""
SELECT {_canon_url_sql('source')} AS canonical_url,
       min(doc_id) AS canonical_id,
       count(*) AS n_docs,
       count(DISTINCT source) AS n_variants
FROM documents
GROUP BY 1
""",
)
def q_canonical_url_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/metadata dedup — the FIRST pass real pipelines run, before
    any content dedup: group re-fetches of the same resource
    (scheme / www / query-param / fragment / trailing-slash variants)
    by canonical URL. Same hash-agg scale shape as
    ``exact_dedup_groups``; the canonicalization itself is a codegen
    regexp chain evaluated inside the scan. The synthetic ``source``
    column holds opaque ids (already canonical — the driver check
    verifies the algebra is value-preserving on them);
    ``test_canonical_url_cross_engine`` proves the Spark and DuckDB
    chains agree on realistic messy URLs."""
    return D.canonical_url_groups(load_table(spark, sf_dir, "documents"))


# --- end-to-end curation composition ----------------------------------------

def _clean_corpus_oracle() -> str:
    """Composed oracle: the dedup_survivors cluster replay (all-pairs
    Jaccard + unrolled CC — proves LSH recall and CC convergence)
    feeds the span-removal algebra (token-recomputed — proves
    flagging/ownership/protection/merge) over the SURVIVOR corpus.
    One hash match checks the whole chained pipeline."""
    surv = f"""WITH surv AS (
  WITH clus AS ({_dedup_clusters_oracle()})
  SELECT d.doc_id, d.text FROM documents d
  JOIN clus c ON d.doc_id = c.doc_id WHERE c.is_canonical = 1
),
"""
    span = _span_cte("surv").lstrip().removeprefix("WITH")
    return surv + span + _SPAN_REMOVAL_TAIL


# headline: the composed curation chain is the LLM-pipeline path's
# representative in bench.py, which records its plan-work metrics.
@register("clean_corpus", oracle=_clean_corpus_oracle(), headline=True)
def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shipped artifact of a curation pipeline, end-to-end: doc-
    level near-dedup REMOVAL first (MinHash-LSH → CC → keep canonical
    members), THEN span-level repeated-substring removal over the
    survivors — the order real pipelines use (Lee et al. 2021 run
    exact-substring dedup after document-level dedup; removing doc
    dups first also shrinks the span fingerprint table and prevents
    whole-doc near-dups from masquerading as giant repeated spans).

    Scale shape: composition adds NO new shuffle classes — the
    survivor anti-join streams the corpus map-side, and the span
    stage's only corpus-scale shuffle remains the 8-byte fp group.
    Returns (doc_id, n_spans_removed, clean_text) for every surviving
    doc."""
    docs = load_table(spark, sf_dir, "documents")
    return D.span_deduped_corpus(D.dedup_survivors(docs, threshold=0.8))
