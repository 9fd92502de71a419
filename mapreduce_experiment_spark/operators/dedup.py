"""Deduplication operators for LLM training-data pipelines.

Four families, all Spark-first (no Python UDFs anywhere — the whole
suite is higher-order array functions + joins, so it runs inside
whole-stage codegen):

- exact: hash-groupBy on content digest.
- MinHash + LSH: shingle → 60-bit hash → k permuted mins → banded
  bucket-join for candidates → exact Jaccard verify. The LSH
  bucket-join is the 100 TB path: candidates are generated by an
  equi-join on (band_idx, band_key), never by an all-pairs product.
- SimHash: per-bit majority over shingle hashes → 48-bit signature;
  near-dup pairs via pigeonhole-banded equi-join + Hamming verify.
- n-gram Jaccard: EXACT pairs via prefix filtering (rarest-shingle
  inverted index + verify) — lossless at the threshold, no cartesian;
  the quadratic all-pairs form survives only as a test reference.

Embedding-cosine near-dup lives in :mod:`.similarity`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textfns import (
    MERSENNE31,
    hash60,
    minhash_params,
    tokenize,
)
from ..session import materialize

# MinHash configuration (mirrored in plans/queries_dedup.py oracle SQL).
SHINGLE_N = 3   # words per shingle
K = 64          # signature length
BAND_R = 2      # rows per band
BAND_B = K // BAND_R  # 32 bands → P(catch) = 1-(1-J^2)^32; ~1 at J>=0.8
SIMHASH_BITS = 48
SIMHASH_CHUNKS = 8  # pigeonhole: hamming <= 7 guarantees a matching chunk


def exploded_shingle_hashes(docs: DataFrame, n: int) -> DataFrame:
    """Shingle hashes as (id, h) rows — the codegen path.

    posexplode the tokens, form each n-gram with window leads, hash in
    a plain projection: every step is whole-stage codegen, versus the
    per-element interpreted evaluation of higher-order array
    functions. Emits one row per gram OCCURRENCE (duplicates
    included); min-aggregates are duplicate-insensitive and the
    set-building consumer dedups with collect_set.
    """
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("pos", "tok"))
    if n == 1:
        # Unigrams need no window join-up; the general path below
        # indexes leads[-1], which is empty for n=1.
        return toks.select("doc_id", hash60(F.col("tok")).alias("h"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", i).over(w) for i in range(1, n)]
    grams = toks.select(
        "doc_id", F.concat_ws(" ", F.col("tok"), *leads).alias("gram"),
        leads[-1].alias("_last"))
    return (grams.where(F.col("_last").isNotNull())
            .select("doc_id", hash60(F.col("gram")).alias("h")))


def shingle_sets(docs: DataFrame) -> DataFrame:
    """Distinct shingle-hash set per doc (for exact Jaccard verify),
    built from the exploded codegen path."""
    return (exploded_shingle_hashes(docs, SHINGLE_N)
            .groupBy("doc_id")
            .agg(F.collect_set("h").alias("shingle_hashes")))


def minhash_signatures_from_agg(sh: DataFrame) -> DataFrame:
    """K-element MinHash signatures via explode + K-min hash aggregate.

    The pure-JVM shape: mins combine map-side (partial agg), so the
    shuffle carries K longs per doc regardless of document size. Kept
    as the no-Python reference path; tests pin it bit-equal to the
    Arrow path below, which is ~40% faster end-to-end.
    """
    p = F.lit(MERSENNE31)
    exploded = (
        sh.select("doc_id", F.explode("shingle_hashes").alias("h"))
        .select("doc_id", (F.col("h") % p).alias("hm"))
    )
    mins = [
        F.min((F.lit(a) * F.col("hm") + F.lit(b)) % p).alias(f"s{i}")
        for i, (a, b) in enumerate(minhash_params(K))
    ]
    agg = exploded.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id", F.array(*[f"s{i}" for i in range(K)]).alias("sig"))


def minhash_signatures_from(sh: DataFrame,
                            passthrough: dict[str, str] | None = None,
                            ) -> DataFrame:
    """K-element MinHash signatures from a shingle-hash table, computed
    as one vectorized (K × n_shingles) modular matrix op per doc via
    Arrow `mapInPandas`.

    The arithmetic is exact int64 — a*h+b < 2^31·2^31 = 2^62 — so the
    signatures are bit-identical to the JVM aggregate path
    (:func:`minhash_signatures_from_agg`) and to the SQL oracle's
    per-permutation folds. The input is the already-aggregated shingle
    SET table, so this is a map-side pass with no extra shuffle; the
    64 permutations never appear as separate Catalyst expressions.
    ``doc_id`` keeps its own type (long or string).

    ``passthrough`` ({column: spark-ddl-type}) carries extra columns
    of ``sh`` through the map unchanged (one output row per input
    row) — the streaming dedup path uses it to keep its event-time
    column alive across the signature op so the downstream stateful
    operator can evict by watermark.
    """
    import numpy as np
    import pandas as pd

    params = np.array(minhash_params(K), dtype=np.int64)
    a_vec, b_vec = params[:, 0], params[:, 1]
    p = MERSENNE31
    extra = passthrough or {}

    def sig(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            keep, sigs = [], []
            for i, hs in enumerate(pdf["shingle_hashes"]):
                hm = np.asarray(hs, dtype=np.int64) % p
                if hm.size == 0:
                    # Empty shingle set (too-short doc): DROP the row,
                    # matching the JVM agg path (groupBy never creates
                    # it) — unguarded, np.min over a zero-width matrix
                    # raises ValueError and kills the whole job.
                    continue
                m = (a_vec[:, None] * hm[None, :] + b_vec[:, None]) % p
                keep.append(i)
                sigs.append(m.min(axis=1))
            if not keep:
                continue  # a 0-row frame would type `sig` float64,
                # which Arrow can't map to the declared array<long>
            out = pdf.iloc[keep][["doc_id", *extra]].copy()
            out["sig"] = sigs
            yield out[["doc_id", "sig", *extra]]

    id_ddl = sh.schema["doc_id"].dataType.simpleString()
    extra_ddl = "".join(f", {c} {t}" for c, t in extra.items())
    return sh.select("doc_id", "shingle_hashes", *extra).mapInPandas(
        sig, schema=f"doc_id {id_ddl}, sig array<long>{extra_ddl}")


def minhash_signatures(docs: DataFrame) -> DataFrame:
    return minhash_signatures_from(shingle_sets(docs))


def _jaccard(a: F.Column, b: F.Column) -> F.Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - F.size(F.array_intersect(a, b)))


def minhash_dedup_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Near-duplicate pairs: LSH candidates, exact-Jaccard verified.

    Scale shape: one narrow pass computes signatures; explode to
    b=32 band rows per doc; shuffle ONCE on (band, key) to bucket;
    pairs within buckets dedup via id_a < id_b + distinct; verify is
    a cheap array op on the joined rows. No cross join anywhere.
    """
    # The shingle-set table is reused three times (signatures + two
    # verify joins), so tokenize/shingle/md5 runs once per doc. All
    # three consumers sit in the caller's one action, so it is lazy
    # and materializes inside that job.
    sh = materialize(shingle_sets(docs), eager=False)
    sigs = minhash_signatures_from(sh)
    # Shuffle discipline: the banded join moves only (id, band, key) —
    # the shingle-hash arrays (the wide payload) stay out of the 32×
    # band explosion and are joined back onto the small candidate set.
    bands = sigs.select(
        F.col("doc_id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(BAND_B - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.concat_ws(
                        "-",
                        F.slice(F.col("sig"), b * BAND_R + 1, BAND_R)
                         .cast("array<string>"),
                    ).alias("key"),
                ),
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")

    left = bands.select(F.col("doc_id").alias("id_a"), "band", "key")
    right = bands.select(F.col("doc_id").alias("id_b"), "band", "key")
    cands = (
        left.join(right, ["band", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    cands = (
        cands.join(sh.select(F.col("doc_id").alias("id_a"),
                             F.col("shingle_hashes").alias("sh_a")), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"),
                        F.col("shingle_hashes").alias("sh_b")), "id_b")
    )
    j = _jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        cands.select(
            "id_a", "id_b",
            (F.floor(j * 1_000_000 + 0.5) / 1_000_000.0).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_allpairs(docs: DataFrame,
                                 threshold: float = 0.8) -> DataFrame:
    """Exact all-pairs n-gram Jaccard — quadratic reference used by
    tests to prove the prefix-filtered plan below loses nothing."""
    sh = shingle_sets(docs)
    a = sh.select(F.col("doc_id").alias("id_a"),
                  F.col("shingle_hashes").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"),
                  F.col("shingle_hashes").alias("sh_b"))
    j = _jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                (F.floor(j * 1_000_000 + 0.5) / 1_000_000.0).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """EXACT n-gram Jaccard pairs via prefix filtering — no cartesian.

    The set-similarity-join principle (Bayardo et al., WWW'07; Vernica
    et al., SIGMOD'10): order every doc's shingles by a global total
    order (doc-frequency ascending, hash tie-break) and index only the
    first ``|S| - floor(t*|S|) + 1`` of them; any pair with
    ``J >= t`` must collide on at least one indexed shingle, so an
    equi-join on those prefix keys generates a candidate superset and
    the exact-Jaccard verify makes the result IDENTICAL to all-pairs
    (the all-pairs oracle checks exactly that).

    Scale shape: rarest-first ordering means hot shingles are never
    join keys (skew immunity); the join input is ~(1-t)·|S|+1 narrow
    rows per doc; the wide shingle arrays join back onto the small
    verified candidate set only.

    The exploded shingle table feeds three consumers (set-collect,
    doc-frequency, prefix ranking); it and the two derived tables the
    returned plan reads (set table, narrow prefix) are materialized
    eagerly, so parallel stages never race past a lazy one.
    """
    from pyspark.sql import Window

    ex = materialize(exploded_shingle_hashes(docs, SHINGLE_N).distinct())
    sh = materialize(ex.groupBy("doc_id")
                     .agg(F.collect_set("h").alias("shingle_hashes")))

    dfreq = ex.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "h")
    # Per-doc shingle count from the already-materialized set table:
    # ex is distinct, so count(*) per doc == size(collect_set). A
    # second window (count(*) OVER (PARTITION BY doc_id)) would buffer
    # every exploded row again just to restate that size (~5 s of the
    # query's 25 s executor CPU at sf0.1, plus a Window and a Sort).
    # The sizes table is one narrow row per doc — broadcastable by
    # AQE locally, an id-keyed join at scale, either way dominated by
    # the ranking exchange that must happen anyway.
    sizes = sh.select("doc_id", F.size("shingle_hashes").alias("n"))
    ranked = (
        ex.join(dfreq, "h")
        .join(sizes, "doc_id")
        .select("doc_id", "h", F.row_number().over(w).alias("rk"), "n")
    )
    prefix_len = (F.col("n")
                  - F.floor(F.lit(threshold) * F.col("n")).cast("int") + 1)
    prefix = materialize(
        ranked.where(F.col("rk") <= prefix_len).select("doc_id", "h"))

    cands = (
        prefix.select(F.col("doc_id").alias("id_a"), "h")
        .join(prefix.select(F.col("doc_id").alias("id_b"), "h"), "h")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    verified = (
        cands.join(sh.select(F.col("doc_id").alias("id_a"),
                             F.col("shingle_hashes").alias("sh_a")), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"),
                        F.col("shingle_hashes").alias("sh_b")), "id_b")
    )
    j = _jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        verified.select(
            "id_a", "id_b",
            (F.floor(j * 1_000_000 + 0.5) / 1_000_000.0).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """SimHash over shingle hashes: bit j is set iff the majority of
    shingles have bit j set (ties → set).

    Same shape as MinHash: explode once, one hash aggregate with
    SIMHASH_BITS sum expressions (map-side partial agg, codegen) — the
    shuffle carries SIMHASH_BITS longs per doc. Votes are over the
    DISTINCT shingle set (via shingle_sets), matching the oracle.
    """
    sh = shingle_sets(docs)
    exploded = sh.select("doc_id", F.explode("shingle_hashes").alias("h"))
    votes = [
        F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1)
         .alias(f"v{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = exploded.groupBy("doc_id").agg(*votes)
    sig = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return agg.select("doc_id", sig.cast("long").alias("simhash"))


def simhash_near_dup_pairs(docs: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Hamming-ball near-dup pairs via pigeonhole banding.

    Split the 48-bit signature into 8 six-bit chunks; any pair within
    Hamming distance 7 must agree on ≥1 chunk, so an equi-join on
    (chunk_idx, chunk_value) finds all candidates without a cross
    join. Verify with bit_count(xor).
    """
    if max_hamming >= SIMHASH_CHUNKS:
        # Not an assert: `python -O` would strip it, and a violated
        # pigeonhole bound does not fail loudly — it silently MISSES
        # pairs (no chunk need agree past distance CHUNKS-1).
        raise ValueError(
            f"max_hamming={max_hamming} breaks the pigeonhole bound: "
            f"with {SIMHASH_CHUNKS} chunks only distances "
            f"< {SIMHASH_CHUNKS} guarantee a shared chunk")
    sigs = simhash_signatures(docs)
    chunk_bits = SIMHASH_BITS // SIMHASH_CHUNKS
    mask = (1 << chunk_bits) - 1
    chunks = sigs.select(
        F.col("doc_id"), F.col("simhash"),
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("simhash"), c * chunk_bits)
                 .bitwiseAND(F.lit(mask)).alias("val"),
            )
            for c in range(SIMHASH_CHUNKS)
        ])).alias("cv"),
    ).select("doc_id", "simhash", "cv.chunk", "cv.val")

    left = chunks.select(F.col("doc_id").alias("id_a"),
                         F.col("simhash").alias("sig_a"), "chunk", "val")
    right = chunks.select(F.col("doc_id").alias("id_b"),
                          F.col("simhash").alias("sig_b"), "chunk", "val")
    return (
        left.join(right, ["chunk", "val"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
             .cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by content digest: one row per distinct
    text with the canonical (minimum) id and the copy count."""
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(F.min("doc_id").alias("canonical_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


def dedup_survivors(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Near-dedup REMOVAL: the corpus with every non-canonical cluster
    member dropped (MinHash/LSH pairs → connected components → keep
    the per-cluster minimum id and all singletons).

    Scale shape: the removal list is bounded by actual near-dups —
    tiny vs the corpus in the normal case, so AQE broadcasts it at
    runtime and the 100 TB side streams through the anti-join
    map-side (pinned on the executed plan at test sf). The hint is
    deliberately NOT forced: on a duplicate-heavy corpus the removal
    list is a large fraction of the corpus, and a forced broadcast
    would OOM — the same rationale as the un-hinted regions join in
    :func:`span_deduped_corpus`; AQE degrades to a partitioned
    anti-join exactly when the list truly is big. Returns ``docs``'s
    full row (callers project what they need).
    """
    from . import graph as G

    pairs = minhash_dedup_pairs(docs, threshold=threshold) \
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # The LSH pairs are distinct id_a < id_b with no self-loops by
    # construction, so CC's normalize+distinct shuffle is a no-op here.
    labels = G.connected_components(pairs, assume_canonical=True)
    removed = labels.where(F.col("component") != F.col("node")) \
        .select(F.col("node").alias("doc_id"))
    return docs.join(removed, "doc_id", "left_anti")


# --- URL / metadata dedup ----------------------------------------------------
# The first pass real pipelines run BEFORE any content dedup: crawl
# frontiers fetch the same page under scheme/www/query/fragment
# variants, and grouping by canonical URL removes those re-fetches for
# the price of a string normalization + one hash aggregate — no
# tokenize, no shingles, no content reads beyond the URL column.

# Canonicalization steps, applied IN ORDER. Single source of truth
# for the Spark expression chain AND the DuckDB oracle mirror
# (plans/queries_dedup.py), so the two engines cannot disagree.
# Cross-engine identity is by construction: every pattern either
# consumes to end-of-STRING via [\s\S]* (newline-proof — a bare `.*`
# or `$` diverges between Java's replace-all/$-before-final-newline
# and RE2's first-match/$-at-end-of-text on inputs with embedded or
# trailing newlines) or is start-anchored, so first-match (RE2)
# equals replace-all (Java) and no global flag is needed. Scheme and
# host matching is case-insensitive via the inline (?i) flag, which
# both engines support. Whitespace is an EXPLICIT ASCII class, never
# \s: Java's \s includes vertical tab (\x0B) while RE2's does not
# (the engines would silently disagree on 'a.io/x\x0B');
# [\s\S] stays, because the UNION of \s and \S is every character in
# both engines regardless of how they partition it.
_WS = r" \t\n\x0B\f\r"  # the shared explicit class (== Java's \s)

URL_CANON_STEPS = (
    (rf"^[{_WS}]+", ""),       # leading whitespace
    (r"#[\s\S]*", ""),         # drop the fragment (never sent to the
    #                            server; consumes to end-of-string)
    (r"\?[\s\S]*", ""),        # drop the query string (session/
    #                            tracking params; dedup treats
    #                            ?-variants as re-fetches)
    (r"(?i)^https?://", ""),   # scheme-insensitive
    (r"(?i)^www\.", ""),       # host alias
    (rf"[/{_WS}]+\z", ""),     # trailing slash/whitespace variants.
    #                            \z, not $: Java's $ (even without
    #                            MULTILINE) also matches before a
    #                            FINAL Unicode line terminator
    #                            (U+0085/U+2028/U+2029) while RE2's $
    #                            matches only end-of-text, so the two
    #                            engines disagreed on a URL whose
    #                            text ends in one of those (e.g.
    #                            'a.io/x/' + U+2028);
    #                            \z is end-of-input-only in BOTH.
)

# Only scheme and host are case-insensitive per RFC 3986 — paths are
# not ('/API/Users' and '/api/users' are different resources on most
# servers), so the chain above never lowercases; the HOST (everything
# before the first '/') is lowercased separately after the strips.
URL_HOST_RE = r"^[^/]*"


def canonical_url(col: F.Column) -> F.Column:
    """The canonical form of a URL column: the :data:`URL_CANON_STEPS`
    chain, then lowercase the host part only (path case preserved).
    Pure codegen expressions — runs inside the scan's whole-stage
    codegen, no UDF."""
    c = col
    for pat, rep in URL_CANON_STEPS:
        c = F.regexp_replace(c, pat, rep)
    return F.concat(F.lower(F.regexp_extract(c, URL_HOST_RE, 0)),
                    F.regexp_replace(c, URL_HOST_RE, ""))


def canonical_url_groups(docs: DataFrame) -> DataFrame:
    """URL-level duplicate groups: one row per canonical URL with the
    canonical (minimum) id, member count, and distinct raw-variant
    count.

    Scale shape: identical to :func:`exact_dedup_groups` — a single
    hash aggregate on a short derived key with map-side partials; the
    shuffle moves canonicalized URL strings, never document bodies.
    """
    return (
        docs.groupBy(canonical_url(F.col("source")).alias("canonical_url"))
        .agg(F.min("doc_id").alias("canonical_id"),
             F.count(F.lit(1)).alias("n_docs"),
             F.count_distinct(F.col("source")).alias("n_variants"))
    )


# --- span-level (substring) cross-document dedup ----------------------------
# Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
# Better") remove repeated SPANS, not whole documents: boilerplate,
# licenses, and templated passages recur verbatim inside otherwise
# unique pages, and doc-level near-dedup never sees them. The exact
# suffix-array construction is single-machine; the distributed shape
# is fixed-length token-window fingerprints hash-grouped across the
# corpus — the same "group tiny keys, never bodies" shape as
# exact_dedup_groups, at token granularity.

SPAN_N = 8  # window length in tokens (scale-down of Lee et al.'s 50
# for the synthetic ~54-token documents; a real corpus run raises it)


def span_window_fingerprints(docs: DataFrame) -> DataFrame:
    """One row per length-``SPAN_N`` token window: (doc_id, i, fp) with
    ``i`` the 1-based token position and ``fp`` the 60-bit hash of
    the window text. The single corpus-scale intermediate of the
    span-dedup family: token-count-sized, produced by one narrow
    scan (tokenize once, expand in-row) — no shuffle below it."""
    toks = tokenize(F.col("text"))
    win = F.transform(
        F.sequence(F.lit(1), F.size("_toks") - (SPAN_N - 1)),
        lambda i: F.struct(
            i.alias("i"),
            hash60(F.concat_ws(" ", F.slice("_toks", i, SPAN_N)))
            .alias("fp")),
    )
    return (
        docs.select("doc_id", toks.alias("_toks"))
        .where(F.size("_toks") >= SPAN_N)
        .select("doc_id", F.explode(win).alias("w"))
        .select("doc_id", F.col("w.i").cast("long").alias("i"), "w.fp")
    )


def _merge_islands(flagged: DataFrame, n: int) -> DataFrame:
    """Merge flagged windows into maximal covered regions per doc
    (gaps-and-islands over coverage intervals [i, i+n-1]: a window
    opens a new region iff it starts past every previous window's
    end + 1). Returns (doc_id, span_start, span_len, lead_fp,
    n_windows); lead_fp is the first window's fingerprint — copies
    of the same repeated passage share it, making it the natural
    cross-doc cluster key. The window spec shuffles on doc_id only —
    per-doc work, bounded by doc length."""
    from pyspark.sql import Window as W

    end = (F.col("i") + (n - 1)).alias("end")
    w_ord = W.partitionBy("doc_id").orderBy("i")
    prev_max_end = F.max("end").over(
        w_ord.rowsBetween(W.unboundedPreceding, -1))
    opens = F.when(
        prev_max_end.isNull() | (F.col("i") > prev_max_end + 1), 1
    ).otherwise(0)
    island = F.sum(opens).over(
        w_ord.rowsBetween(W.unboundedPreceding, W.currentRow))
    return (
        flagged.select("doc_id", "i", "fp", end)
        .select("doc_id", "i", "fp", "end", island.alias("_isl"))
        .groupBy("doc_id", "_isl")
        .agg(F.min("i").alias("span_start"),
             (F.max("end") - F.min("i") + 1).alias("span_len"),
             F.min_by("fp", "i").alias("lead_fp"),
             F.count(F.lit(1)).alias("n_windows"))
        .drop("_isl")
    )


def repeated_spans(docs: DataFrame) -> DataFrame:
    """Maximal cross-document repeated regions: every merged run of
    token windows whose fingerprint occurs in >= 2 distinct docs, as
    (doc_id, span_start, span_len, lead_fp).

    Scale shape: window fps group on a 8-byte key with two-phase
    (map-side partial) aggregation; only fps seen in >=2 docs — the
    repeated CONTENT, tiny vs the corpus — come back to flag the
    window table via an equi-join on fp (AQE broadcasts it when
    small, skew-splits it when a boilerplate fp goes hot; never
    all-pairs). Region merging then shuffles (doc_id, i, fp) triples
    on doc_id — bytes bounded by repeated-window count, not corpus
    size.

    The ``fpw`` subtree feeds BOTH the aggregate and the flagging
    join, so it is materialized eagerly rather than recomputed: the
    per-window md5 is the dominant cost and the (doc_id, i, fp)
    triple is narrow (24 B/window, no shuffle). Materializing it cut
    executor CPU from 2.3 to 1.7 s at sf0.1 and from 39.0 to 29.1 s
    at the 10× corpus against scanning twice. Same in
    :func:`span_deduped_corpus`.
    """
    fpw = materialize(span_window_fingerprints(docs))
    rep = (fpw.groupBy("fp")
           .agg(F.count_distinct("doc_id").alias("n_docs"))
           .where(F.col("n_docs") >= 2)
           .select("fp"))
    return _merge_islands(fpw.join(rep, "fp"), SPAN_N)


def span_deduped_corpus(docs: DataFrame) -> DataFrame:
    """Keep-first span removal (the Lee et al. removal step), at
    window granularity: a token is dropped iff it is covered by some
    repeated window whose keeper is ANOTHER doc (the window's
    minimum-id holder) and NOT covered by any repeated window this
    doc itself keeps. The ownership protection is what makes the
    guarantee real: every repeated window's content survives
    verbatim in its keeper doc (without it, two overlapping windows
    with different keepers could each be removed in the other's
    keeper and the shared passage would survive NOWHERE — pinned by
    test_span_dedup_overlapping_ownership).
    Returns (doc_id, n_spans_removed, clean_text) for EVERY input
    doc, n_spans_removed counting maximal contiguous removed runs;
    clean_text is the kept tokens rejoined with single spaces (span
    identity lives in normalized token space — the operator's
    contract is token-level, not byte-level).

    Scale shape: same fingerprint-group skeleton as repeated_spans;
    the coverage algebra (removable minus owned) runs on EXPLODED
    flagged windows — bounded by repeated-window count x SPAN_N, not
    corpus size; the removal itself is a pure per-row expression
    (filter tokens by index against the doc's merged removed runs),
    applied via a LEFT join of the corpus to its region lists: docs
    with nothing to remove stream through untouched.
    """
    # Shared by the owner aggregate and the flagging join, as in
    # repeated_spans.
    fpw = materialize(span_window_fingerprints(docs))
    owner = (fpw.groupBy("fp")
             .agg(F.count_distinct("doc_id").alias("n_docs"),
                  F.min("doc_id").alias("min_doc"))
             .where(F.col("n_docs") >= 2)
             .select("fp", "min_doc"))
    flagged = fpw.join(owner, "fp")
    # Coverage algebra in ONE pass: every flagged window covering a
    # token is either removable (another doc keeps it) or owned (this
    # doc keeps it); the token is removed iff ALL its covering
    # windows are removable — a boolean-min aggregate over one
    # explode, replacing two explode+distinct passes plus an
    # anti-join (one narrow shuffle on (doc_id, j) instead of three;
    # the oracle deliberately KEEPS the anti-join formulation, so the
    # hash match cross-checks the two algebras against each other).
    coverage = flagged.select(
        "doc_id",
        F.explode(F.sequence(F.col("i"), F.col("i") + (SPAN_N - 1)))
         .alias("j"),
        (F.col("doc_id") != F.col("min_doc")).alias("_removable"))
    removed = (coverage.groupBy("doc_id", "j")
               .agg(F.min("_removable").alias("_all_rm"))
               .where(F.col("_all_rm"))
               .select("doc_id", "j"))
    regions = (_merge_islands(
                   removed.select("doc_id", F.col("j").alias("i"),
                                  F.lit(0).cast("long").alias("fp")),
                   n=1)
               .groupBy("doc_id")
               .agg(F.collect_list(
                        F.struct("span_start", "span_len")).alias("_regs")))
    toks = tokenize(F.col("text"))
    covered = lambda i1: F.exists(  # noqa: E731 — named for readability
        "_regs",
        lambda r: (i1 >= r["span_start"])
        & (i1 < r["span_start"] + r["span_len"]))
    kept = F.filter(
        "_toks",
        lambda tk, i0: ~covered(i0.cast("long") + 1))
    # The regions side is deliberately NOT broadcast-hinted (unlike
    # bm25's bounded query-vocabulary table): it is bounded only by
    # docs-with-removals, so on a boilerplate-heavy corpus a forced
    # broadcast would OOM. AQE broadcasts it at runtime whenever it
    # is actually small (the normal case — pinned at test sf) and
    # degrades to a co-partitioned join only when it truly is not.
    return (
        docs.select("doc_id", toks.alias("_toks"))
        .join(regions, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.size("_regs"), F.lit(0)).cast("long")
             .alias("n_spans_removed"),
            F.when(F.col("_regs").isNull(),
                   F.concat_ws(" ", F.col("_toks")))
             .otherwise(F.concat_ws(" ", kept)).alias("clean_text"),
        )
    )
