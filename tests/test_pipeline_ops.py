"""Micro-fixture unit tests for the LLM-pipeline operators (dedup,
text, events, multimodal) — behavior the oracle gate can't isolate."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mapreduce_experiment_spark.operators import (
    dedup as D,
    events as EV,
    multimodal as MM,
    text as TX,
)

DOC_SCHEMA = "doc_id long, text string"


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOC_SCHEMA)


def test_minhash_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    near = base.replace("lazy", "sleepy", 1)          # one-word edit
    other = "completely different content about spark plans " * 8
    docs = _docs(spark, [(1, base), (2, near), (3, other)])
    pairs = {(r.id_a, r.id_b) for r in
             D.minhash_dedup_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_prefix_filter_jaccard_lossless_property(spark):
    """Property: on random small-alphabet docs (maximal shingle
    collisions), prefix-filtered pairs == all-pairs at several
    thresholds. Catches an off-by-one in the prefix length or a
    broken global order."""
    from hypothesis import given, settings, strategies as st

    words = ["aa", "bb", "cc", "dd"]
    doc = st.lists(st.sampled_from(words), min_size=3, max_size=10)

    @settings(max_examples=15, deadline=None)
    @given(st.lists(doc, min_size=2, max_size=6), st.sampled_from([0.2, 0.5, 0.8]))
    def prop(docs_words, t):
        docs = _docs(spark, [(i, " ".join(ws))
                             for i, ws in enumerate(docs_words)])
        fast = {(r.id_a, r.id_b, r.jaccard)
                for r in D.ngram_jaccard_pairs(docs, threshold=t).collect()}
        ref = {(r.id_a, r.id_b, r.jaccard)
               for r in D.ngram_jaccard_pairs_allpairs(docs, threshold=t)
               .collect()}
        assert fast == ref

    prop()


def test_prefix_filter_jaccard_equals_allpairs(spark):
    """The prefix-filtered join must be LOSSLESS: same pairs as the
    quadratic reference, including at a loose threshold where the
    prefix is long and collisions abound."""
    base = "the quick brown fox jumps over the lazy dog " * 4
    rows = [
        (1, base),
        (2, base.replace("lazy", "sleepy", 1)),
        (3, base.replace("quick", "slow", 1).replace("dog", "cat", 1)),
        (4, "completely different content about spark plans " * 4),
        (5, "completely different content about flink plans " * 4),
    ]
    docs = _docs(spark, rows)
    for t in (0.3, 0.5, 0.8):
        fast = {(r.id_a, r.id_b, r.jaccard)
                for r in D.ngram_jaccard_pairs(docs, threshold=t).collect()}
        ref = {(r.id_a, r.id_b, r.jaccard)
               for r in D.ngram_jaccard_pairs_allpairs(docs, threshold=t)
               .collect()}
        assert fast == ref, f"threshold {t}"


def test_minhash_numpy_path_bit_equal_to_jvm_agg(spark):
    docs = _docs(spark, [
        (1, "the quick brown fox jumps over the lazy dog " * 3),
        (2, "pack my box with five dozen liquor jugs " * 3),
        (3, "sphinx of black quartz judge my vow " * 2),
    ])
    sh = D.shingle_sets(docs)
    fast = {r.doc_id: list(r.sig)
            for r in D.minhash_signatures_from(sh).collect()}
    ref = {r.doc_id: list(r.sig)
           for r in D.minhash_signatures_from_agg(sh).collect()}
    assert fast == ref


def test_range_join_boundaries(spark):
    """Granule-bucketed interval join: inclusive lo, exclusive hi,
    values straddling granule edges, and values outside every band."""
    from mapreduce_experiment_spark.operators.relational import range_join
    facts = spark.createDataFrame(
        [(1, 0.0), (2, 9.99), (3, 10.0), (4, 25.0), (5, 49.999),
         (6, 50.0), (7, -1.0)],
        "id long, v double")
    bands = spark.createDataFrame(
        [("a", 0.0, 10.0), ("b", 10.0, 50.0)],
        "band string, lo double, hi double")
    got = {(r.id, r.band)
           for r in range_join(facts, "v", bands, granule=7.0).collect()}
    assert got == {(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "b")}

    # r14 second-pass review: granule = 0 is an ANSI divide-by-zero
    # at runtime and granule < 0 makes the covering sequence count
    # DOWN through garbage granule keys — silently wrong results, so
    # both are rejected at call time (NaN too).
    import pytest
    for bad in (0.0, -7.0, float("nan")):
        with pytest.raises(ValueError, match="granule"):
            range_join(facts, "v", bands, granule=bad)


def test_exact_dedup_groups(spark):
    docs = _docs(spark, [(1, "same text"), (2, "same text"), (3, "other")])
    rows = {r.canonical_id: r.n_copies
            for r in D.exact_dedup_groups(docs).collect()}
    assert rows == {1: 2, 3: 1}


def test_simhash_identical_docs_distance_zero(spark):
    docs = _docs(spark, [(1, "alpha beta gamma delta epsilon"),
                         (2, "alpha beta gamma delta epsilon")])
    pairs = D.simhash_near_dup_pairs(docs, max_hamming=0).collect()
    assert [(p.id_a, p.id_b, p.hamming) for p in pairs] == [(1, 2, 0)]


def test_short_docs_dropped_not_garbled(spark):
    # < 3 tokens → no shingles → excluded (and no negative-step
    # sequence garbage; regression for the Spark sequence() pitfall).
    docs = _docs(spark, [(1, "two words"), (2, "one two three four")])
    sigs = D.minhash_signatures(docs)
    assert [r.doc_id for r in sigs.collect()] == [2]


def test_arrow_signatures_drop_empty_arrays_like_agg(spark):
    """r13 review: a row whose shingle_hashes array is EMPTY (what
    shingle_hashes yields for too-short docs) crashed the
    Arrow path ('zero-size array to reduction operation minimum' in
    the worker) while the JVM agg path simply never emits such rows —
    only the streaming caller survived, via its own pre-filter. The
    generator now drops empties, matching the agg path row-for-row."""
    sh = spark.createDataFrame(
        [(1, [7, 8, 9]), (2, [])],
        "doc_id long, shingle_hashes array<long>")
    fast = {r.doc_id: list(r.sig)
            for r in D.minhash_signatures_from(sh).collect()}
    ref = {r.doc_id: list(r.sig)
           for r in D.minhash_signatures_from_agg(sh).collect()}
    assert fast == ref and list(fast) == [1]


def test_arrow_signatures_honor_string_ids(spark):
    """The Arrow path's output schema takes doc_id's own type: a
    hardcoded `long` broke string ids, which the bit-equal agg sibling
    handles."""
    sh = spark.createDataFrame(
        [("u-1", [7, 8, 9]), ("u-2", [7, 8, 10, 11])],
        "doc_id string, shingle_hashes array<long>")
    fast = {r.doc_id: list(r.sig)
            for r in D.minhash_signatures_from(sh).collect()}
    ref = {r.doc_id: list(r.sig)
           for r in D.minhash_signatures_from_agg(sh).collect()}
    assert fast == ref and set(fast) == {"u-1", "u-2"}


def test_exploded_shingles_accept_unigrams(spark):
    """r13 review: exploded_shingle_hashes(n=1) raised IndexError
    (leads[-1] over an empty list) while the HOF sibling accepted
    n=1; the two shingle paths must agree on the same parameter."""
    from mapreduce_experiment_spark.functions.textfns import shingle_hashes

    docs = _docs(spark, [(1, "alpha beta alpha")])
    got = sorted(r.h for r in
                 D.exploded_shingle_hashes(docs, n=1).distinct().collect())
    want = sorted(r.h for r in
                  docs.select(F.explode(shingle_hashes(
                      F.col("text"), 1)).alias("h")).collect())
    assert got == want and len(got) == 2  # {alpha, beta}


def test_lang_id_stopword_scoring(spark):
    docs = _docs(spark, [
        (1, "the cat and the dog of it is that for"),
        (2, "der hund und die katze ist ein zu den"),
        (3, "xyzzy qwerty plugh"),
    ])
    out = {r.doc_id: r.pred_lang for r in TX.lang_id(docs).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_token_counts_bpe_ish(spark):
    docs = _docs(spark, [(1, "Hello, world! a-b")])
    r = TX.token_counts(docs).collect()[0]
    # words: hello world a b; bpe-ish: hello , world ! a - b
    assert (r.n_words, r.n_bpe_ish) == (4, 7)


def test_sessionize_gap(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 7),
        (2, "2024-01-01 00:10:00", 7),   # same session (10 min)
        (3, "2024-01-01 01:00:00", 7),   # 50 min gap -> new session
        (4, "2024-01-01 00:00:00", 8),   # other user
    ]
    events = spark.createDataFrame(rows, "event_id long, ts string, user_id long") \
        .withColumn("ts", F.col("ts").cast("timestamp")) \
        .withColumn("value", F.lit(1.0))
    out = {r.event_id: r.session_id for r in EV.sessionize(events).collect()}
    assert out == {1: 1, 2: 1, 3: 2, 4: 1}


def test_media_features_shape_and_determinism(spark):
    docs = _docs(spark, [(1, "abc abc"), (2, "zzzz")])
    media = MM.build_media_table(docs)
    feats = MM.extract_features(media).collect()
    assert len(feats) == 2
    byid = {r.media_id: r for r in feats}
    # 'abc abc' -> bytes a(97)%16=1 b=2 c=3 space=0; counts: b0=1,b1=2,b2=2,b3=2
    r = byid[1]
    assert (r.b0, r.b1, r.b2, r.b3) == (1, 2, 2, 2)
    assert sum(getattr(r, f"b{i}") for i in range(16)) == 7


def test_media_features_null_payload_scores_zero(spark):
    """r14 review: a NULL payload crashed the Arrow featurizer with a
    TypeError inside the worker (np.frombuffer(None)); it now scores
    as empty bytes — an all-zero histogram — and a 0-row Arrow batch
    is skipped instead of building object-typed columns the declared
    long schema rejects."""
    media = spark.createDataFrame(
        [(1, None), (2, b"ab")], "media_id long, payload binary")
    byid = {r.media_id: r for r in MM.extract_features(media).collect()}
    assert sum(getattr(byid[1], f"b{i}") for i in range(16)) == 0
    assert sum(getattr(byid[2], f"b{i}") for i in range(16)) == 2


def test_media_binary_hostile_payloads(spark):
    """r15/r16 carried item, closed with coverage instead of a
    rationale: the media table was the only corpus without
    adversarial data. Hostile DOCUMENTS do flow through the three
    registered media queries, but build_media_table ASCII-cleans the
    text first, so arbitrary BINARY payloads never reach the
    feature/frame paths that way. Drive them directly: all 256 byte
    values, high-bit runs, empty, NULL, a single high byte,
    exact/off-by-one frame-boundary lengths, and a 1 MiB blob — each
    verified against an independent recomputation (pure-Python byte
    counting vs the Arrow numpy featurizer; hashlib.md5 vs the JVM
    md5/substring frame path)."""
    import hashlib

    payloads = {
        1: bytes(range(256)),
        2: b"",
        3: None,
        4: b"\xff" * 31,                 # one short of a frame
        5: b"\x00" * 32,                 # exactly one frame
        6: b"\xab" * 33,                 # one past a frame boundary
        7: b"\x80",                      # single high byte
        8: bytes(range(256)) * 4096,     # 1 MiB
        9: b"\xde\xad\xbe\xef" * 8 * 9,  # 9 frames -> idx 0, 4, 8
    }
    media = spark.createDataFrame(
        [(i, p) for i, p in payloads.items()],
        "media_id long, payload binary")

    byid = {r.media_id: r for r in MM.extract_features(media).collect()}
    assert set(byid) == set(payloads)
    for i, p in payloads.items():
        raw = p if p is not None else b""
        want = [0] * MM.N_BUCKETS
        for b in raw:
            want[b % MM.N_BUCKETS] += 1
        got = [getattr(byid[i], f"b{k}") for k in range(MM.N_BUCKETS)]
        assert got == want, f"histogram mismatch for media_id {i}"

    got_frames = {(r.media_id, r.frame_idx): r.frame_md5
                  for r in MM.sample_frames(media).collect()}
    want_frames = {}
    for i, p in payloads.items():
        if not p:
            continue
        nf = len(p) // MM.FRAME_BYTES
        for idx in range(0, nf, MM.FRAME_STRIDE):
            sl = p[idx * MM.FRAME_BYTES:(idx + 1) * MM.FRAME_BYTES]
            want_frames[(i, idx)] = hashlib.md5(sl).hexdigest()
    assert got_frames == want_frames
    # boundary behavior, stated: 31 bytes -> no frame; 32 and 33 -> one
    assert (4, 0) not in got_frames
    assert (5, 0) in got_frames and (6, 0) in got_frames
    # the 1 MiB blob sampled every 4th of its 32,768 frames
    assert sum(1 for k in got_frames if k[0] == 8) == 8192


def test_decode_image_is_stubbed():
    import pytest
    with pytest.raises((NotImplementedError, Exception)):
        MM.decode_image(b"not an image")


def test_srp_lsh_recall_vs_allpairs(spark, sf_smoke):
    """The registered embedding_near_dups_indexed oracle (the same
    SQL the retired embedding_near_dups registration carried) mirrors
    the SRP bucketing, so it cannot see pairs LSH misses on both
    sides — this test is the recall gate the oracle structurally
    can't provide.

    Two statements, matching what 12-band × 6-bit SRP actually
    promises (collision p ≈ 1-(1-(1-θ/π)^6)^12):

    - TRUE near-duplicates (planted copies, cos ≥ 0.99 → p ≈ 1-1e-9):
      recall must be 1.0 — every planted pair found.
    - Borderline pairs on real testdata (cos ≈ 0.45-0.48 → p ≈ 0.63
      per pair): recall is probabilistic by design; pin a 0.5 floor so
      a gross parameter regression (fewer bands, wider bands) still
      fails. Deterministic planes ⇒ the observed 5/7 never drifts.

    Structurally LSH can never emit extras (exact-cosine verify), so
    precision is asserted exact."""
    import pyspark.sql.functions as SF

    from mapreduce_experiment_spark.operators import similarity as S
    from mapreduce_experiment_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    # Plant 20 jittered copies: id+10000 is id's vector with the first
    # component nudged by 0.05 → cos ≥ 0.99.
    dups = (emb.where(SF.col("vec_id") < 20)
            .select((SF.col("vec_id") + 10000).alias("vec_id"),
                    SF.expr("transform(embedding, (x, i) -> "
                            "CASE WHEN i = 0 THEN x + 0.05f ELSE x END)")
                    .alias("embedding")))
    planted = emb.select("vec_id", "embedding").unionByName(dups)

    lsh_planted = {(r.id_a, r.id_b)
                   for r in S.embedding_near_dup_pairs_lsh(
                       planted, threshold=0.9).collect()}
    missed = {(i, i + 10000) for i in range(20)} - lsh_planted
    assert not missed, f"SRP-LSH missed planted near-dups: {missed}"

    lsh = {(r.id_a, r.id_b)
           for r in S.embedding_near_dup_pairs_lsh(emb, threshold=0.45)
           .collect()}
    exact = {(r.id_a, r.id_b)
             for r in S.embedding_near_dup_pairs(emb, threshold=0.45)
             .collect()}
    assert exact, "fixture lost its borderline pairs"
    assert lsh <= exact                      # verify step ⇒ no false positives
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.5, f"borderline recall {recall}: {exact - lsh}"


def test_kmeans_survives_extreme_magnitudes(spark, tmp_path):
    """r14 adversarial rehearsal: a 1e18-component vector (legal
    float32 — corrupt or unnormalized embeddings WILL appear in a
    100 TB corpus) made the engine's int64 quantization overflow to
    UNDEFINED numpy garbage while the oracle's strict BIGINT cast
    crashed. Quantization now saturates at +/-QUANT_MAX identically
    in both engines (the zero-norm-floor family of defined
    behavior); shipped data (|x| <= 0.58) never clamps. Prove the
    three registered kmeans queries match their oracles on a fixture
    with huge/tiny/zero/duplicate-huge vectors, and that the old
    unclamped oracle form still dies (upgrade canary)."""
    import duckdb
    import numpy as np
    import pytest

    from mapreduce_experiment_spark.operators import similarity as S
    from mapreduce_experiment_spark.plans.registry import SPECS
    from tests.oracle_util import assert_matches, run_oracle

    rng = np.random.RandomState(7)
    n, dim = 80, 8
    vecs = rng.uniform(-1, 1, (n, dim))
    vecs[20] = 0.0                                   # zero norm
    vecs[21] = np.eye(dim)[0] * 1e18                 # huge magnitude
    vecs[22] = vecs[21]                              # huge duplicate
    vecs[23] = np.eye(dim)[1] * -1e18                # huge negative
    vecs[24] = np.eye(dim)[2] * 1e-30                # tiny magnitude
    vecs[25] = np.full(dim, 20.0)                    # just past QUANT_MAX
    rows = [(i, [float(np.float32(x)) for x in v], 0)
            for i, v in enumerate(vecs)]
    con = duckdb.connect()
    con.execute("CREATE TABLE e (vec_id BIGINT, embedding FLOAT[],"
                " label INT)")
    for r in rows:
        con.execute("INSERT INTO e VALUES (?, ?, ?)", list(r))
    sf = str(tmp_path)
    con.execute(f"COPY e TO '{sf}/embeddings.parquet' (FORMAT parquet)")

    specs = SPECS()
    for name in ("kmeans_centroids", "kmeans_ivf_assignments",
                 "knn_ivf_trained"):
        assert_matches(specs[name].fn(spark, sf),
                       run_oracle(specs[name].oracle, sf), name)

    # engine-side: the clamp saturates instead of overflowing
    q = S._quantize_mat(np.array([[1e18, -1e18, 20.0, 0.5]]))
    assert q.tolist() == [[S.QUANT_MAX, -S.QUANT_MAX, S.QUANT_MAX,
                           500_000]]

    # the old unclamped oracle form dies on the huge component
    with pytest.raises(duckdb.Error, match="out of range"):
        run_oracle(
            "SELECT list_transform(embedding, x -> CAST(floor("
            "CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) "
            "FROM embeddings", sf)


def test_kmeans_separates_planted_clusters(spark, monkeypatch):
    """Lloyd training on two well-separated planted clusters: the two
    seed centroids must converge to the cluster means (exact integer
    floor of the mean) and every vector must land in its own cluster."""
    import numpy as np

    from mapreduce_experiment_spark.operators import similarity as S

    rng = [0.1 * i for i in range(8)]
    rows = []
    for i in range(20):          # cluster A near (1, 1, ..., 1)
        rows.append((i * 2, [1.0 + 0.001 * ((i + j) % 5) for j in rng]))
    for i in range(20):          # cluster B near (-1, ..., -1)
        rows.append((i * 2 + 1, [-1.0 - 0.001 * ((i + j) % 5) for j in rng]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # seeds = vec_id < 2 → one seed from each planted cluster
    monkeypatch.setattr(S, "KMEANS_K", 2)
    monkeypatch.setattr(S, "KMEANS_ITER", 2)
    cent_ids, cents = S.kmeans_train(emb)
    assert cent_ids == [0, 1]
    assign = {r.vec_id: r.centroid_id
              for r in S.kmeans_assignments_df(emb, cent_ids, cents).collect()}
    assert all(assign[i] == (i % 2) for i in assign)
    # centroid of cluster A ≈ +1e6 micro-units, B ≈ -1e6; floor-mean exact
    assert (cents[0] > 900_000).all() and (cents[1] < -900_000).all()


def test_pack_sequences_invariants(spark, monkeypatch):
    """Packing semantics on a fixture big enough to straddle
    boundaries: every doc placed exactly once; offsets are in
    [0, capacity); docs in one sequence are contiguous in the shard
    order (a sequence's doc token spans tile [offset, offset+n) with
    no gaps); reruns are byte-identical (determinism)."""
    rows = [(i, ("tok " * (5 + i % 37)).strip()) for i in range(60)]
    docs = _docs(spark, rows)
    monkeypatch.setattr(TX, "PACK_CAPACITY", 64)
    monkeypatch.setattr(TX, "PACK_SHARDS", 4)
    out = sorted(
        TX.pack_sequences(docs).collect(),
        key=lambda r: (r.shard, r.seq_id, r.seq_offset))
    assert len(out) == 60 and len({r.doc_id for r in out}) == 60
    for r in out:
        assert 0 <= r.seq_offset < 64
        assert r.n_tokens == 5 + r.doc_id % 37
    # contiguity: within a shard, consecutive docs' (seq_id*cap +
    # offset) positions tile the running total with no gaps
    from itertools import groupby
    for _, grp in groupby(out, key=lambda r: r.shard):
        pos = 0
        for r in grp:
            assert r.seq_id * 64 + r.seq_offset == pos
            pos += r.n_tokens
    rerun = sorted(
        TX.pack_sequences(docs).collect(),
        key=lambda r: (r.shard, r.seq_id, r.seq_offset))
    assert rerun == out


def test_contamination_pairs_planted(spark):
    """Decontamination finds a train doc that quotes an eval doc, and
    ignores disjoint content; overlap counts are exact distinct-gram
    intersections."""
    eval_doc = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, eval_doc),                                   # eval (id % 50 == 0)
        (1, "prefix words " + eval_doc + " suffix words"),  # contaminated
        (2, "completely unrelated content with many different tokens here"),
    ]
    docs = _docs(spark, rows)
    got = {(r.train_doc_id, r.eval_doc_id): r.n_shared_grams
           for r in TX.contamination_pairs(docs).collect()}
    # eval doc has 6 distinct 5-grams, all contained in doc 1
    assert got == {(1, 0): 6}


def test_pack_sequence_fragments_invariants(spark, monkeypatch):
    """Boundary-splitting packing: fragments reassemble every doc
    exactly (per-doc frag_len sums to n_tokens), no fragment crosses a
    capacity boundary, and a doc's fragments tile consecutive
    sequences with the first starting where pack_sequences placed it."""
    from collections import defaultdict

    rows = [(i, ("tok " * (5 + (i * 13) % 150)).strip()) for i in range(40)]
    # NB: an empty doc is NOT a zero-token doc — the tokenizer yields
    # [''] (size 1) for '', identically in Spark and DuckDB, so the
    # operator's n_tokens > 0 guard is purely defensive.
    rows.append((40, ""))
    docs = _docs(spark, rows)
    monkeypatch.setattr(TX, "PACK_CAPACITY", 64)
    monkeypatch.setattr(TX, "PACK_SHARDS", 4)
    packed = {r.doc_id: r for r in TX.pack_sequences(docs).collect()}
    assert packed[40].n_tokens == 1
    frags = TX.pack_sequence_fragments(docs).collect()
    assert {r.doc_id for r in frags} == set(range(41))
    bydoc = defaultdict(list)
    for r in frags:
        assert 0 <= r.frag_offset and r.frag_offset + r.frag_len <= 64
        assert r.frag_len > 0
        bydoc[r.doc_id].append(r)
    for did, fs in bydoc.items():
        fs.sort(key=lambda r: r.seq_id)
        p = packed[did]
        assert sum(f.frag_len for f in fs) == p.n_tokens
        # first fragment starts exactly at the pack_sequences placement
        assert fs[0].seq_id == p.seq_id and fs[0].frag_offset == p.seq_offset
        # fragments tile consecutive sequences: middle ones span full
        # capacity from offset 0; only the first may start mid-sequence
        for prev, nxt in zip(fs, fs[1:]):
            assert nxt.seq_id == prev.seq_id + 1
            assert prev.frag_offset + prev.frag_len == 64  # ran to boundary
            assert nxt.frag_offset == 0


def test_contamination_pairs_external_planted(spark):
    """External-eval decontamination: a train doc quoting a benchmark
    prompt is flagged with the exact distinct-gram overlap; disjoint
    prompts and docs never pair; schemas may differ between sides."""
    prompt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    train = _docs(spark, [
        (1, "prefix words " + prompt + " suffix words"),
        (2, "completely unrelated content with many different tokens here"),
    ])
    evals = spark.createDataFrame(
        [("bench-a", prompt), ("bench-b", "nothing shared at all honestly")],
        "eval_id string, prompt string")
    got = {(r.train_doc_id, r.eval_id): r.n_shared_grams
           for r in TX.contamination_pairs_external(train, evals).collect()}
    assert got == {(1, "bench-a"): 6}


def test_srp_index_value_parity(spark, sf_smoke, tmp_path):
    """The persisted-index near-dup path must reproduce the recompute
    path bit-for-bit — same planes, same q6 sign quantization, same
    verify — exactly the knn_ivf_pruned-vs-knn_ivf contract, for the
    SRP index (r6 verdict item 3)."""
    from mapreduce_experiment_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    table = "srp_index_parity_test"
    S.write_srp_index(emb, table, path=str(tmp_path / table))
    idx = {(r.id_a, r.id_b, r.cos)
           for r in S.embedding_near_dups_from_index(
               spark, emb, table, threshold=0.45).collect()}
    ref = {(r.id_a, r.id_b, r.cos)
           for r in S.embedding_near_dup_pairs_lsh(
               emb, threshold=0.45).collect()}
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    assert idx == ref and idx


def test_zero_norm_embedding_never_crashes_or_ranks(spark):
    """Spark 4's ANSI-on default hard-failed every cosine query with
    DIVIDE_BY_ZERO on a single all-zeros embedding. _cos now floors
    degenerate vectors at cos = -1.0: no crash, ranked last, never
    above a near-dup threshold."""
    from mapreduce_experiment_spark.operators import similarity as S

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),           # query
        (10, [0.9, 0.1, 0.0, 0.0]),          # close neighbor
        (11, [0.0, 1.0, 0.0, 0.0]),          # orthogonal
        (12, [0.0, 0.0, 0.0, 0.0]),          # zero-norm (degenerate)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    jvm = S.knn_bruteforce(emb, n_queries=1, k=3).collect()
    by_rank = {r.rank: r for r in jvm}
    assert by_rank[3].neighbor_id == 12              # degenerate ranks LAST
    assert by_rank[3].cos == -1.0
    assert by_rank[1].neighbor_id == 10              # real neighbors first

    # near-dup paths: the zero vector clears no threshold, no crash
    pairs = {(r.id_a, r.id_b)
             for r in S.embedding_near_dup_pairs(emb, threshold=0.1).collect()}
    assert all(12 not in p for p in pairs)


def test_probe_missing_verify_vectors_raises_not_drops(spark, sf_smoke,
                                                       tmp_path):
    """r13 review: embedding_near_dups_probe_index verified candidates
    with INNER joins against the caller's vector set, so passing only
    the batch's vectors (the misuse the old `batch_vectors` name
    invited) silently dropped every cross-split pair. The verify join
    is now left + a throwing else-branch in the cos expression
    (raise_error — the value of the uncovered case, which no
    optimizer can prune without proving coverage; ADVICE r13 flagged
    the earlier assert_true-wrapped-in-when shape as fragile across
    Spark upgrades): under-coverage raises at execution time; full
    coverage still matches the recompute reference."""
    import pytest

    from mapreduce_experiment_spark.operators import similarity as S
    from mapreduce_experiment_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 50)
    batch = emb.where(F.col("vec_id") < 50)
    table = "srp_index_coverage_test"
    S.write_srp_index(corpus, table, path=str(tmp_path / table))
    try:
        # correct usage (corpus ∪ batch) still works
        ok = S.embedding_near_dups_probe_index(
            spark, batch, emb, table, threshold=0.30)
        n_ok = ok.count()
        assert n_ok > 0, "fixture produced no cross-split pairs"
        # misuse: batch-only vectors must raise, not return a subset
        with pytest.raises(Exception, match="verify_vectors is missing"):
            S.embedding_near_dups_probe_index(
                spark, batch, batch, table, threshold=0.30).count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_srp_index_incremental_probe(spark, sf_smoke, tmp_path):
    """The daily-ingest claim, demonstrated: index the corpus half
    ONCE, then probe a new batch against the persisted index — the
    cross pairs must equal the full recompute pipeline's pairs
    restricted to (batch x corpus), with the corpus never
    re-projected (only the batch's signatures are computed at probe
    time)."""
    from pyspark.sql import functions as F

    from mapreduce_experiment_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") >= 50)
    batch = emb.where(F.col("vec_id") < 50)
    table = "srp_index_incremental_test"
    S.write_srp_index(corpus, table, path=str(tmp_path / table))
    got = {(r.id_a, r.id_b, r.cos)
           for r in S.embedding_near_dups_probe_index(
               spark, batch, emb, table, threshold=0.45).collect()}
    full = {(r.id_a, r.id_b, r.cos)
            for r in S.embedding_near_dup_pairs_lsh(
                emb, threshold=0.45).collect()}
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    cross = {(a, b, c) for (a, b, c) in full if (a < 50) != (b < 50)}
    assert got == cross
    assert got  # sf0.001 plants (23, 319): the equality is not vacuous


def test_ivf_index_append_cycle(spark, sf_smoke, tmp_path):
    """The IVF daily-ingest cycle, mirroring the SRP one: build the
    partitioned index over the original corpus, assign + append a new
    batch against the SAME seed centroids, and the pruned-probe kNN
    over the appended index must equal knn_ivf over the full
    corpus+batch — partition pruning and values both intact."""
    from pyspark.sql import functions as F

    from mapreduce_experiment_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    original = emb.where(F.col("vec_id") < 300)
    batch = emb.where(F.col("vec_id") >= 300)
    path = str(tmp_path / "ivf_append")
    S.write_ivf_index(original, path, n_queries=10)
    S.append_ivf_index(batch, original, path)
    got = {(r.query_id, r.neighbor_id, r.rank, r.cos)
           for r in S.knn_ivf_pruned(spark, emb, path,
                                     n_queries=10, k=5).collect()}
    full = {(r.query_id, r.neighbor_id, r.rank, r.cos)
            for r in S.knn_ivf(emb, n_queries=10, k=5).collect()}
    assert got == full and len(got) == 50
    # the appended rows actually landed outside the original build

    parts = [d for d in os.listdir(path) if d.startswith("centroid_id=")]
    assert parts, "partitioned layout lost by the append"
    appended = spark.read.parquet(path).where(F.col("vec_id") >= 300)
    assert appended.count() == batch.count()
    # membership contract on the APPEND path too: a re-delivered
    # query-id / seed-id vector in a batch must be filtered out, not
    # inserted — an inserted query would come back as its own rank-1
    # neighbor (cos 1.0) on the next probe, silently diverging from a
    # full rebuild (which excludes low ids via _ivf_buckets).
    S.append_ivf_index(emb.where(F.col("vec_id") < 5), original, path)
    still = {(r.query_id, r.neighbor_id, r.rank, r.cos)
             for r in S.knn_ivf_pruned(spark, emb, path,
                                       n_queries=10, k=5).collect()}
    assert still == full, "poisoned append changed probe results"
    assert spark.read.parquet(path).where(F.col("vec_id") < 10).count() == 0


def test_ivf_index_compaction(spark, sf_smoke, tmp_path):
    """IVF compaction closes the centroid-partitioned index's
    operational loop the way SRP compaction closes the bucketed one
    (r9): after appends fatten partition directories to multiple
    files, compact_ivf_index rewrites into a NEW directory with
    exactly one data file per centroid partition — two-way multiset
    row parity, and the pruned-probe kNN over the compacted index is
    value-identical to the original."""
    from pyspark.sql import functions as F

    from mapreduce_experiment_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    original = emb.where(F.col("vec_id") < 300)
    batch = emb.where(F.col("vec_id") >= 300)
    path = str(tmp_path / "ivf_compact_src")
    cpath = str(tmp_path / "ivf_compact_dst")
    S.write_ivf_index(original, path, n_queries=10)
    S.append_ivf_index(batch, original, path)

    def files_per_part(p):
        return {d: len([f for f in os.listdir(os.path.join(p, d))
                        if f.endswith(".parquet")])
                for d in os.listdir(p) if d.startswith("centroid_id=")}

    src_files = files_per_part(path)
    assert any(n > 1 for n in src_files.values()), \
        "append did not fatten any partition — the test is vacuous"
    S.compact_ivf_index(spark, path, cpath)
    dst_files = files_per_part(cpath)
    assert set(dst_files) == set(src_files)  # no partition lost
    assert all(n == 1 for n in dst_files.values()), dst_files
    # two-way multiset parity: compaction writes each row exactly once
    src, dst = spark.read.parquet(path), spark.read.parquet(cpath)
    assert dst.exceptAll(src).count() == 0
    assert src.exceptAll(dst).count() == 0
    # probe value parity on the compacted directory
    got = {(r.query_id, r.neighbor_id, r.rank, r.cos)
           for r in S.knn_ivf_pruned(spark, emb, cpath,
                                     n_queries=10, k=5).collect()}
    full = {(r.query_id, r.neighbor_id, r.rank, r.cos)
            for r in S.knn_ivf(emb, n_queries=10, k=5).collect()}
    assert got == full and len(got) == 50


def test_maintained_ivf_oracle_discriminates_lost_append(spark, sf_smoke,
                                                         tmp_path):
    """Negative control for the knn_ivf_maintained registration (the
    pattern the recall gate set): its full-recompute oracle can only
    catch a maintenance failure if the held-out batch's vectors
    actually RANK in some query's probed top-7 at this sf — otherwise
    a silently dropped append would still hash-match and the driver
    verdict would be vacuous. Serve the registered query's exact k=7
    probe from an index built WITHOUT the append and require the
    neighbor set to differ from the full recompute."""
    from mapreduce_experiment_spark.operators import similarity as S
    from mapreduce_experiment_spark.plans.queries_similarity import (
        N_IVF_MAINT_QUERIES,
        ivf_maintenance_split,
    )

    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    # The exact split AND query-id reservation the registered query
    # runs — shared definitions, so this proof can't drift from them
    # (the reservation literal was hoisted per ADVICE r10).
    initial, batch = ivf_maintenance_split(emb)
    assert batch.count() > 0
    path = str(tmp_path / "ivf_no_append")
    S.write_ivf_index(initial, path, n_queries=N_IVF_MAINT_QUERIES)
    dropped = {(r.query_id, r.neighbor_id, r.rank)
               for r in S.knn_ivf_pruned(spark, emb, path,
                                         n_queries=N_IVF_MAINT_QUERIES,
                                         k=7).collect()}
    full = {(r.query_id, r.neighbor_id, r.rank)
            for r in S.knn_ivf(emb, n_queries=N_IVF_MAINT_QUERIES,
                               k=7).collect()}
    assert dropped != full, (
        "no batch vector ranks in any probed top-7 at this sf — the "
        "maintained query's oracle could not see a lost append"
    )


def test_ivf_maintenance_split_is_a_disjoint_reserved_safe_cover(
        spark, sf_smoke):
    """The ADVICE-r10 failure mode, made mechanical: if the split's
    query-id reservation ever disagreed with the registration's
    n_queries, batch rows could land in (or vanish from) the index
    inconsistently with the oracle. Pin the three invariants the
    maintained cycle rests on: (initial, batch) partition the corpus
    exactly (disjoint cover), every reserved id — query vectors AND
    centroid seeds — stays in the initial build input, and the batch
    is the %7 residue of the unreserved tail."""
    from mapreduce_experiment_spark.operators.similarity import N_CENTROIDS
    from mapreduce_experiment_spark.plans.queries_similarity import (
        N_IVF_MAINT_QUERIES,
        ivf_maintenance_split,
    )

    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    initial, batch = ivf_maintenance_split(emb)
    ids = {r.vec_id for r in emb.select("vec_id").collect()}
    i_ids = {r.vec_id for r in initial.select("vec_id").collect()}
    b_ids = {r.vec_id for r in batch.select("vec_id").collect()}
    assert i_ids | b_ids == ids and not (i_ids & b_ids)
    reserved = max(N_IVF_MAINT_QUERIES, N_CENTROIDS)
    assert set(range(reserved)) & ids <= i_ids
    assert b_ids == {v for v in ids if v >= reserved and v % 7 == 0}


def test_knn_query_reservation_is_interpolated_not_literal():
    """ADVICE r11: N_IVF_MAINT_QUERIES claimed to be the maintained
    cycle's single source of truth while the oracle (_KNN_IVF_SQL_K7,
    derived from _KNN_IVF_SQL) still hardcoded the reservation as
    literal `vec_id < 10` / `vec_id >= 10` cuts — bumping the
    constant would have desynced plan from oracle. The fix
    interpolates one family-wide N_KNN_QUERIES into every kNN oracle
    f-string and registration; pin it mechanically so a future edit
    can't reintroduce a literal cut (comment lines are excluded —
    the ADVICE history is described there in words)."""
    from mapreduce_experiment_spark.plans import queries_similarity as QS

    with open(QS.__file__) as f:
        code_lines = [ln for ln in f
                      if not ln.lstrip().startswith("#")]
    src = "".join(code_lines)
    for literal in ("vec_id < 10", "vec_id >= 10"):
        assert literal not in src, (
            f"literal reservation cut {literal!r} reappeared in "
            "queries_similarity.py — interpolate N_KNN_QUERIES instead"
        )
    # The alias is definitional, not coincidental: the maintained
    # oracle derives from _KNN_IVF_SQL, whose reservation IS the
    # family-wide constant.
    assert QS.N_IVF_MAINT_QUERIES == QS.N_KNN_QUERIES
    # And the rendered SQL actually carries the constant's value.
    assert f"vec_id < {QS.N_KNN_QUERIES}" in QS._KNN_IVF_SQL
    assert QS._KNN_IVF_SQL_K7.count("WHERE rank <= 7") == 1


def test_srp_index_append_cycle(spark, sf_smoke, tmp_path):
    """The full daily-ingest cycle: index the corpus, probe the new
    batch, APPEND the batch's signatures, and verify (a) the appended
    index serves the complete pair set — identical to a full rebuild
    over corpus+batch — and (b) the candidate self-join over the
    appended (multi-file-per-bucket) table still plans with zero
    Exchange. Also pins that an append to an index whose stored
    banding differs from the module's is rejected before it can
    poison the index."""
    import pytest

    from pyspark.sql import functions as F

    from mapreduce_experiment_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") >= 50)
    batch = emb.where(F.col("vec_id") < 50)
    table = "srp_index_append_test"
    S.write_srp_index(corpus, table, path=str(tmp_path / table))
    try:
        spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ('srp.rows'='4')")
        with pytest.raises(ValueError, match="banding config mismatch"):
            S.append_srp_index(batch, table)
        spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES "
                  f"('srp.rows'='{S.SRP_ROWS}')")
        S.append_srp_index(batch, table)
        got = {(r.id_a, r.id_b, r.cos)
               for r in S.embedding_near_dups_from_index(
                   spark, emb, table, threshold=0.45).collect()}
        full = {(r.id_a, r.id_b, r.cos)
                for r in S.embedding_near_dup_pairs_lsh(
                    emb, threshold=0.45).collect()}
        assert got == full and got

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            sigs = spark.table(table)
            joined = (
                sigs.select(F.col("vec_id").alias("id_a"),
                            "band_id", "band_val")
                .join(sigs.select(F.col("vec_id").alias("id_b"),
                                  "band_id", "band_val"),
                      ["band_id", "band_val"])
                .where(F.col("id_a") < F.col("id_b")))
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert plan.count("Bucketed: true") == 2, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_srp_index_compaction(spark, sf_smoke, tmp_path):
    """Compaction closes the append story's operational loop: after
    daily appends fatten each bucket to many files, compact_srp_index
    rewrites into a NEW one-file-per-bucket table — pair-set parity,
    banding properties carried (probes still pass validation), and
    the self-join over the compacted table is still Exchange-free."""

    from pyspark.sql import functions as F

    from mapreduce_experiment_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") >= 50)
    batch = emb.where(F.col("vec_id") < 50)
    table, ctable = "srp_compact_src_test", "srp_compact_dst_test"
    S.write_srp_index(corpus, table, path=str(tmp_path / table))
    S.append_srp_index(batch, table)
    try:
        src_files = [f for f in os.listdir(tmp_path / table)
                     if f.endswith(".parquet")]
        assert len(src_files) > S.SRP_INDEX_BUCKETS  # appends fattened it
        S.compact_srp_index(spark, table, ctable,
                            path=str(tmp_path / ctable))
        dst_files = [f for f in os.listdir(tmp_path / ctable)
                     if f.endswith(".parquet")]
        assert len(dst_files) <= S.SRP_INDEX_BUCKETS
        # Exact two-way MULTISET parity, not just pair parity:
        # duplicated signature rows are invisible to the pair set
        # (candidates are distinct-ed) and to the file count (dupes
        # can share a file), and a plain count() could be fooled by a
        # drop+duplicate combination — exceptAll in both directions
        # is what pins compaction writing each source row exactly
        # once.
        src, dst = spark.table(table), spark.table(ctable)
        assert dst.exceptAll(src).count() == 0
        assert src.exceptAll(dst).count() == 0
        want = {(r.id_a, r.id_b, r.cos)
                for r in S.embedding_near_dups_from_index(
                    spark, emb, table, threshold=0.45).collect()}
        got = {(r.id_a, r.id_b, r.cos)
               for r in S.embedding_near_dups_from_index(
                   spark, emb, ctable, threshold=0.45).collect()}
        assert got == want and got
        # banding props carried: probe validation passes on the compacted
        S.validate_srp_index_config(spark, ctable)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            sigs = spark.table(ctable)
            joined = (
                sigs.select(F.col("vec_id").alias("id_a"),
                            "band_id", "band_val")
                .join(sigs.select(F.col("vec_id").alias("id_b"),
                                  "band_id", "band_val"),
                      ["band_id", "band_val"])
                .where(F.col("id_a") < F.col("id_b")))
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {ctable}")


def test_srp_probe_rejects_mismatched_banding(spark, sf_smoke, tmp_path):
    """The bands/rows contract between index writer and prober is
    machine-checked via the table properties write_srp_index stores —
    probing an index written with different banding raises instead of
    silently missing true pairs (mismatched band values simply fail
    the equi-join; nothing else would ever error)."""
    import pytest

    from pyspark.sql import functions as F

    from mapreduce_experiment_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") >= 50)
    batch = emb.where(F.col("vec_id") < 50)
    table = "srp_index_bandcheck_test"
    S.write_srp_index(corpus, table, path=str(tmp_path / table))
    try:
        spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ('srp.rows'='4')")
        with pytest.raises(ValueError, match="banding config mismatch"):
            S.embedding_near_dups_probe_index(spark, batch, emb, table)
        spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES "
                  f"('srp.rows'='{S.SRP_ROWS}')")
        # matching config passes the gate (and returns lazily — no job)
        S.embedding_near_dups_probe_index(spark, batch, emb, table)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_registered_index_queries_memoize_index_build(spark, sf_smoke):
    """The registered persisted-index queries, the two maintenance
    cycles included, must write their index ONCE per (application, sf)
    and serve repeat calls from it — measured here by the index dir's
    mtime staying put across a second call, with values identical."""

    from mapreduce_experiment_spark.plans import queries_similarity as QS

    from mapreduce_experiment_spark.plans.registry import SPECS

    for name, prefix in (("knn_ivf_pruned", "ivf_index_"),
                         ("embedding_near_dups_indexed", "srp_index_"),
                         ("embedding_near_dups_probe", "srp_probe_index_"),
                         ("knn_ivf_maintained", "ivf_maint_index_"),
                         ("embedding_near_dups_maintained",
                          "srp_maint_index_")):
        spec = SPECS()[name]
        first = {tuple(r) for r in spec.fn(spark, sf_smoke).collect()}
        norm = os.path.abspath(os.path.normpath(sf_smoke))
        key = (prefix, spark.sparkContext.applicationId, norm)
        path = QS._INDEX_MEMO[key]
        mtime = os.path.getmtime(path)
        second = {tuple(r) for r in spec.fn(spark, sf_smoke).collect()}
        assert second == first
        assert os.path.getmtime(path) == mtime, (
            f"{name} rewrote its index on a repeat call")


def test_index_memo_distinguishes_same_named_dirs(spark, sf_smoke,
                                                  tmp_path):
    """Two data directories sharing a LEAF name hold different vectors;
    the index memo must key on the full path so the second directory
    gets its own index instead of silently probing the first one's
    (the bench SF_DIR vs SF_DIR_2 shape, or two tmp copies of
    sf0.001). Same-leaf copy with vec_ids shifted: if the memo served
    the first index, the probe results would be the first corpus's."""
    import shutil

    from mapreduce_experiment_spark.plans.registry import SPECS
    from mapreduce_experiment_spark.plans import queries_similarity as QS

    leaf = os.path.basename(os.path.normpath(sf_smoke))
    copy_dir = tmp_path / "elsewhere" / leaf
    copy_dir.parent.mkdir(parents=True)
    copy_dir.mkdir()
    # a genuinely different corpus under the SAME leaf name: drop the
    # top half of the vectors so neighbor sets must differ
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    n = emb.count()
    emb.where(F.col("vec_id") < n // 2).coalesce(1).write.parquet(
        str(copy_dir / "embeddings.parquet"))

    spec = SPECS()["knn_ivf_pruned"]
    base = {tuple(r) for r in spec.fn(spark, sf_smoke).collect()}
    other = {tuple(r) for r in spec.fn(spark, str(copy_dir)).collect()}
    assert other != base, (
        "same-leaf data dir was served the other directory's index")
    # and the two memo entries point at distinct on-disk indexes
    app = spark.sparkContext.applicationId
    paths = {p for (pref, a, d), p in QS._INDEX_MEMO.items()
             if pref == "ivf_index_" and a == app}
    assert len(paths) >= 2
    shutil.rmtree(copy_dir, ignore_errors=True)


def test_retired_signature_oracles_still_hold(spark, sf_smoke):
    """The r7-retired minhash_signatures / simhash_signatures driver
    registrations, preserved verbatim as LOCAL oracle checks: the
    signature-table intermediates lost their driver-window slot to
    displacement, not their correctness gate — this is the exact SQL
    the driver ran against them through r5."""
    from pyspark.sql import functions as F

    from mapreduce_experiment_spark.plans.queries_dedup import (
        _SH_CTE,
        _minhash_sql_exprs,
        _simhash_sql,
    )
    from tests.oracle_util import assert_matches, run_oracle

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")

    minhash_sql = _SH_CTE + f"""
SELECT doc_id,
       array_to_string([{', '.join(_minhash_sql_exprs())}], ',') AS signature
FROM sh
"""
    got = D.minhash_signatures(docs).select(
        "doc_id",
        F.concat_ws(",", F.col("sig").cast("array<string>")).alias("signature"))
    assert_matches(got, run_oracle(minhash_sql, sf_smoke),
                   "minhash_signatures(retired)")

    simhash_sql = _SH_CTE + f"""
SELECT doc_id, {_simhash_sql()} AS simhash FROM sh
"""
    assert_matches(D.simhash_signatures(docs),
                   run_oracle(simhash_sql, sf_smoke),
                   "simhash_signatures(retired)")


def test_retired_srp_bucket_stats_oracle_still_holds(spark, sf_smoke):
    """The r10-retired ``srp_bucket_stats`` driver registration,
    preserved verbatim as a LOCAL oracle check (the pattern the r7
    signature-table retirements set): the bucket-occupancy diagnostic
    lost its driver-window slot to the knn_ivf_maintained
    registration, not its correctness gate — this is the exact SQL
    the driver ran against it through r8."""
    from pyspark.sql import functions as F

    from mapreduce_experiment_spark.operators import similarity as S
    from mapreduce_experiment_spark.plans.queries_similarity import (
        _srp_sigs_cte,
        _V_CTE,
    )
    from tests.oracle_util import assert_matches, run_oracle

    sql = _V_CTE + _srp_sigs_cte() + """
SELECT band_id, band_val, count(*) AS n_vectors
FROM sigs GROUP BY band_id, band_val
"""
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    got = (S.srp_signatures(emb)
           .groupBy("band_id", "band_val")
           .agg(F.count(F.lit(1)).alias("n_vectors")))
    assert_matches(got, run_oracle(sql, sf_smoke),
                   "srp_bucket_stats(retired)")


def test_ivf_recall_vs_bruteforce(spark, sf_smoke, monkeypatch):
    """Recall gate for the approximate ANN paths: the registered
    knn_ivf / knn_ivf_trained oracles MIRROR the bucket/probe logic, so
    a parameter choice that tanks recall would still hash-match — this
    test is the statement the oracles structurally can't make, the
    exact analogue of the SRP gate above.

    recall@5 against knn_bruteforce on the sf0.001 embeddings, at the
    REGISTERED parameters (16 centroids, N_PROBE=4). Every path
    is deterministic (seed centroids / int64 Lloyd / q6 cosine), so
    the observed recalls (0.92 untrained, 0.90 trained) never drift;
    the 0.8 floor leaves headroom only for intentional parameter
    changes, which must re-clear it. A fragmented configuration
    (64 centroids, N_PROBE=1) measures 0.68 — the floor discriminates."""
    from mapreduce_experiment_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    bf = {(r.query_id, r.neighbor_id)
          for r in S.knn_bruteforce(emb).collect()}
    assert len(bf) == 50  # 10 queries x k=5
    for fn in (S.knn_ivf, S.knn_ivf_trained):
        approx = {(r.query_id, r.neighbor_id) for r in fn(emb).collect()}
        recall = len(approx & bf) / len(bf)
        assert recall >= 0.8, (
            f"{fn.__name__} recall@5 {recall:.2f} < 0.8 floor — the "
            "bucket/probe parameters no longer find true neighbors"
        )
    # Negative control: prove the gate can fail. A config that
    # fragments the corpus into 64 buckets probing only 1 must land
    # UNDER the floor; if it ever clears it, the gate has gone soft
    # (e.g. corpus too small relative to k) and needs re-derivation.
    monkeypatch.setattr(S, "N_CENTROIDS", 64)
    monkeypatch.setattr(S, "N_PROBE", 1)
    frag = {(r.query_id, r.neighbor_id) for r in S.knn_ivf(emb).collect()}
    assert len(frag & bf) / len(bf) < 0.8


def test_streaming_minhash_dedup_state_spans_batches(spark, tmp_path):
    """The signature-table state must work ACROSS micro-batches (the
    registered query's availableNow drain may see one batch; this
    drives two via maxFilesPerTrigger=1): a re-delivered doc (same id,
    same text, later batch) is suppressed by state, while a NEW doc
    with duplicate content is emitted and lands in the same signature
    group. Emission is exactly-once per (signature, doc_id) regardless
    of batch boundaries."""
    import pandas as pd

    from mapreduce_experiment_spark.streaming.pipeline import (
        minhash_dedup_over_stream,
        _DOCS_RAW,
    )

    base = "the quick brown fox jumps over the lazy dog " * 3
    other = "pack my box with five dozen liquor jugs " * 3
    third = "sphinx of black quartz judge my vow " * 2
    d = tmp_path / "docs_in"
    d.mkdir()
    pd.DataFrame({"doc_id": [1, 2], "text": [base, other]}) \
        .to_parquet(d / "batch1.parquet")
    # batch 2: re-delivery of doc 1 + a new near-dup (same text, new
    # id) + an unrelated new doc
    pd.DataFrame({"doc_id": [1, 3, 4], "text": [base, base, third]}) \
        .to_parquet(d / "batch2.parquet")

    stream = (spark.readStream.schema(_DOCS_RAW)
              .option("maxFilesPerTrigger", 1).parquet(str(d)))
    q = (minhash_dedup_over_stream(stream)
         .writeStream.format("memory").queryName("smd_span_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(fed) >= 2, "expected the two files to arrive as separate batches"

    rows = spark.table("smd_span_test").collect()
    pairs = [(r.signature, r.doc_id) for r in rows]
    assert len(pairs) == len(set(pairs)) == 4  # 5 deliveries -> 4 emissions
    sig_of = {r.doc_id: r.signature for r in rows}
    assert sorted(sig_of) == [1, 2, 3, 4]
    assert sig_of[1] == sig_of[3]              # content dup groups together
    assert len({sig_of[1], sig_of[2], sig_of[4]}) == 3


def test_streaming_minhash_state_eviction(spark, tmp_path):
    """The r7 verdict's state-growth finding, closed and proven: the
    signature-keyed group state must be EVICTED once the stream's
    watermark passes (group's newest ingest_ts + delay), not held
    forever. Four single-file batches with a 1 h delay:

    - b1: doc 1 @ T0            -> emitted; deadline armed at T0+1h
    - b2: doc 2 @ T0+3h         -> watermark after b2 = T0+2h
    - b3: doc 3 @ T0+3h         -> doc 1's group has no data and its
                                   deadline < watermark: state REMOVED
    - b4: doc 1 again @ T0+3h   -> RE-emitted — direct evidence the
                                   seen-set was dropped

    (b4 is separate from b3 because a group receiving data in the
    same batch it would time out is served its data instead.) The
    companion spans-batches test proves the complement — inside the
    delay window re-deliveries stay suppressed across batches — so
    together they pin that the watermark delay is what bounds state."""
    import pandas as pd

    from pyspark.sql import types as T

    from mapreduce_experiment_spark.streaming.pipeline import (
        minhash_dedup_over_stream,
        _DOCS_RAW,
    )

    base = "the quick brown fox jumps over the lazy dog " * 3
    other = "pack my box with five dozen liquor jugs " * 3
    third = "sphinx of black quartz judge my vow " * 2
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    t3h = t0 + pd.Timedelta(hours=3)
    d = tmp_path / "docs_evict"
    d.mkdir()
    import time

    now = time.time()
    for i, (ids, texts, ts) in enumerate([
        ([1], [base], t0),
        ([2], [other], t3h),
        ([3], [third], t3h),
        ([1], [base], t3h),
    ], start=1):
        f = d / f"batch{i}.parquet"
        pd.DataFrame({"doc_id": ids, "text": texts,
                      "ingest_ts": [ts] * len(ids)}) \
            .to_parquet(f, coerce_timestamps="us")
        # distinct ascending mtimes pin the file source's batch order
        os.utime(f, (now + i, now + i))

    sch = T.StructType(
        list(_DOCS_RAW) + [T.StructField("ingest_ts", T.TimestampType())])
    stream = (spark.readStream.schema(sch)
              .option("maxFilesPerTrigger", 1).parquet(str(d)))
    q = (minhash_dedup_over_stream(stream)
         .writeStream.format("memory").queryName("smd_evict_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(fed) == 4, "expected four single-file batches"

    emitted = sorted(r.doc_id for r in spark.table("smd_evict_test").collect())
    # doc 1 emitted TWICE (before and after eviction), docs 2, 3 once
    assert emitted == [1, 1, 2, 3]


def test_streaming_event_dedup_single_batch_drain(spark, sf_smoke, tmp_path):
    """r7 ADVICE: streaming_event_dedup's oracle ("output equals the
    distinct batch events") leans on the availableNow drain processing
    both doubled sources in ONE micro-batch — the events table spans
    far more than the 1 h watermark delay, so a drain split across
    batches could advance the watermark between them and evict
    seen-key state mid-drain, re-emitting re-deliveries
    nondeterministically. Pin the single-batch assumption with the
    registered query's exact source/transform shape, so a config
    drift (maxFilesPerTrigger, a multi-file source) surfaces as THIS
    clear failure instead of a flaky oracle mismatch."""
    from mapreduce_experiment_spark.streaming.pipeline import (
        dedup_events,
        read_event_stream,
    )

    deduped = dedup_events(
        read_event_stream(spark, sf_smoke).unionByName(
            read_event_stream(spark, sf_smoke)))
    q = (deduped.writeStream.format("parquet")
         .option("path", str(tmp_path / "out"))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(fed) == 1, (
        f"dedup drain split into {len(fed)} micro-batches — the "
        "watermark can now advance mid-drain; revisit the oracle's "
        "single-batch assumption")


def test_streaming_event_dedup_state_survives_restart(spark, tmp_path):
    """The checkpointed file sink's exactly-once claim, driven through
    a real STOP → RESTART cycle on one checkpoint: drain 1 commits
    file A's events; drain 2 is a NEW query on the same checkpoint
    that must (a) not reprocess file A (source offsets recovered) and
    (b) still drop file B's re-deliveries of A's events — the
    dropDuplicates seen-key state comes back from the state store,
    not from process memory. The union of the two drains' committed
    output is each event exactly once; this is what makes the
    registered query's sink restartable at scale, beyond the single
    availableNow drain the oracle check exercises."""
    import pandas as pd

    from pyspark.sql import types as T

    from mapreduce_experiment_spark.streaming.pipeline import dedup_events

    sch = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src = tmp_path / "events_in"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    ts = pd.Timestamp("2024-01-01 00:00:00")

    def drain():
        q = (dedup_events(spark.readStream.schema(sch).parquet(str(src)))
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    def got():
        return sorted(r.event_id for r in
                      spark.read.schema(
                          "event_id long, user_id long, event_type string,"
                          " value double").parquet(out).collect())

    # coerce to micros: pandas' default ns timestamps read back as
    # bigint under the session's nanosAsLong conf and would mismatch
    # the declared TimestampType
    pd.DataFrame({"event_id": [1, 2, 3], "user_id": [10, 10, 11],
                  "event_type": ["view"] * 3, "value": [1.0, 2.0, 3.0],
                  "ts": [ts] * 3}).to_parquet(src / "a.parquet",
                                              coerce_timestamps="us")
    drain()
    assert got() == [1, 2, 3]

    # file B after the restart: re-deliveries of 2 and 3, plus new 4
    pd.DataFrame({"event_id": [2, 3, 4], "user_id": [10, 11, 12],
                  "event_type": ["view"] * 3, "value": [2.0, 3.0, 4.0],
                  "ts": [ts] * 3}).to_parquet(src / "b.parquet",
                                              coerce_timestamps="us")
    drain()
    assert got() == [1, 2, 3, 4]  # exactly once each, across the restart


def test_repetition_scores_crafted(spark):
    """Hand-computed repetition stats: a looping phrase must dominate
    the bigram mass; an all-distinct doc scores 1/n fractions."""
    docs = _docs(spark, [
        (1, "spam ham spam ham spam ham"),   # 6 toks, bigrams: s-h x3, h-s x2
        (2, "one two three four"),           # all distinct
        (3, "solo"),                         # 1 token -> no bigrams
    ])
    r = {x.doc_id: x for x in TX.repetition_scores(docs).collect()}
    assert (r[1].n_tokens, r[1].distinct_tokens, r[1].top_token_n) == (6, 2, 3)
    assert (r[1].n_bigrams, r[1].distinct_bigrams, r[1].top_bigram_n) == (5, 2, 3)
    assert r[1].top_token_frac == 0.5 and r[1].top_bigram_frac == 0.6
    assert (r[2].distinct_tokens, r[2].top_token_n) == (4, 1)
    assert r[2].top_bigram_frac == round(1 / 3, 6) + 0  # 3 distinct bigrams
    assert (r[3].n_bigrams, r[3].top_bigram_frac) == (0, 0.0)


def test_quality_handles_empty_and_null_text(spark):
    """r13 review, both reproduced live before the fix: (a) an
    empty-text doc crashed quality_features with DIVIDE_BY_ZERO
    (alpha_ratio over n_chars=0, ANSI-on session default); (b) a
    NULL-text doc scored a PERFECT 1.0 (F.least skips null operands)
    and quality_filter's null-comparison when-chain fell through to
    'kept'. Both now take the empty-string path: score 0.0, dropped
    as 'too_short'."""
    docs = spark.createDataFrame(
        [(1, ""), (2, None),
         (3, "the quick brown fox jumps over the lazy dog and then "
             "it sat with the cat for a while in the sun")],
        "doc_id long, text string")
    feats = {r.doc_id: r for r in TX.quality_features(docs).collect()}
    assert feats[1].quality_score == 0.0
    assert feats[2].quality_score == 0.0
    assert feats[3].quality_score > 0.5
    verdict = {r.doc_id: (r.keep, r.reason)
               for r in TX.quality_filter(docs).collect()}
    assert verdict[1] == (False, "too_short")
    assert verdict[2] == (False, "too_short")
    assert verdict[3][0] is True


def test_tfidf_zero_norm_corpus_does_not_crash(spark):
    """r13 review, reproduced live: when every surviving term appears
    in ALL docs (df == N), idf = 0 everywhere, norms are 0, and the
    cosine division hard-failed under ANSI. Degenerate pairs now
    score 0 and fall below the threshold."""
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta alpha"), (3, "alpha beta beta")],
        "doc_id long, text string")
    assert TX.tfidf_pairs(docs, threshold=0.5, max_df=100).collect() == []


def test_quality_filter_first_failing_rule_order(spark):
    """A doc failing several rules must report the FIRST (rule order is
    the contract): a 2-token doc with no stopwords reports too_short,
    not low_stopword."""
    docs = _docs(spark, [
        (1, "tiny doc"),                      # too_short (and low stopword)
        (2, "the cat and the dog of it is that for sat on the mat today"),
    ])
    out = {r.doc_id: r for r in TX.quality_filter(docs).collect()}
    assert out[1].reason == "too_short" and not out[1].keep
    assert out[2].reason == "kept" and out[2].keep


def test_mixture_sample_deterministic_and_composable(spark):
    """Mixing invariants: rerun-identical; halving a source's rate
    yields a strict SUBSET (rate composability); a source missing from
    the weights table drops entirely."""
    from mapreduce_experiment_spark.operators.relational import mixture_sample

    docs = spark.createDataFrame(
        [(i, f"src{i % 3}") for i in range(300)], "doc_id long, source string")
    w_full = spark.createDataFrame(
        [("src0", 1_000_000), ("src1", 400_000)], "source string, keep_ppm long")
    w_half = spark.createDataFrame(
        [("src0", 1_000_000), ("src1", 200_000)], "source string, keep_ppm long")

    kept = {r.doc_id for r in
            mixture_sample(docs, w_full, "doc_id", "source").collect()}
    again = {r.doc_id for r in
             mixture_sample(docs, w_full, "doc_id", "source").collect()}
    assert kept == again
    assert {i for i in kept if i % 3 == 0} == {i for i in range(300) if i % 3 == 0}
    assert not any(i % 3 == 2 for i in kept)  # src2 absent from weights
    halved = {r.doc_id for r in
              mixture_sample(docs, w_half, "doc_id", "source").collect()}
    assert halved < kept  # strict subset: src1 sampled down, src0 intact


def test_decontaminated_corpus_removes_only_contaminated(spark):
    """Removal = original minus exactly the flagged train docs."""
    prompt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = _docs(spark, [
        (1, "prefix words " + prompt + " suffix words"),
        (2, "completely unrelated content with many different tokens here"),
        (3, "more clean content that shares nothing with the benchmark set"),
    ])
    evals = spark.createDataFrame([("b", prompt)], "eval_id string, prompt string")
    hits = TX.contamination_pairs_external(docs, evals)
    flagged = {r.train_doc_id for r in hits.collect()}
    clean = {r.doc_id for r in
             docs.join(hits.select(F.col("train_doc_id").alias("doc_id"))
                       .distinct(), "doc_id", "left_anti").collect()}
    assert flagged == {1} and clean == {2, 3}


def test_chunk_documents_tiling_invariants(spark):
    docs = _docs(spark, [
        (1, "x" * 500),               # multi-chunk, exact-tail case
        (2, "y" * 200),               # exactly one window
        (3, "z" * 201),               # one char past the window
        (4, "short"),                 # shorter than one window
    ])
    rows = TX.chunk_documents(docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    texts = {r.doc_id: r.text for r in docs.collect()}
    stride = TX.CHUNK_CHARS - TX.CHUNK_OVERLAP
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_id)
        text = texts[doc_id]
        # every chunk is the literal substring at its offset
        for c in chunks:
            assert c.chunk_text == text[c.chunk_start - 1:
                                        c.chunk_start - 1 + TX.CHUNK_CHARS]
            assert c.chunk_len == len(c.chunk_text)
            assert c.chunk_start == c.chunk_id * stride + 1
        # chunks cover the doc: last chunk reaches the end, and each
        # consecutive pair overlaps by CHUNK_OVERLAP
        last = chunks[-1]
        assert last.chunk_start - 1 + last.chunk_len == len(text)
        for a, b in zip(chunks, chunks[1:]):
            assert b.chunk_start - a.chunk_start == stride
    assert len(by_doc[2]) == 1
    assert len(by_doc[3]) == 2
    assert len(by_doc[4]) == 1


def test_ngram_counts_occurrences_not_distinct(spark):
    # 'a b a b a' has trigrams: 'a b a', 'b a b', 'a b a' — the
    # repeated gram must count twice (occurrence semantics, unlike
    # the dedup shingle set).
    docs = _docs(spark, [(1, "a b a b a"), (2, "a b")])  # doc 2: too short
    got = {r.gram: r.n for r in TX.ngram_counts(docs, n=3).collect()}
    assert got == {"a b a": 2, "b a b": 1}


def test_bm25_ranks_relevant_doc_first(spark, monkeypatch):
    rare = _docs(spark, [
        (1, "spark shuffle partitions " * 5),
        (2, "spark spark spark shuffle shuffle partitions broadcast join"),
        (3, "completely unrelated words about cooking pasta dinner"),
        (4, "broadcast join hints and broadcast thresholds broadcast"),
    ])
    qs = spark.createDataFrame([("q1", "broadcast join")],
                               "query_id string, qtext string")
    monkeypatch.setattr(TX, "BM25_TOP_K", 3)
    rows = TX.bm25_topk(rare, qs).collect()
    assert [r.doc_id for r in sorted(rows, key=lambda r: r.rank)][0] == 4
    ids = {r.doc_id for r in rows}
    assert 3 not in ids                      # no matching term → no row
    assert all(r.score_micro > 0 for r in rows)
    assert all(1 <= r.rank <= 3 for r in rows)


def test_bm25_empty_query_matches_nothing(spark):
    """r13 text review (landed r14): tokenize('') yields the phantom
    '' token, so an empty or punctuation-only query used to match
    every empty DOCUMENT and retrieve it rank-1 (the '' term's idf is
    high precisely because almost no doc is empty). Zero-length terms
    are now filtered on both sides."""
    docs = _docs(spark, [
        (1, ""),                         # empty doc — the old rank-1 hit
        (2, "alpha beta gamma"),
        (3, "!!!"),                      # punctuation-only doc
    ])
    qs = spark.createDataFrame(
        [("q-empty", ""), ("q-punct", "?!."), ("q-real", "alpha")],
        "query_id string, qtext string")
    rows = TX.bm25_topk(docs, qs).collect()
    assert {r.query_id for r in rows} == {"q-real"}
    assert [(r.doc_id, r.rank) for r in rows] == [(2, 1)]


def test_lang_id_null_text_is_und(spark):
    """r13 text review (landed r14): NULL text propagated NULL hit
    counts through the when-chain to a NULL pred_lang bucket; it now
    folds into the empty-string case — zero hits, 'und' — matching
    quality_features' convention."""
    docs = _docs(spark, [(1, None), (2, "the cat and the dog is it")])
    out = {r.doc_id: (r.pred_lang, r.hits_en)
           for r in TX.lang_id(docs).collect()}
    assert out == {1: ("und", 0), 2: ("en", 5)}


def test_pack_views_agree_on_null_text(spark, monkeypatch):
    """NULL text folds into the empty-string case (one phantom token)
    in the shared packing core, so both pack views carry the doc and
    the tiling invariants hold; unguarded, pack_sequences would emit a
    NULL-n_tokens row (poisoning every later _start in its shard)
    while pack_sequence_fragments dropped the doc."""
    docs = _docs(spark, [(1, None), (2, "tok " * 10), (3, "")])
    monkeypatch.setattr(TX, "PACK_CAPACITY", 8)
    ps = {r.doc_id: r for r in TX.pack_sequences(docs).collect()}
    pf = TX.pack_sequence_fragments(docs).collect()
    assert set(ps) == {1, 2, 3}
    assert all(r.n_tokens is not None for r in ps.values())
    assert ps[1].n_tokens == 1 and ps[3].n_tokens == 1  # NULL ≡ ''
    frag_sum: dict[int, int] = {}
    for r in pf:
        frag_sum[r.doc_id] = frag_sum.get(r.doc_id, 0) + r.frag_len
    assert frag_sum == {d: r.n_tokens for d, r in ps.items()}


def test_word_ngrams_helper_semantics(spark):
    """The one shared n-gram expression (r13 text review: previously
    triplicated across shingles / ngram_counts / repetition_scores and
    free to drift): occurrence list by default, distinct set as
    shingles, empty-guarded for short docs."""
    from mapreduce_experiment_spark.functions.textfns import (
        shingles, tokenize, word_ngrams,
    )
    df = spark.createDataFrame([("a b a b a",), ("a b",)], "text string")
    rows = df.select(
        word_ngrams(tokenize(F.col("text")), 3).alias("occ"),
        shingles(tokenize(F.col("text")), 3).alias("dis"),
    ).collect()
    assert rows[0].occ == ["a b a", "b a b", "a b a"]  # duplicates kept
    assert sorted(rows[0].dis) == ["a b a", "b a b"]   # set semantics
    assert rows[1].occ == [] and rows[1].dis == []     # short-doc guard


def test_moment_aggregates_survive_int64_overflow(spark, tmp_path):
    """r14 review: value_distribution_stats and
    price_quantity_correlation summed squared cents as int64 — a
    1e7-cent value contributes ~1e14 per row, so the sum overflows
    around 1e5 such rows per group (ANSI ARITHMETIC_OVERFLOW killing
    the query exactly at scale) while DuckDB silently promotes BIGINT
    sums to HUGEINT. The moments now accumulate in decimal; prove the
    registered queries match their DuckDB oracles at magnitudes where
    the long form THROWS."""
    import pyspark.errors
    import pytest

    from mapreduce_experiment_spark.plans.registry import SPECS
    from tests.oracle_util import assert_matches, run_oracle

    import duckdb

    sf = str(tmp_path)
    # Single-file parquet like the shipped test dirs (a Spark write
    # is a directory, which read_parquet('<name>.parquet') rejects).
    # value cents = 4.5e9 → cents² ≈ 2e19 > int64 max PER ROW: past
    # both the old Spark long-sum overflow AND the old oracle's
    # per-row BIGINT multiply (the ~3e9-cent verification cap the r14
    # close documented — removed by HUGEINT-ifying the oracle's
    # squared/cross products, so engine decimal and oracle HUGEINT
    # now bound the domain together at ~1e38).
    con = duckdb.connect()
    con.execute(f"""
        COPY (SELECT i AS event_id,
                     TIMESTAMP '2024-01-01 00:00:00' AS ts,
                     1::BIGINT AS user_id, 'click' AS event_type,
                     4.5e7 + i AS value, '{{}}' AS props
              FROM range(4) t(i))
        TO '{sf}/events.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT 1::BIGINT AS l_orderkey, 1::BIGINT AS l_partkey,
                     1::BIGINT AS l_suppkey, 1::INT AS l_linenumber,
                     4.0e7 + i AS l_quantity, 4.5e7 + i AS l_extendedprice,
                     0.0 AS l_discount, 0.0 AS l_tax,
                     'N' AS l_returnflag, 'O' AS l_linestatus,
                     TIMESTAMP '2024-01-01 00:00:00' AS l_shipdate
              FROM range(4) t(i))
        TO '{sf}/lineitem.parquet' (FORMAT parquet)""")

    specs = SPECS()
    for name in ("value_distribution_stats", "price_quantity_correlation"):
        assert_matches(specs[name].fn(spark, sf),
                       run_oracle(specs[name].oracle, sf), name)

    # defect 1, demonstrated: the old long-typed sum of squares
    # throws at these magnitudes
    cents = F.round(F.col("value") * 100, 0).cast("long")
    with pytest.raises(pyspark.errors.PySparkException,
                       match="OVERFLOW|overflow"):
        spark.read.parquet(f"{sf}/events.parquet") \
            .select(cents.alias("c")) \
            .agg(F.sum(F.col("c") * F.col("c"))).collect()

    # defect 2, demonstrated: the old ORACLE's bare BIGINT product
    # (no HUGEINT cast) dies per-row at these magnitudes — the cap
    # that used to bound the verifiable money domain at ~3e9 cents
    with pytest.raises(duckdb.Error, match="[Oo]ut of [Rr]ange"):
        run_oracle(
            "SELECT sum(cents * cents) FROM (SELECT CAST(round(value "
            "* 100) AS BIGINT) AS cents FROM events)", sf)

    # defect 3 (r14 widened-domain sweep): Spark's floor(double)
    # returns LONG and silently SATURATES at int64 max while DuckDB's
    # floor stays DOUBLE — so the variance quantization diverged
    # silently once the cents² variance passed ~9.2e18 (a value
    # spread of ~3e9 cents). Both engines now branch to the raw
    # (bit-deterministic) double past 9.0e18. Fixture: one group
    # whose spread of ±4e10 dollars puts the variance ~3e25.
    con.execute(f"""
        COPY (SELECT i AS event_id,
                     TIMESTAMP '2024-01-01 00:00:00' AS ts,
                     1::BIGINT AS user_id, 'click' AS event_type,
                     CASE WHEN i % 2 = 0 THEN 4.0e10 + i
                          ELSE -4.0e10 - i END AS value, '{{}}' AS props
              FROM range(4) t(i))
        TO '{sf}/events.parquet' (FORMAT parquet)""")
    spec = specs["value_distribution_stats"]
    assert_matches(spec.fn(spark, sf), run_oracle(spec.oracle, sf),
                   "value_distribution_stats")
    # the saturation itself, demonstrated
    sat = spark.range(1).select(F.floor(F.lit(2.3e19))).collect()[0][0]
    assert sat == 9223372036854775807


def test_revenue_sums_survive_int64_overflow(spark, tmp_path):
    """ADVICE r14: the moment queries got decimal accumulators, but
    the revenue-sum queries (volume_shipping, asia_market_share,
    top_parts_per_nation) still summed cents as int64 — at the
    contracted ±2e12-cent per-row magnitude a single group of ~4.6M
    rows pushes the sum past 2^63, an ANSI ARITHMETIC_OVERFLOW that
    kills the job Spark-side while DuckDB's BIGINT sum silently
    promotes to HUGEINT (crash on one engine, value on the other).
    Revenue cents now accumulate in decimal(19,0); prove all three
    registered queries match their oracles on a 5M-row group whose
    revenue sum is 1e19 cents, and demonstrate the old long form
    dying there."""
    import duckdb
    import pyspark.errors
    import pytest

    from mapreduce_experiment_spark.plans.registry import SPECS
    from tests.oracle_util import assert_matches, run_oracle

    sf = str(tmp_path)
    con = duckdb.connect()
    # One order/customer/supplier; customer in ASIA, supplier in a
    # different nation (volume_shipping's <> filter must keep the
    # rows). 5M line items of +2e10 dollars = 2e12 cents each →
    # group sum 1e19 > int64 max, inside decimal(19)/HUGEINT.
    con.execute(f"""
        COPY (SELECT * FROM (VALUES (0, 'ASIA'), (1, 'EUROPE'))
              t(r_regionkey, r_name))
        TO '{sf}/region.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT * FROM (VALUES (0, 'ANATION', 0), (1, 'SNATION', 1))
              t(n_nationkey, n_name, n_regionkey))
        TO '{sf}/nation.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT 0::BIGINT AS c_custkey, 'c' AS c_name,
                     0::INT AS c_nationkey, 0.0 AS c_acctbal,
                     'BUILDING' AS c_mktsegment)
        TO '{sf}/customer.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT 1::BIGINT AS s_suppkey, 's' AS s_name,
                     1::INT AS s_nationkey, 0.0 AS s_acctbal)
        TO '{sf}/supplier.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT 0::BIGINT AS o_orderkey, 0::BIGINT AS o_custkey,
                     'O' AS o_orderstatus, 1.0 AS o_totalprice,
                     TIMESTAMP '1995-06-01 00:00:00' AS o_orderdate,
                     '1-URGENT' AS o_orderpriority)
        TO '{sf}/orders.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT 0::BIGINT AS l_orderkey, 7::BIGINT AS l_partkey,
                     1::BIGINT AS l_suppkey, i::INT AS l_linenumber,
                     1.0 AS l_quantity, 2.0e10 AS l_extendedprice,
                     0.0 AS l_discount, 0.0 AS l_tax,
                     'N' AS l_returnflag, 'O' AS l_linestatus,
                     TIMESTAMP '1995-06-01 00:00:00' AS l_shipdate
              FROM range(5000000) t(i))
        TO '{sf}/lineitem.parquet' (FORMAT parquet)""")

    specs = SPECS()
    for name in ("volume_shipping", "asia_market_share",
                 "top_parts_per_nation"):
        assert_matches(specs[name].fn(spark, sf),
                       run_oracle(specs[name].oracle, sf), name)
    # the group really is past int64: 5e6 rows × 2e12 cents
    row = specs["asia_market_share"].fn(spark, sf).collect()[0]
    assert row.total_cents == 1e19 and row.asia_share == 1.0

    # the defect, demonstrated: the old long-typed revenue sum
    # ANSI-overflows on this group while the DuckDB oracle's BIGINT
    # sum silently promotes to HUGEINT
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    with pytest.raises(pyspark.errors.PySparkException,
                       match="OVERFLOW|overflow"):
        spark.read.parquet(f"{sf}/lineitem.parquet") \
            .agg(F.sum(cents)).collect()
    assert run_oracle(
        "SELECT sum(CAST(round(l_extendedprice * (1 - l_discount) "
        "* 100) AS BIGINT)) AS s FROM lineitem", sf).s[0] == 10**19


def test_event_value_sums_survive_int64_overflow(spark, tmp_path):
    """r15 companion to the revenue test above, for the events
    surface: the session/window value sums accumulated cents as
    int64, overflowing at ~3M contract-extreme (±3e12-cent) events
    per group — ANSI crash Spark-side, silent HUGEINT promotion in
    DuckDB. Now decimal(19,0); prove hourly_event_counts (the
    cheapest registered consumer — one group-by over the raw table)
    matches its oracle on a 3.2M-row single-bucket group whose sum
    is past 2^63, and demonstrate the old long form dying there."""
    import duckdb
    import pyspark.errors
    import pytest

    from mapreduce_experiment_spark.plans.registry import SPECS
    from tests.oracle_util import assert_matches, run_oracle

    sf = str(tmp_path)
    con = duckdb.connect()
    # 3.2M 'click' events in ONE hour at +3e10 dollars (3e12 cents)
    # each: group sum 9.6e18 cents > int64 max, inside
    # decimal(29)/HUGEINT. A second small group keeps the group-by
    # honest.
    con.execute(f"""
        COPY (SELECT i AS event_id,
                     TIMESTAMP '2024-01-01 00:00:00'
                       + INTERVAL (i % 3000) SECOND AS ts,
                     1::BIGINT AS user_id,
                     CASE WHEN i < 3200000 THEN 'click' ELSE 'view' END
                       AS event_type,
                     CASE WHEN i < 3200000 THEN 3.0e10 ELSE 1.25 END
                       AS value,
                     '{{}}' AS props
              FROM range(3200004) t(i))
        TO '{sf}/events.parquet' (FORMAT parquet)""")

    specs = SPECS()
    spec = specs["hourly_event_counts"]
    assert_matches(spec.fn(spark, sf), run_oracle(spec.oracle, sf),
                   "hourly_event_counts")
    rows = {r.event_type: r for r in spec.fn(spark, sf).collect()}
    assert rows["click"].total_value == 9.6e16  # 9.6e18 cents / 100

    # ADVICE r15: the OTHER four registered events-surface decimal
    # sites were only exercised in the non-overflow regime — a
    # regression back to long in one of them would have passed all
    # tests. Reuse the same hostile fixture (the cost is paid):
    # the 3.2M user-1 events all sit within 3000 s, so the session
    # queries see ONE session whose cents sum is past 2^63, and the
    # streaming hourly agg re-proves the hot bucket through real
    # streaming state. (value_band_range_join's in-band values are
    # bounded by the band edges, so its sum can't overflow on ANY
    # in-contract fixture — asserted here for the filter path and
    # shared-helper consistency only.) stateful_streaming_sessions /
    # _evicting carry the same magnitude through the keyed-state
    # sessionizers (their decimal STATE column round-trip is pinned
    # separately by test_sessionizer_state_survives_int64_overflow).
    for name in ("session_stats", "session_window_stats",
                 "streaming_hourly_counts", "value_band_range_join",
                 "stateful_streaming_sessions"):
        assert_matches(specs[name].fn(spark, sf),
                       run_oracle(specs[name].oracle, sf), name)
    # exact expected double: both engines widen the exact integer
    # cents (9.6e18 + 500 — PAST int64) to double, then divide by 100
    sess = {r.user_id: r for r in specs["session_stats"].fn(spark, sf).collect()}
    assert sess[1].total_value == float(9_600_000_000_000_000_500) / 100.0

    # the defect, demonstrated: the old long-typed value sum
    # ANSI-overflows on the hot bucket
    cents = F.round(F.col("value") * 100, 0).cast("long")
    with pytest.raises(pyspark.errors.PySparkException,
                       match="OVERFLOW|overflow"):
        spark.read.parquet(f"{sf}/events.parquet") \
            .where(F.col("event_type") == "click") \
            .agg(F.sum(cents)).collect()


def test_qsum_group_sums_survive_int64_overflow(spark, tmp_path):
    """r16, the money-migration's qsum/qavg half: the shared helpers
    (functions/compare.py) behind pricing_summary, revenue_by_nation,
    order_priority_rollup, returnflag_status_cube and
    nation_order_stats accumulated cents as int64 — the same ANSI
    ARITHMETIC_OVERFLOW class the revenue/events surfaces closed in
    r15 (crash Spark-side at ~4.6M contract-extreme rows per group,
    silent HUGEINT promotion in DuckDB). The helpers now accumulate
    in decimal(19,0); prove all five registered consumers match their
    oracles on groups whose cents sums are 1e19 — past 2^63 — and
    demonstrate the old long form dying there."""
    import duckdb
    import pyspark.errors
    import pytest

    from mapreduce_experiment_spark.plans.registry import SPECS
    from tests.oracle_util import assert_matches, run_oracle

    sf = str(tmp_path)
    con = duckdb.connect()
    # Customer and supplier share nation 0 in region ASIA so
    # revenue_by_nation's c_nationkey = s_nationkey join keeps the
    # rows; 5M orders and 5M line items at +2e10 dollars (2e12 cents,
    # the contract extreme) put every money group's sum at 1e19.
    con.execute(f"""
        COPY (SELECT * FROM (VALUES (0, 'ASIA')) t(r_regionkey, r_name))
        TO '{sf}/region.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT * FROM (VALUES (0, 'ANATION', 0))
              t(n_nationkey, n_name, n_regionkey))
        TO '{sf}/nation.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT 0::BIGINT AS c_custkey, 'c' AS c_name,
                     0::INT AS c_nationkey, 0.0 AS c_acctbal,
                     'BUILDING' AS c_mktsegment)
        TO '{sf}/customer.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT 1::BIGINT AS s_suppkey, 's' AS s_name,
                     0::INT AS s_nationkey, 0.0 AS s_acctbal)
        TO '{sf}/supplier.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT i AS o_orderkey, 0::BIGINT AS o_custkey,
                     'O' AS o_orderstatus, 2.0e10 AS o_totalprice,
                     TIMESTAMP '1996-06-01 00:00:00' AS o_orderdate,
                     '1-URGENT' AS o_orderpriority
              FROM range(5000000) t(i))
        TO '{sf}/orders.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT 0::BIGINT AS l_orderkey, 7::BIGINT AS l_partkey,
                     1::BIGINT AS l_suppkey, i::INT AS l_linenumber,
                     2.0e10 AS l_quantity, 2.0e10 AS l_extendedprice,
                     0.0 AS l_discount, 0.0 AS l_tax,
                     'N' AS l_returnflag, 'O' AS l_linestatus,
                     TIMESTAMP '1995-06-01 00:00:00' AS l_shipdate
              FROM range(5000000) t(i))
        TO '{sf}/lineitem.parquet' (FORMAT parquet)""")

    specs = SPECS()
    for name in ("pricing_summary", "revenue_by_nation",
                 "order_priority_rollup", "returnflag_status_cube",
                 "nation_order_stats"):
        assert_matches(specs[name].fn(spark, sf),
                       run_oracle(specs[name].oracle, sf), name)
    # the groups really are past int64: 5e6 rows × 2e12 cents, and
    # both engines widen the exact integer before the one /100.0
    row = specs["pricing_summary"].fn(spark, sf).collect()[0]
    assert row.sum_base_price == float(10**19) / 100.0

    # the defect, demonstrated: the helpers' old long accumulation
    # ANSI-overflows on the orders group while the oracle's BIGINT
    # sum silently promotes to HUGEINT
    with pytest.raises(pyspark.errors.PySparkException,
                       match="OVERFLOW|overflow"):
        spark.read.parquet(f"{sf}/orders.parquet") \
            .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0)
                       .cast("long"))).collect()
    assert run_oracle(
        "SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS s "
        "FROM orders", sf).s[0] == 10**19


def test_two_level_money_agg_matches_one_level(spark, sf_smoke):
    """r17 pricing_summary mitigation: the two-level sum (per-chunk
    long cents -> decimal sum of chunk sums; functions/compare.py)
    must be BIT-identical to the one-level qsum/qavg form — exact
    integer arithmetic at both levels, same decimal(29,0)
    intermediate, same final double conversion. Rebuild the old
    one-level query inline and compare collected rows exactly; a
    drift here (e.g. a future edit moving the double conversion
    point) would silently shift pricing_summary off its oracle."""
    from mapreduce_experiment_spark.functions import qavg, qsum
    from mapreduce_experiment_spark.plans.registry import SPECS
    from mapreduce_experiment_spark.sources.tables import load_table

    li = load_table(spark, sf_smoke, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    one_level = (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            qsum(F.col("l_quantity")).alias("sum_qty"),
            qsum(F.col("l_extendedprice")).alias("sum_base_price"),
            qsum(disc_price).alias("sum_disc_price"),
            qsum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            qavg(F.col("l_quantity"), 4).alias("avg_qty"),
            qavg(F.col("l_extendedprice"), 4).alias("avg_price"),
            qavg(F.col("l_discount"), 6, scale=10000).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    two_level = SPECS()["pricing_summary"].fn(spark, sf_smoke)
    key = ["l_returnflag", "l_linestatus"]
    got = two_level.orderBy(*key).collect()
    want = one_level.orderBy(*key).collect()
    assert got == want
    assert [f.dataType for f in two_level.schema.fields] == \
        [f.dataType for f in one_level.schema.fields]


def test_two_level_chunk_sum_at_contract_extreme(spark, tmp_path):
    """ADVICE r17: the two-level form narrows overflow headroom vs the
    one-level decimal sum it replaced — a chunk's long sum ANSI-
    overflows past 2^63 once per-row |cents| exceeds 2^63/2^21 ~
    4.39e12, and the compare.py comments argue a 1.46x margin at the
    documented 3e12-cent contract extreme WITHOUT a pin (the re-used
    1e19 overflow pin drives only 2e12-cent rows). Lock the extreme:
    3.2M rows (> 2^21, one parquet scan partition) at 3e12 cents each
    through the REGISTERED pricing_summary, so at least one chunk is
    FULL (2^21 rows x 3e12 = 6.29e18, the worst case the margin
    claims) — and prove the full chunk actually existed rather than
    assuming the scan layout."""
    import duckdb

    from mapreduce_experiment_spark.functions import cents_long, chunk_id
    from mapreduce_experiment_spark.functions.compare import CHUNK_ROWS_LOG2
    from mapreduce_experiment_spark.plans.registry import SPECS
    from tests.oracle_util import assert_matches, run_oracle

    sf = str(tmp_path)
    n = 3_200_000  # > 2^21 = 2,097,152 rows
    con = duckdb.connect()
    con.execute(f"""
        COPY (SELECT 0::BIGINT AS l_orderkey, 7::BIGINT AS l_partkey,
                     1::BIGINT AS l_suppkey, i::INT AS l_linenumber,
                     1.0 AS l_quantity, 3.0e10 AS l_extendedprice,
                     0.0 AS l_discount, 0.0 AS l_tax,
                     'N' AS l_returnflag, 'O' AS l_linestatus,
                     TIMESTAMP '1995-06-01 00:00:00' AS l_shipdate
              FROM range({n}) t(i))
        TO '{sf}/lineitem.parquet' (FORMAT parquet)""")
    spec = SPECS()["pricing_summary"]
    assert_matches(spec.fn(spark, sf), run_oracle(spec.oracle, sf),
                   "pricing_summary")
    row = spec.fn(spark, sf).collect()[0]
    assert row.count_order == n
    assert row.sum_base_price == n * 3.0e10
    # a FULL chunk at the extreme, exercised directly: the local[32]
    # scan splits this small file across cores (no partition reaches
    # 2^21 rows), so coalesce(1) — a narrow, exchange-free merge that
    # keeps monotonically_increasing_id consecutive — packs all 3.2M
    # rows into one partition and fills a chunk to exactly 2^21 rows.
    # Its long sum is the claimed worst case: 2^21 x 3e12 = 6.29e18,
    # 1.46x under 2^63, summed under ANSI (an overflow would raise).
    li = spark.read.parquet(f"{sf}/lineitem.parquet").coalesce(1)
    chunks = (li.groupBy(chunk_id().alias("c"))
              .agg(F.count(F.lit(1)).alias("rows"),
                   F.sum(cents_long(F.col("l_extendedprice")))
                    .alias("csum"))
              .collect())
    assert max(c.rows for c in chunks) == 2 ** CHUNK_ROWS_LOG2
    assert max(c.csum for c in chunks) == 2 ** CHUNK_ROWS_LOG2 * 3 * 10**12


def test_qavg_floor_boundary_matches_oracle(spark, tmp_path):
    """Hostile seed 35 finding (r17), pinned: DuckDB parses `10000.0`
    as DECIMAL(6,1), so qavg_sql's `sum(...) * 10000.0` ran HUGEINT x
    DECIMAL = EXACT decimal arithmetic while Spark's qavg runs IEEE
    doubles — a different spec that diverges whenever the true
    quotient sits within ~1 double-ulp of the +0.5 floor boundary
    (ulp = 0.008 at a 4e13-cent quotient). Reproduce the exact seed-35
    group: S = 36,100,076,321,755 cents over n = 93 rows — exact
    value ...478.4946 floors to ...478, the double path to ...479.
    The oracle now CASTs the sum to DOUBLE (one conversion, identical
    scalar ops both engines), and this drives the REGISTERED
    pricing_summary (two-level d_avg path) against it."""
    import duckdb

    from mapreduce_experiment_spark.plans.registry import SPECS
    from tests.oracle_util import assert_matches, run_oracle

    sf = str(tmp_path)
    con = duckdb.connect()
    # 92 rows + 1 remainder row summing to exactly S; every per-row
    # cents value is inside the +-2e12 money-domain contract
    con.execute(f"""
        COPY (
          SELECT 0::BIGINT AS l_orderkey, 1::BIGINT AS l_partkey,
                 1::BIGINT AS l_suppkey, i::INT AS l_linenumber,
                 1.0 AS l_quantity,
                 CASE WHEN i < 92 THEN 3881729000.00
                      ELSE 3881695217.55 END AS l_extendedprice,
                 0.0 AS l_discount, 0.0 AS l_tax,
                 'N' AS l_returnflag, 'O' AS l_linestatus,
                 TIMESTAMP '1995-06-01 00:00:00' AS l_shipdate
          FROM range(93) t(i))
        TO '{sf}/lineitem.parquet' (FORMAT parquet)""")
    spec = SPECS()["pricing_summary"]
    assert_matches(spec.fn(spark, sf), run_oracle(spec.oracle, sf),
                   "pricing_summary")
    row = spec.fn(spark, sf).collect()[0]
    # the double-spec value (exact-decimal arithmetic would give
    # ...478: that is the divergence the oracle cast closes)
    assert row.count_order == 93
    assert row.avg_price == 3881728636.7479


def test_qavg_boundary_sweep_cross_engine(spark, tmp_path):
    """Density follow-up to the seed-35 pin above: ~1,250 groups
    CRAFTED to land within a few double-ulps of qavg's +0.5 floor
    boundary at 1e13-1e14-cent quotients (where the ulp, 0.002-0.016,
    dwarfs everything and random data almost never treads). Measured
    teeth: against the pre-fix oracle form this sweep diverges on 5
    of the 1,250 groups (the seed-35 class); with both engines
    flooring the same IEEE double they must agree on EVERY one. Groups stay in-contract: n >= 60 keeps per-row cents under
    the ±2e12 domain bound."""
    import duckdb
    import numpy as np
    import pandas as pd

    from mapreduce_experiment_spark.functions import qavg, qavg_sql

    rng = np.random.default_rng(17)
    rows_g, rows_c = [], []
    gid = 0
    for _ in range(250):
        n = int(rng.integers(60, 200))
        x = int(rng.integers(10**13, 10**14))  # target quotient int part
        den, mult = 100 * n, 10**4
        s0 = ((2 * x + 1) * den) // (2 * mult)  # quotient ~ x + 0.5
        for k in (-2, -1, 0, 1, 2):
            s = s0 + k
            base = s // n
            rem = s - base * (n - 1)
            assert 0 < base <= 2 * 10**12 and 0 < rem <= 2 * 10**12
            cents_list = [base] * (n - 1) + [rem]
            rows_g.extend([gid] * n)
            rows_c.extend(cents_list)
            gid += 1
    pd.DataFrame({"g": np.array(rows_g, dtype=np.int64),
                  "v": np.array(rows_c, dtype=np.float64) / 100.0}
                 ).to_parquet(tmp_path / "sweep.parquet")

    got = {r.g: r.a for r in
           spark.read.parquet(str(tmp_path / "sweep.parquet"))
           .groupBy("g").agg(qavg(F.col("v"), 4).alias("a")).collect()}
    con = duckdb.connect()
    want = dict(con.execute(
        f"SELECT g, {qavg_sql('v', 4)} FROM "
        f"read_parquet('{tmp_path}/sweep.parquet') GROUP BY g").fetchall())
    assert len(got) == gid
    diffs = {g: (got[g], want[g]) for g in want if got[g] != want[g]}
    assert not diffs, (
        f"{len(diffs)} boundary groups diverge cross-engine, e.g. "
        f"{next(iter(diffs.items()))}")


def test_kmeans_centroid_oracle_floor_division_exact():
    """ADVICE r17 (medium), pinned: the kmeans engine update is
    s // cnt over exact Python ints, so NO double formulation can
    mirror it — floor(CAST(s AS DOUBLE)/n) diverges once
    per-(centroid,pos) |s| >= 2^53 (counterexample s=2^53+1, n=3:
    double path ...330, exact floor ...331). The oracle CTE now uses
    exact HUGEINT floor division with a floor-mod adjustment; this
    test (a) proves that form equals Python `//` on hostile (s, n)
    pairs including negatives and >=2^53 magnitudes, (b) proves the
    OLD double form actually diverges on the counterexample (teeth),
    and (c) greps the live CTE source so a regression back to the
    DOUBLE form fails here, not at a 5.6e8-row scale no oracle run
    reaches."""
    import duckdb

    from mapreduce_experiment_spark.plans.queries_similarity import (
        _kmeans_cte,
    )

    con = duckdb.connect()
    cases = [
        (2**53 + 1, 3), (-(2**53) - 1, 3), (2**53 - 1, 3),
        (2**60 + 7, 93), (-(2**60) - 7, 93), (7, 3), (-7, 3),
        (6, 3), (-6, 3), (0, 5), (1, 2), (-1, 2),
        (2**62, 999), (-(2**62), 999), (2**53, 10), (-(2**53), 10),
    ]
    for s, n in cases:
        got = con.execute(
            f"SELECT CAST((s - ((s % n) + n) % n) // n AS BIGINT) "
            f"FROM (SELECT {s}::HUGEINT AS s, {n}::BIGINT AS n)"
        ).fetchone()[0]
        assert got == s // n, (s, n, got, s // n)
    # the double form the fix replaced really is wrong at 2^53+1
    s, n = 2**53 + 1, 3
    dbl = con.execute(
        f"SELECT CAST(floor(CAST({s}::HUGEINT AS DOUBLE) / {n}) "
        f"AS BIGINT)").fetchone()[0]
    assert dbl != s // n
    cte = _kmeans_cte()
    assert "// count(*)" in cte and "% count(*)" in cte
    assert "AS DOUBLE) / count(*)" not in cte


def test_asia_share_boundary_sweep_cross_engine(spark, tmp_path):
    """r18 aimed sweep (verdict item 2: the seed-35 floor-boundary
    class, pointed at the OTHER rounded ratios): ~500 year-groups
    CRAFTED so the asia/total share times 1e6 lands exactly ON or
    within a few integer steps of the +0.5 floor boundary (total =
    2e6*m, asia = (2k+1)*m makes the true share*1e6 exactly k+0.5;
    the +-2 asia perturbations probe the ulp neighborhood after the
    double division rounds). Since the r17 fix, both engines compute
    floor(double(asia)/double(total)*1e6+0.5) with identical scalar
    ops, so every group must agree — a hidden exact-decimal path on
    either side would diverge on ~half these groups. Drives the
    REGISTERED asia_market_share through its real oracle."""
    import duckdb
    import numpy as np

    from mapreduce_experiment_spark.plans.registry import SPECS
    from tests.oracle_util import assert_matches, run_oracle

    sf = str(tmp_path)
    con = duckdb.connect()
    rng = np.random.default_rng(18)
    # one group per YEAR (the query's group key); pandas ns-timestamp
    # collection bounds years to 1678..2261 -> 500 usable groups
    years = list(range(1700, 2200))
    rows_li, rows_o = [], []
    for gi, year in enumerate(years):
        m = int(rng.integers(10**5, 10**6))
        k = int(rng.integers(1, 999_999))
        total = 2_000_000 * m          # total cents for the year
        asia = (2 * k + 1) * m + int(gi % 5) - 2  # k+0.5 boundary +-2
        other = total - asia
        assert 0 < asia <= 2 * 10**12 and 0 < other <= 2 * 10**12
        # two orders per year: one ASIA customer, one non-ASIA
        ok_a, ok_b = 2 * gi, 2 * gi + 1
        rows_o.append((ok_a, 0, year))
        rows_o.append((ok_b, 1, year))
        rows_li.append((ok_a, asia / 100.0))
        rows_li.append((ok_b, other / 100.0))
    con.execute("""CREATE TABLE o(o_orderkey BIGINT, o_custkey BIGINT,
                                  yr INT)""")
    con.executemany("INSERT INTO o VALUES (?, ?, ?)", rows_o)
    con.execute(f"""
        COPY (SELECT o_orderkey, o_custkey, 'O' AS o_orderstatus,
                     0.0 AS o_totalprice,
                     make_timestamp(yr, 6, 1, 0, 0, 0.0) AS o_orderdate,
                     '1-URGENT' AS o_orderpriority FROM o)
        TO '{sf}/orders.parquet' (FORMAT parquet)""")
    con.execute("CREATE TABLE li(l_orderkey BIGINT, price DOUBLE)")
    con.executemany("INSERT INTO li VALUES (?, ?)", rows_li)
    con.execute(f"""
        COPY (SELECT l_orderkey, 1::BIGINT AS l_partkey,
                     1::BIGINT AS l_suppkey, 1::INT AS l_linenumber,
                     1.0 AS l_quantity, price AS l_extendedprice,
                     0.0 AS l_discount, 0.0 AS l_tax,
                     'N' AS l_returnflag, 'O' AS l_linestatus,
                     TIMESTAMP '1995-06-01 00:00:00' AS l_shipdate
              FROM li)
        TO '{sf}/lineitem.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT * FROM (VALUES (0, 'ASIA'), (1, 'AMERICA'))
              t(r_regionkey, r_name))
        TO '{sf}/region.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT * FROM (VALUES (0, 'AN', 0), (1, 'BN', 1))
              t(n_nationkey, n_name, n_regionkey))
        TO '{sf}/nation.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT * FROM (VALUES
                (0::BIGINT, 'ca', 0::INT, 0.0, 'BUILDING'),
                (1::BIGINT, 'cb', 1::INT, 0.0, 'BUILDING'))
              t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment))
        TO '{sf}/customer.parquet' (FORMAT parquet)""")
    spec = SPECS()["asia_market_share"]
    got = spec.fn(spark, sf)
    assert got.count() == len(years)
    assert_matches(got, run_oracle(spec.oracle, sf), "asia_market_share")


def test_bm25_oracle_tf_head_is_double_not_decimal():
    """r18 text-module fresh-eyes finding (the r17 qavg_sql decimal-
    literal class): DuckDB parses 2.2 as DECIMAL, so the bm25 oracle's
    bare `tf * 2.2` ran EXACT decimal arithmetic (tf=3 -> 6.6 ->
    double 6.6) while Spark computes double(tf) * double(2.2) =
    6.6000000000000005 — a 1-ulp head start that flips the w_micro
    floor when the product lands within ~1 ulp of the +0.5 boundary.
    Constructed counterexample (avgdl solved to place the value at a
    boundary): tf=3, df=5, dl=100, N=400, avgdl=0x1.4c0003779464dp+6
    -> old form 6,456,804 vs the Spark double path 6,456,805. The
    oracle now CASTs tf to DOUBLE before the multiply; pin the flip,
    the fixed form, and the live oracle source."""
    import math

    import duckdb

    from mapreduce_experiment_spark.plans.registry import SPECS

    con = duckdb.connect()
    avgdl = float.fromhex("0x1.4c0003779464dp+6")
    tf, df, dl, n = 3, 5, 100, 400
    base = (f"ln(1.0 + ({n}.0 - {df} + 0.5) / ({df} + 0.5))"
            f" * (({{head}}) / ({tf}::BIGINT + 1.2 * (0.25 + 0.75 *"
            f" ({dl}::BIGINT / {avgdl!r})))) * 1000000 + 0.5")
    old = con.execute(
        "SELECT CAST(floor(" + base.format(head=f"{tf}::BIGINT * 2.2")
        + ") AS BIGINT)").fetchone()[0]
    new = con.execute(
        "SELECT CAST(floor("
        + base.format(head=f"CAST({tf}::BIGINT AS DOUBLE) * 2.2")
        + ") AS BIGINT)").fetchone()[0]
    # the identical-scalar-ops IEEE mirror of the Spark plan
    want = math.floor(
        math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
        * 1_000_000 + 0.5)
    assert old != want, "old decimal form no longer diverges here"
    assert new == want
    # the registered oracle carries the fix (and not the bare form)
    sql = SPECS()["bm25_topk"].oracle
    assert "CAST(tf AS DOUBLE) * 2.2" in sql
    assert "(tf * 2.2)" not in sql


def test_cents_long_in_lockstep_with_cents(spark, tmp_path):
    """cents_long (the two-level form's chunk quantizer) must produce
    the same integer as cents() for every in-contract value — they
    are textually-parallel expressions in compare.py, and a rounding
    drift between them would split pricing_summary from every other
    money surface. Reuses the parity suite's trap values (dyadic
    halves, negative halves, near-halves)."""
    import pandas as pd

    from mapreduce_experiment_spark.functions import cents, cents_long

    vals = [0.0, 0.005, -0.005, 0.125, -0.125, 0.015, -0.015,
            1.005, -1.005, 2.675, -2.675, 0.555, -0.555,
            2.0e10, -2.0e10, 19999999999.995, -19999999999.995,
            1e-9, -1e-9, 0.004999999999, 123456789.115]
    pd.DataFrame({"i": range(len(vals)), "v": vals}).to_parquet(
        tmp_path / "vals.parquet")
    rows = (spark.read.parquet(str(tmp_path / "vals.parquet"))
            .select(cents(F.col("v")).alias("c"),
                    cents_long(F.col("v")).alias("cl"),
                    cents(F.col("v"), 10000).alias("c4"),
                    cents_long(F.col("v"), 10000).alias("cl4"))
            .collect())
    for r in rows:
        assert int(r.c) == r.cl and int(r.c4) == r.cl4


def test_cents_helper_cross_engine_parity(spark, tmp_path):
    """Direct per-row pin for the shared cents()/cents_sql() pair —
    the one quantization every money aggregate now rides (r16
    consolidation). The engines must produce the SAME integer for
    every in-contract value, including the half-cent traps: exact
    dyadic halves (0.125*100 = 12.5 — Spark round and DuckDB round
    are both HALF-AWAY-FROM-ZERO, unlike pandas' half-to-even),
    negative halves (-0.125 → -13, where a floor(x+0.5) form would
    give -12), and non-dyadic near-halves whose *100 double is a
    hair off .5 on both engines identically. A drift here (e.g. a
    future edit swapping round for floor) would corrupt every money
    query at once while each query's own oracle test still passed —
    because both sides go through the SAME helper pair."""
    import duckdb
    import numpy as np
    import pandas as pd

    from mapreduce_experiment_spark.functions import cents, cents_sql, qsum, qsum_sql

    edge = [0.0, 0.005, -0.005, 0.125, -0.125, 0.015, -0.015,
            1.005, -1.005, 2.675, -2.675, 0.555, -0.555,
            2.0e10, -2.0e10, 19999999999.995, -19999999999.995,
            1e-9, -1e-9, 0.004999999999, 123456789.115]
    rng = np.random.default_rng(16)
    rand = (rng.uniform(-1, 1, 200)
            * 10.0 ** rng.integers(-3, 11, 200)).tolist()
    vals = edge + rand
    pd.DataFrame({"i": range(len(vals)), "v": vals}).to_parquet(
        tmp_path / "vals.parquet")

    got = {r.i: int(r.c) for r in
           spark.read.parquet(str(tmp_path / "vals.parquet"))
           .select("i", cents(F.col("v")).alias("c")).collect()}
    con = duckdb.connect()
    want = {int(i): int(c) for i, c in con.execute(
        f"SELECT i, {cents_sql('v')} FROM "
        f"read_parquet('{tmp_path}/vals.parquet')").fetchall()}
    assert got == want
    # the known trap values, pinned explicitly (HALF-AWAY-FROM-ZERO)
    assert got[3] == 13 and got[4] == -13   # ±0.125 → ±12.5 cents
    assert got[1] == 1 and got[2] == -1     # ±0.005 (inexact .5-ish)

    # and the aggregate built on it: qsum == qsum_sql exactly
    s = (spark.read.parquet(str(tmp_path / "vals.parquet"))
         .agg(qsum(F.col("v")).alias("s")).collect()[0].s)
    o = con.execute(f"SELECT {qsum_sql('v')} FROM "
                    f"read_parquet('{tmp_path}/vals.parquet')").fetchone()[0]
    assert s == o


def test_window_money_sums_survive_int64_overflow(spark, tmp_path):
    """r16, the money-migration's window half: customer_running_spend's
    running sum and orders_above_customer_average's per-customer sum +
    cents×n product were long — one whale customer whose spend crosses
    2^63 cents ANSI-overflows the window sum mid-partition (and the
    product at even smaller n), while DuckDB's window sum silently
    promotes to HUGEINT and its BIGINT product HARD-ERRORS — three
    distinct behaviors for one query. Both plans now ride decimal
    cents and the above-average oracle multiplies in HUGEINT; prove
    both registered queries match their oracles on a 3.2M-order
    customer whose total is 9.6e18+100 cents, and demonstrate the old
    Spark window sum AND the old BIGINT oracle product dying."""
    import duckdb
    import pyspark.errors
    import pytest

    from pyspark.sql import Window

    from mapreduce_experiment_spark.plans.registry import SPECS
    from tests.oracle_util import assert_matches, run_oracle

    sf = str(tmp_path)
    con = duckdb.connect()
    # One customer, 3.2M orders at +3e10 dollars (3e12 cents, the
    # contract extreme) plus ONE at 3e10+1: the running sum crosses
    # int64 around row 3.08M, and exactly the +1 order prices above
    # the customer average (output stays 1 row while the comparison's
    # cents×n product is ~9.6e18, past int64).
    con.execute(f"""
        COPY (SELECT i AS o_orderkey, 0::BIGINT AS o_custkey,
                     'O' AS o_orderstatus,
                     CASE WHEN i = 3200000 THEN 3.0e10 + 1 ELSE 3.0e10 END
                       AS o_totalprice,
                     TIMESTAMP '1996-06-01 00:00:00' AS o_orderdate,
                     '1-URGENT' AS o_orderpriority
              FROM range(3200001) t(i))
        TO '{sf}/orders.parquet' (FORMAT parquet)""")

    specs = SPECS()
    spec = specs["orders_above_customer_average"]
    assert_matches(spec.fn(spark, sf), run_oracle(spec.oracle, sf),
                   "orders_above_customer_average")
    assert [r.o_orderkey for r in spec.fn(spark, sf).collect()] == [3200000]

    # customer_running_spend emits 3.2M rows; value-compare exactly
    # the rows PAST the int64 boundary (the ones the old form never
    # reached) and pin the full cardinality separately.
    spec = specs["customer_running_spend"]
    edge = 9.3e16  # dollars; int64 max cents is ~9.22e18
    assert_matches(spec.fn(spark, sf).where(F.col("running_spend") > edge),
                   run_oracle(f"SELECT * FROM ({spec.oracle}) "
                              f"WHERE running_spend > {edge}", sf),
                   "customer_running_spend")
    assert spec.fn(spark, sf).count() == 3200001

    # defect 1, demonstrated: the old long running sum ANSI-overflows
    # mid-partition
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    old = F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).over(w)
    with pytest.raises(pyspark.errors.PySparkException,
                       match="OVERFLOW|overflow"):
        spark.read.parquet(f"{sf}/orders.parquet") \
            .select(old.alias("rc")).agg(F.max("rc")).collect()
    # defect 2, demonstrated: the above-average oracle's old BIGINT
    # product hard-errors in DuckDB (it cannot promote a multiply),
    # which is why engine and oracle had to widen together
    with pytest.raises(duckdb.Error, match="[Oo]verflow"):
        run_oracle("""
            SELECT o.o_orderkey FROM orders o
            WHERE CAST(round(o.o_totalprice * 100) AS BIGINT)
                  * (SELECT count(*) FROM orders i
                     WHERE i.o_custkey = o.o_custkey)
                  > (SELECT sum(CAST(round(i.o_totalprice * 100) AS BIGINT))
                     FROM orders i WHERE i.o_custkey = o.o_custkey)
        """, sf)


def test_sessionizer_state_survives_int64_overflow(spark, tmp_path):
    """ADVICE r15: the stateful sessionizers' persisted state column
    stayed ``cents long`` after every batch-side cents sum moved to
    decimal — and the failure mode is QUIETER than the batch one: the
    Arrow state serializer neither errors nor wraps a past-int64
    value, it round-trips it as NULL, so the NEXT batch touching the
    user crashes on ``None`` cents (or would silently zero the
    session if code ever guarded it). The column is now
    decimal(38,0), written as decimal.Decimal and normalized back to
    int. Pin the round trip at hostile magnitude through BOTH
    variants — two single-file micro-batches, one session: b1 puts
    9.6e18 cents (past int64) into state, b2 amends the same session
    — and demonstrate the old long state column dying on b2."""
    import time

    import pandas as pd
    import pyspark.errors
    import pytest

    from pyspark.sql.streaming.state import GroupStateTimeout

    from mapreduce_experiment_spark.streaming.sessions import (
        _OUT_SCHEMA,
        _STATE_SCHEMA,
        _sessionize_group,
        sessionize_stream_evicting,
    )

    import duckdb

    d = tmp_path / "events_overflow"
    d.mkdir()
    con = duckdb.connect()
    # b1: 3.2M events in one 30-min span (gap-chain = one session) at
    # +3e10 dollars each -> 9.6e18 cents > int64 max in state after b1
    con.execute(f"""
        COPY (SELECT 1::BIGINT AS user_id, i AS event_id,
                     TIMESTAMP '2024-01-01 00:00:00'
                       + INTERVAL (i % 1800) SECOND AS ts,
                     3.0e10 AS value
              FROM range(3200000) t(i))
        TO '{d}/batch1.parquet' (FORMAT parquet)""")
    # b2: one event 10 min after b1's last (inside the 30-min gap) —
    # forces the state read-back and amends the session
    pd.DataFrame({
        "user_id": [1], "event_id": [3200000],
        "ts": [pd.Timestamp("2024-01-01 00:39:59")], "value": [1.25],
    }).to_parquet(d / "batch2.parquet", coerce_timestamps="us")
    now = time.time()
    os.utime(d / "batch1.parquet", (now, now))
    os.utime(d / "batch2.parquet", (now + 1, now + 1))

    schema = "user_id long, event_id long, ts timestamp, value double"
    exp_n, exp_total = 3_200_001, float(9_600_000_000_000_000_125) / 100.0

    def drive(build, name):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(str(d)))
        q = (build(stream)
             .writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(fed) != 2:
            raise AssertionError("expected two single-file batches")
        rows = spark.table(name).collect()
        # emit-on-batch-close with amendment: keep the latest row
        latest = max(rows, key=lambda r: r.n_events)
        return latest

    gap_us = 30 * 60 * 1_000_000

    def retained(stream):
        def fn(key, pdfs, state):
            return _sessionize_group(key, pdfs, state, gap_us)
        return stream.groupBy("user_id").applyInPandasWithState(
            fn, _OUT_SCHEMA, _STATE_SCHEMA, "append",
            GroupStateTimeout.NoTimeout)

    latest = drive(retained, "sess_ovf_retained")
    assert (latest.n_events, latest.total_value) == (exp_n, exp_total)

    latest = drive(lambda s: sessionize_stream_evicting(s),
                   "sess_ovf_evicting")
    assert (latest.n_events, latest.total_value) == (exp_n, exp_total)

    # the defect, demonstrated: with the old long state column, b1's
    # past-int64 cents round-trip as NULL and b2 dies reading them
    def old_long_state(stream):
        def fn(key, pdfs, state):
            return _sessionize_group(key, pdfs, state, gap_us)
        return stream.groupBy("user_id").applyInPandasWithState(
            fn, _OUT_SCHEMA, _STATE_SCHEMA.replace("decimal(38,0)", "long"),
            "append", GroupStateTimeout.NoTimeout)

    with pytest.raises(pyspark.errors.PySparkException):
        drive(old_long_state, "sess_ovf_long")


def test_state_cents_null_roundtrip_is_diagnosable():
    """ADVICE r16: the state serializer silently stores out-of-spec
    cents values as NULL (demonstrated above), and ``_state_cents``
    did a bare ``int(raw)`` — so a NULL round-trip (old-schema
    checkpoint, future write-side regression) killed the next batch
    with an opaque "int() argument must not be None" TypeError. Pin
    the guard: None must raise a ValueError that NAMES the
    NULL-round-trip failure mode, and legal Decimal/int inputs keep
    normalizing exactly."""
    import pytest
    from decimal import Decimal

    from mapreduce_experiment_spark.streaming.sessions import _state_cents

    with pytest.raises(ValueError, match="round-tripped as None"):
        _state_cents(None)
    assert _state_cents(Decimal(9_600_000_000_000_000_125)) \
        == 9_600_000_000_000_000_125
    assert _state_cents(42) == 42


def test_priority_word_survives_delimiter_free_input(spark, tmp_path):
    """r14 plans review: order_scalar_functions extracted priority_word
    with split('-').getItem(1), which under ANSI (the Spark 4 default)
    hard-fails INVALID_ARRAY_INDEX on any o_orderpriority without a
    '-' — and a non-ANSI NULL would still hash-diverge from the
    oracle's split_part '' (DuckDB returns empty string out of range).
    Now both sides use split_part; prove the registered query matches
    its oracle on delimiter-free input, and that the old form threw."""
    import pyspark.errors
    import pytest

    from mapreduce_experiment_spark.plans.registry import SPECS
    from tests.oracle_util import assert_matches, run_oracle

    import duckdb

    sf = str(tmp_path)
    con = duckdb.connect()
    con.execute(f"""
        COPY (SELECT i AS o_orderkey, 1::BIGINT AS o_custkey,
                     'O' AS o_orderstatus, 100.0 + i AS o_totalprice,
                     TIMESTAMP '2024-01-01 00:00:00' AS o_orderdate,
                     CASE WHEN i = 0 THEN 'NODASH'
                          ELSE '1-URGENT' END AS o_orderpriority
              FROM range(3) t(i))
        TO '{sf}/orders.parquet' (FORMAT parquet)""")

    spec = SPECS()["order_scalar_functions"]
    assert_matches(spec.fn(spark, sf), run_oracle(spec.oracle, sf),
                   "order_scalar_functions")

    # the defect, demonstrated: the old getItem(1) form throws under
    # ANSI on the delimiter-free row
    with pytest.raises(pyspark.errors.PySparkException,
                       match="INVALID_ARRAY_INDEX"):
        spark.read.parquet(f"{sf}/orders.parquet") \
            .select(F.split("o_orderpriority", "-").getItem(1)).collect()


def test_events_json_extract_survives_dirty_props(spark, tmp_path):
    """r14 adversarial sweep: events_json_extract was three-ways
    fragile at scale — (1) the bare ANSI cast killed the Spark job on
    any non-integer k ('7.9', 'true'); (2) DuckDB's strict
    json_extract_string killed the ORACLE on one malformed-JSON row
    where get_json_object returns NULL; (3) lenient-ified naively the
    engines still diverged (DuckDB CAST('7.9' AS BIGINT) rounds to 8,
    Spark try_cast gives NULL). Both sides now use the integer-gated
    lenient form; prove the registered query matches its oracle on a
    fixture covering every failure class, and that both OLD forms
    died."""
    import pyspark.errors
    import pytest

    from mapreduce_experiment_spark.plans.registry import SPECS
    from tests.oracle_util import assert_matches, run_oracle

    import duckdb

    sf = str(tmp_path)
    props = ['{"k": 7}', '{"k": "7"}', '{"k": 7.9}', '{"k": true}',
             'not json', '{"k": 7', None, '{}', '{"k": null}',
             '{"k": 99999999999999999999}', '{"k": "7\n"}',
             '{"k": -12}', '{"k": [1,2]}']
    con = duckdb.connect()
    con.execute("CREATE TABLE p (event_id BIGINT, props VARCHAR)")
    for i, pr in enumerate(props):
        con.execute("INSERT INTO p VALUES (?, ?)", [i, pr])
    con.execute(f"""
        COPY (SELECT event_id, TIMESTAMP '2024-01-01 00:00:00' AS ts,
                     1::BIGINT AS user_id, 'click' AS event_type,
                     1.0 AS value, props
              FROM p)
        TO '{sf}/events.parquet' (FORMAT parquet)""")

    spec = SPECS()["events_json_extract"]
    assert_matches(spec.fn(spark, sf), run_oracle(spec.oracle, sf),
                   "events_json_extract")

    # defect (1): the old bare ANSI cast threw on the '7.9' row
    with pytest.raises(pyspark.errors.PySparkException,
                       match="CAST_INVALID_INPUT"):
        spark.read.parquet(f"{sf}/events.parquet") \
            .select(F.get_json_object("props", "$.k").cast("long")) \
            .collect()

    # defect (2): the old strict oracle died on the malformed row
    with pytest.raises(duckdb.Error):
        run_oracle(
            "SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) "
            "FROM events", sf)


def test_token_and_quality_survive_dirty_text(spark, tmp_path):
    """r14 adversarial rehearsal over a hostile documents corpus:
    (1) token_counts' BPE-ish class used `\\s`, which Java reads as
    [ \\t\\n\\x0B\\f\\r] but DuckDB's RE2 as [ \\t\\n\\f\\r] — a
    vertical tab (U+000B) in the text made the oracle count one
    extra segment; the class now spells the whitespace out (Java's
    set, so Spark values are unchanged). (2) quality_scores' oracle
    did not mirror the Spark side's NULL→'' coalesce and 0-length
    alpha_ratio floor, emitting NULL features for a NULL-text doc
    and NULL (DuckDB x/0) instead of 0.0 for an empty one. Both
    dormant on shipped data (no NULL text, no U+000B); prove the
    registered queries match their oracles on a fixture covering
    every class, and that the old `\\s` oracle form still diverges
    (upgrade canary: if RE2 ever adds \\x0b to `\\s`, this fails
    loudly and the explicit class can be simplified back)."""
    import duckdb

    from mapreduce_experiment_spark.plans.registry import SPECS
    from tests.oracle_util import assert_matches, run_oracle

    sf = str(tmp_path)
    texts = [None, "", "   \t\n  ", "a\x0bb", ".,!?#",
             "plain words here", "tab\tand\x0bvtab mix",
             "naïve café ０１ Σ 中文"]
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    for i, tx in enumerate(texts):
        con.execute("INSERT INTO d VALUES (?, ?)", [i, tx])
    con.execute(f"""
        COPY (SELECT doc_id, text, 'en' AS lang, 'x' AS source,
                     CAST(length(text) AS BIGINT) AS n_chars
              FROM d)
        TO '{sf}/documents.parquet' (FORMAT parquet)""")

    specs = SPECS()
    # quality_filtered_corpus and media_byte_histograms carried the
    # SAME raw-text oracle hole one round longer (out-of-window when
    # quality_scores was fixed): NULL text emitted NULL features /
    # NULL b0..b15 where the engine folds to '' / an all-zero
    # histogram. Same fixture pins all four.
    for name in ("token_counts", "quality_scores",
                 "quality_filtered_corpus", "media_byte_histograms"):
        assert_matches(specs[name].fn(spark, sf),
                       run_oracle(specs[name].oracle, sf), name)

    # the old `\s` oracle counts one extra segment on the U+000B row
    old = run_oracle(
        r"SELECT len(regexp_extract_all(lower(text),"
        r" '[a-z0-9]+|[^a-z0-9\s]')) AS n FROM documents"
        " WHERE doc_id = 3", sf)
    new = run_oracle(
        "SELECT len(regexp_extract_all(lower(text),"
        f" '{TX.BPE_ISH}')) AS n FROM documents WHERE doc_id = 3", sf)
    assert old["n"][0] == 3 and new["n"][0] == 2


def test_dedup_survivors_one_per_cluster(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    near = base.replace("lazy", "sleepy", 1)
    docs = spark.createDataFrame(
        [(1, base, "s", "en"), (2, near, "s", "en"),
         (3, "totally different text about query planners " * 8, "s", "en")],
        "doc_id long, text string, source string, lang string")
    survivors = D.dedup_survivors(docs, threshold=0.5)
    ids = {r.doc_id for r in survivors.select("doc_id").collect()}
    assert ids == {1, 3}                     # 2 deduped into 1's cluster


# --- global ordering ---------------------------------------------------------
def test_corpus_shuffle_is_permutation_and_bucket_invariant(spark,
                                                            monkeypatch):
    """corpus_shuffle must assign a permutation of 1..N, be
    deterministic across invocations, change with the seed, and —
    the core algebra check — produce IDENTICAL positions for any
    bucket count (the bucketing is a parallelization detail, not a
    semantic one; a bucket-boundary bug would show up as a
    disagreement between coarse and fine bucketings)."""
    from mapreduce_experiment_spark.operators import ordering as O
    from mapreduce_experiment_spark.operators.ordering import corpus_shuffle
    from mapreduce_experiment_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    monkeypatch.setattr(O, "N_SHUFFLE_BUCKETS", 1024)
    a = {r.doc_id: r.shuffle_pos for r in corpus_shuffle(docs).collect()}
    assert sorted(a.values()) == list(range(1, len(a) + 1))  # permutation
    monkeypatch.setattr(O, "N_SHUFFLE_BUCKETS", 7)
    b = {r.doc_id: r.shuffle_pos for r in corpus_shuffle(docs).collect()}
    assert a == b  # bucket-count invariance
    monkeypatch.setattr(O, "N_SHUFFLE_BUCKETS", 1024)
    again = {r.doc_id: r.shuffle_pos
             for r in corpus_shuffle(docs).collect()}
    assert a == again  # deterministic
    other = {r.doc_id: r.shuffle_pos
             for r in corpus_shuffle(docs, seed="other-seed").collect()}
    assert other != a  # seed actually changes the order
    assert sorted(other.values()) == sorted(a.values())


# --- URL/metadata dedup ------------------------------------------------------
def test_canonical_url_cross_engine(spark):
    """The driver corpus's ``source`` values are opaque ids, so the
    registered query never exercises the URL regex branches — this
    does, on realistic messy URLs, and proves the Spark (Java-regex)
    and DuckDB (RE2) canonicalization chains agree value-for-value
    (they are generated from the same URL_CANON_STEPS constant)."""
    import duckdb

    from mapreduce_experiment_spark.plans.queries_dedup import _canon_url_sql

    urls = [
        "https://WWW.Example.com/path/page/?utm_source=x&id=7#frag",
        "http://example.com/path/page",
        "example.com/path/page///",
        "HTTPS://EXAMPLE.COM",
        "https://www.example.com",
        "example.com",
        "https://sub.www.example.com/x",   # www. strips at host START only
        "ftp://fileserver/pub",            # non-http scheme untouched
        "src7",                            # the synthetic corpus shape
        "https://a.io/q?x=1&y=2",
        "https://a.io/q#only-fragment",
        "https://a.io/API/Users",          # path case is PRESERVED
        "example.com/\n",                  # trailing newline (the Java
        "a.io/x#b\nc.io/y#d",              # $-vs-\z and .*-vs-newline
        " \thttps://pad.io/x ",            # divergence traps)
    ]
    got = [r.c for r in spark.createDataFrame(
        [(u,) for u in urls], "url string"
    ).select(D.canonical_url(F.col("url")).alias("c")).collect()]
    con = duckdb.connect()
    # bind through a subquery: the mirror references its input
    # expression more than once (host extract + host removal)
    sql = f"SELECT {_canon_url_sql('url')} FROM (SELECT ? AS url) t"
    want = [con.execute(sql, [u]).fetchone()[0] for u in urls]
    assert got == want
    # and the chain actually canonicalizes: the first three variants
    # (and the next three host-only variants) collapse to one key each
    assert len(set(got[:3])) == 1 and got[0] == "example.com/path/page"
    assert len(set(got[3:6])) == 1 and got[3] == "example.com"
    assert got[6] == "sub.www.example.com/x"
    assert got[7] == "ftp://fileserver/pub"
    assert got[8] == "src7"
    # RFC 3986: only scheme/host are case-insensitive — the path keeps
    # its case (distinct resources must not merge)
    assert got[11] == "a.io/API/Users"
    assert got[12] == "example.com"
    assert got[13] == "a.io/x"  # fragment strip consumes to END of string
    assert got[14] == "pad.io/x"


def test_canonical_url_cross_engine_property(spark):
    """Property form of the identity claim: for ARBITRARY ASCII inputs
    (URL punctuation, slashes, #/?, embedded and trailing whitespace/
    newlines, mixed case — not just well-formed URLs) the Spark and
    DuckDB canonicalization chains must agree byte-for-byte. Scope is
    deliberately ASCII: non-ASCII case mapping (Turkish I, sigma, ß)
    differs between Java and DuckDB lower(); IDN hosts are expected
    punycoded upstream, as real crawl pipelines store them."""
    import random

    import duckdb

    from mapreduce_experiment_spark.plans.queries_dedup import _canon_url_sql

    rng = random.Random(42)
    # \x0B (vertical tab) is in the alphabet deliberately: Java's \s
    # matches it, RE2's does not, which is exactly why URL_CANON_STEPS
    # uses the explicit shared class — with bare \s this alphabet
    # makes the test FAIL (r6 ADVICE closed).
    alphabet = ("abcXYZ09" "/?#&=._-:" " \t\n\x0B\f\r") + "www." + "https://"
    cases = ["".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 40)))
             for _ in range(300)]
    cases += ["", "#", "?", "/", "//", "www.", "WWW.x", "https://",
              "HtTpS://WwW.A.b/C?d#e", "\n\n", "x#\ny?z", "a/b/c///\n \t",
              "a.io/x\x0B", "\x0Bb.io/y", "c.io/z\x0B\x0B\n",
              # URLs ending in '/' + a Unicode line terminator: Java's
              # $ (unlike RE2's) also matches BEFORE a final
              # U+0085/U+2028/U+2029, so the trailing strip diverged
              # until URL_CANON_STEPS switched to \z (r13 dedup
              # review, landed r14) — with $ these three FAIL
              "a.io/x/\u2028", "b.io/y/\u0085", "c.io/z/\u2029"]
    got = [r.c for r in spark.createDataFrame(
        [(u,) for u in cases], "url string"
    ).select(D.canonical_url(F.col("url")).alias("c")).collect()]
    con = duckdb.connect()
    sql = f"SELECT {_canon_url_sql('url')} FROM (SELECT ? AS url) t"
    for u, g in zip(cases, got):
        w = con.execute(sql, [u]).fetchone()[0]
        assert g == w, f"engines diverge on {u!r}: spark={g!r} duckdb={w!r}"


def test_tokenize_chain_cross_engine_property(spark):
    """Property form of the tokenize→shingle→hash60 identity claim —
    the primitive chain EVERY dedup/text oracle builds on (r14
    adversarial sweep; the $-vs-\\z URL find showed randomized input
    is where engine divergences hide). For arbitrary text over an
    adversarial alphabet (regex metacharacters, every whitespace trap
    incl. U+0085/U+2028/U+2029/NBSP/vertical tab, CJK, an astral
    emoji, combining marks, fullwidth digits, ß/Σ/ς, dotless ı) the
    engines must agree EXACTLY on tokens and as a SET on shingle
    hashes. Two scope caveats, each demonstrated below so the
    exclusion is honest rather than silent:

    - U+0130 ('İ') is excluded from the property alphabet: Java's
      lower() emits 'i' + combining dot (SpecialCasing) which then
      SPLITS the token, DuckDB's simple-folds to a bare 'i' which
      MERGES it — the documented known-divergence family (see
      tokenize docstring / the URL property's ASCII scoping).
    - Shingle-hash ORDER may differ (DuckDB list_distinct is not
      first-occurrence-ordered); every consumer is order-invariant,
      and no registered query returns the array itself.
    """
    import random

    import duckdb

    from mapreduce_experiment_spark.functions.textfns import (
        shingle_hashes, shingle_hashes_sql, tokenize, tokenize_sql)

    rng = random.Random(7)
    alphabet = ("abz09AZ" ".,!?#$^&*()[]{}|\\-_=+~`'\"" " \t\n\r\x0b\x0c"
                "\xa0\x85  " "中文\U0001F600"
                "\xe9́ı\xdfΣς" "０１")
    cases = ["".join(rng.choice(alphabet)
                     for _ in range(rng.randrange(0, 50)))
             for _ in range(300)]
    cases += ["", " ", "a", "A B  c", "\xdfẞ", "ΣΣ σς",
              "\xe1b", "\U0001F600a\U0001F600", "a b a b a"]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)],
                               "i long, text string")
    got = {r.i: (list(r.t), list(r.h)) for r in df.select(
        "i", tokenize(F.col("text")).alias("t"),
        shingle_hashes(F.col("text"), 2).alias("h")).collect()}
    con = duckdb.connect()
    sqlt = (f"SELECT {tokenize_sql('text')}, {shingle_hashes_sql('text', 2)} "
            "FROM (SELECT ? AS text) t")
    for i, c in enumerate(cases):
        wt, wh = con.execute(sqlt, [c]).fetchone()
        gt, gh = got[i]
        assert gt == list(wt), (
            f"tokens diverge on {c!r}: spark={gt} duckdb={list(wt)}")
        assert set(gh) == set(wh), (
            f"shingle-hash SETS diverge on {c!r}")

    # caveat 1, demonstrated: U+0130 genuinely diverges (this is WHY
    # it is excluded above — if an engine upgrade ever aligns the
    # case mappings, this documents the scope can widen)
    div = "aİİ0b"
    g = [r.t for r in spark.createDataFrame([(div,)], "text string")
         .select(tokenize(F.col("text")).alias("t")).collect()][0]
    w = con.execute(f"SELECT {tokenize_sql('text')} "
                    "FROM (SELECT ? AS text) t", [div]).fetchone()[0]
    assert list(g) != list(w), (
        "U+0130 no longer diverges — widen the property alphabet")

    # caveat 2, demonstrated: same shingle SET, different ORDER on a
    # repeated-bigram input (the contract that keeps consumers
    # order-invariant)
    rep = "a b a b a"
    gh = [list(r.h) for r in spark.createDataFrame([(rep,)], "text string")
          .select(shingle_hashes(F.col("text"), 2).alias("h")).collect()][0]
    wh = con.execute(f"SELECT {shingle_hashes_sql('text', 2)} "
                     "FROM (SELECT ? AS text) t", [rep]).fetchone()[0]
    assert set(gh) == set(list(wh)) and len(gh) == len(wh) == 2


def test_vector_fold_cross_engine_bit_identical(spark):
    """Upgrade canary (r14 adversarial sweep): Spark's sequential
    aggregate() fold and DuckDB's list_sum currently produce
    BIT-IDENTICAL raw doubles for the dot/cosine mirror (500 random
    mixed-magnitude vectors, zero divergence even unquantized), so
    the oracles do not depend on q6 absorbing summation-order drift.
    If either engine ever switches to pairwise/Kahan summation this
    fails first — at that point the mirrors still agree post-q6
    except at quantization boundaries, and the fold order should be
    re-pinned explicitly."""
    import random

    import duckdb

    from mapreduce_experiment_spark.functions.vectors import (
        as_double, cosine, cosine_sql)

    rng = random.Random(11)
    cases = []
    for i in range(60):
        d = rng.choice([4, 16, 64])
        a = [rng.uniform(-1, 1) * 10 ** rng.randrange(-3, 4)
             for _ in range(d)]
        b = [rng.uniform(-1, 1) * 10 ** rng.randrange(-3, 4)
             for _ in range(d)]
        cases.append((i, a, b))
    df = spark.createDataFrame(
        cases, "i long, a array<double>, b array<double>")
    got = {r.i: r.c for r in df.select(
        "i", cosine(as_double(F.col("a")), as_double(F.col("b")))
        .alias("c")).collect()}
    con = duckdb.connect()
    sql = (f"SELECT {cosine_sql('a', 'b')} "
           "FROM (SELECT ?::DOUBLE[] AS a, ?::DOUBLE[] AS b) t")
    for i, a, b in cases:
        w = con.execute(sql, [a, b]).fetchone()[0]
        assert got[i] == w, (
            f"raw fold diverged (case {i}): spark={got[i]!r} "
            f"duckdb={w!r} — an engine changed its summation order; "
            "re-pin the fold contract")


# --- span-level cross-document dedup ----------------------------------------
_BOILER = ("this content is licensed under a creative "
           "commons attribution share alike license")  # 12 tokens


def test_repeated_spans_finds_planted_boilerplate(spark):
    docs = _docs(spark, [
        (1, "unique alpha words " + _BOILER + " tail one two three"),
        (2, "other beta stuff over here " + _BOILER),
        (3, "totally unrelated document with no repeats at all whatsoever"),
        (4, _BOILER),
        (5, "way too short"),
    ])
    rows = D.repeated_spans(docs).collect()
    got = {(r.doc_id, r.span_start, r.span_len) for r in rows}
    # 12-token boilerplate → windows at 5 starts, merged to one
    # 12-token region per doc, at each doc's plant offset.
    assert got == {(1, 4, 12), (2, 6, 12), (4, 1, 12)}
    # copies of the same passage share the lead fingerprint
    assert len({r.lead_fp for r in rows}) == 1
    assert all(r.n_windows == 5 for r in rows)


def test_repeated_spans_merges_overlapping_coverage(spark):
    # Two repeated 8-windows whose coverage overlaps but whose starts
    # are NOT consecutive (the shared text diverges in the middle of
    # doc 2) must still merge into one region in doc 1.
    a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    docs = _docs(spark, [
        (1, a),                                  # both windows present
        (2, "w1 w2 w3 w4 w5 w6 w7 w8 pad pad"),  # start-1 window only
        (3, "pad w5 w6 w7 w8 w9 w10 w11 w12"),   # start-5 window only
    ])
    rows = D.repeated_spans(docs).where(F.col("doc_id") == 1).collect()
    assert {(r.span_start, r.span_len) for r in rows} == {(1, 12)}


def test_span_deduped_corpus_keep_first_semantics(spark):
    docs = _docs(spark, [
        (1, "unique alpha words " + _BOILER),
        (2, "other beta stuff " + _BOILER + " and a unique ending"),
        (4, _BOILER),
    ])
    got = {r.doc_id: r for r in D.span_deduped_corpus(docs).collect()}
    assert set(got) == {1, 2, 4}
    # doc 1 (minimum id) keeps its copy verbatim
    assert got[1].n_spans_removed == 0
    assert got[1].clean_text == "unique alpha words " + _BOILER
    # doc 2 loses exactly the boilerplate tokens
    assert got[2].n_spans_removed == 1
    assert got[2].clean_text == "other beta stuff and a unique ending"
    # doc 4 was nothing but the boilerplate
    assert got[4].n_spans_removed == 1
    assert got[4].clean_text == ""


def test_span_dedup_overlapping_ownership(spark):
    """Review-found bug, pinned: when overlapping repeated windows
    have DIFFERENT keeper docs, naive window-level removal can gut
    the shared passage in every doc (each keeper loses the part the
    other keeper owns). The ownership-protection term guarantees a
    doc never loses tokens covered by a window it keeps."""
    a = " ".join(f"a{i}" for i in range(1, 9))        # a1..a8
    docs = _docs(spark, [
        (0, a.split(" ", 1)[1] + " b1"),              # a2..a8 b1 (owns it)
        (1, a + " b1"),                               # owns a1..a8
        (2, "pad " + a + " tail"),
    ])
    got = {r.doc_id: r for r in D.span_deduped_corpus(docs).collect()}
    # doc 0 keeps its window (it is the keeper) — untouched
    assert got[0].n_spans_removed == 0
    assert got[0].clean_text == "a2 a3 a4 a5 a6 a7 a8 b1"
    # doc 1 keeps a1..a8 (it is that window's keeper); only the b1
    # token — covered solely by doc 0's window — is removed
    assert got[1].n_spans_removed == 1
    assert got[1].clean_text == a
    # doc 2 keeps nothing; its copy of a1..a8 is removed
    assert got[2].n_spans_removed == 1
    assert got[2].clean_text == "pad tail"


def _py_span_dedup(texts: dict[int, str], n: int):
    """Independent pure-Python mirror of the span-dedup algebra at
    window length ``n`` — windows keyed by their literal token TUPLE
    (no hashing), coverage recomputed position-by-position. The Spark
    operator matching this for every doc proves the distributed
    fingerprint/group/coverage/island plan implements the intended
    token-level semantics, not just that two Spark formulations
    agree."""
    import re

    toks = {d: re.sub(r"[^a-z0-9]+", " ", t.lower()).strip().split()
            for d, t in texts.items()}
    groups: dict[tuple, set[int]] = {}
    for d, ts in toks.items():
        for i in range(len(ts) - n + 1):
            groups.setdefault(tuple(ts[i:i + n]), set()).add(d)
    out: dict[int, tuple[int, str]] = {}
    for d, ts in toks.items():
        cover = [None] * len(ts)  # None=uncovered, True=all-removable
        for i in range(len(ts) - n + 1):
            members = groups[tuple(ts[i:i + n])]
            if len(members) < 2:
                continue
            removable = d != min(members)
            for j in range(i, i + n):
                cover[j] = removable if cover[j] is None \
                    else (cover[j] and removable)
        removed = [bool(c) for c in cover]
        n_runs = sum(1 for j, r in enumerate(removed)
                     if r and (j == 0 or not removed[j - 1]))
        clean = " ".join(t for t, r in zip(ts, removed) if not r)
        out[d] = (n_runs, clean)
    return out, groups


def test_span_dedup_at_production_window_length(spark, monkeypatch):
    """SPAN_N=8 is a scale-down for the ~54-token synthetic corpus;
    this proves the token-window algebra at the Lee-et-al operating
    grain (n=50) on long synthetic docs with planted boilerplate:
    60-token license block shared by several ~300-token docs (varied
    offsets), two overlapping repeats with DIFFERENT keeper docs
    (the ownership-protection case, scaled), a pure-boilerplate doc,
    and a doc shorter than the window. Every result row must equal
    the independent pure-Python recomputation, and every repeated
    span must survive verbatim in exactly its keeper doc."""
    import random

    rng = random.Random(20260814)

    def words(k, tag):
        return [f"{tag}{rng.randrange(10**6)}x{i}" for i in range(k)]

    n = 50
    boiler = " ".join(f"lic{i}" for i in range(60))      # 60-token block
    shift = " ".join(f"lic{i}" for i in range(10, 60)) + " " \
        + " ".join(f"post{i}" for i in range(10))        # overlaps boiler
    texts = {}
    # docs 1..4 embed the license block at varied offsets
    for d, off in ((1, 40), (2, 0), (3, 137), (4, 220)):
        pre, post = words(off, f"u{d}p"), words(300 - off, f"u{d}s")
        texts[d] = " ".join(pre) + " " + boiler + " " + " ".join(post)
    # doc 0 owns a shifted window family overlapping the block
    texts[0] = shift + " " + " ".join(words(120, "u0"))
    texts[5] = boiler                                    # nothing but it
    texts[6] = " ".join(words(30, "short"))              # < window length
    texts[7] = " ".join(words(280, "clean"))             # no repeats

    docs = _docs(spark, sorted(texts.items()))
    monkeypatch.setattr(D, "SPAN_N", n)
    got = {r.doc_id: (r.n_spans_removed, r.clean_text)
           for r in D.span_deduped_corpus(docs).collect()}
    want, groups = _py_span_dedup(texts, n)
    assert got == want
    # Ownership guarantee at n=50, per WINDOW (the operator's actual
    # contract — with overlapping repeats owned by different keepers,
    # no single doc is promised the whole planted block): every
    # repeated 50-token window survives contiguously in its keeper
    # doc (the minimum id holding it). The protection term keeps the
    # keeper's copy intact even where a different-keeper window
    # overlaps it.
    repeated = {k: m for k, m in groups.items() if len(m) >= 2}
    # the plant actually exercises the path: 11 in-block windows (the
    # 60-token block at n=50) incl. one shared with doc 0's family
    assert len(repeated) == 11
    for key, members in repeated.items():
        assert " ".join(key) in got[min(members)][1], key[:3]
    # Non-keeper copies are gone: the block survives nowhere but its
    # keepers' protected regions.
    assert all(boiler not in got[d][1] for d in (2, 3, 4, 5))
    assert got[7] == (0, texts[7])  # clean doc untouched


def test_span_dedup_randomized_corpora_match_python_mirror(spark):
    """30 random corpora vs the pure-Python mirror, in ONE Spark job:
    each corpus's docs are concatenations of a small set of random
    phrases, so 8-token windows genuinely repeat across docs with
    overlaps, nesting, and varied keepers — the adversarial inputs
    for the island-merge/ownership algebra that hand-written cases
    can't enumerate. Token namespaces are disjoint per corpus (c{i}
    prefix), so fingerprints never collide across corpora and the
    union run is semantically identical to 30 separate runs."""
    import random

    rng = random.Random(606)
    texts: dict[int, str] = {}
    base = 0
    for c in range(30):
        phrases = [" ".join(f"c{c}w{rng.randrange(14)}"
                            for _ in range(rng.randrange(4, 11)))
                   for _ in range(4)]
        for d in range(rng.randrange(2, 6)):
            parts = [rng.choice(phrases)
                     for _ in range(rng.randrange(1, 5))]
            texts[base + d] = " ".join(parts)
        base += 5  # fixed stride keeps ids disjoint and deterministic
    docs = _docs(spark, sorted(texts.items()))
    got = {r.doc_id: (r.n_spans_removed, r.clean_text)
           for r in D.span_deduped_corpus(docs).collect()}
    want, groups = _py_span_dedup(texts, 8)
    assert got == want
    # sanity: the generator actually produced cross-doc repeats
    assert sum(1 for m in groups.values() if len(m) >= 2) > 50
    # Detection half against an interval-merge mirror on the same
    # corpora: maximal merged flagged regions per doc.
    import re as _re
    det = {(r.doc_id, r.span_start, r.span_len, r.n_windows)
           for r in D.repeated_spans(docs).collect()}
    want_det = set()
    for d, t in texts.items():
        ts = _re.sub(r"[^a-z0-9]+", " ", t.lower()).strip().split()
        starts = [i + 1 for i in range(len(ts) - 7)
                  if len(groups[tuple(ts[i:i + 8])]) >= 2]
        run: list[int] = []
        for i in starts + [None]:
            if run and (i is None or i > run[-1] + 8):
                want_det.add((d, run[0], run[-1] + 8 - run[0], len(run)))
                run = []
            if i is not None:
                run.append(i)
    assert det == want_det


def test_span_dedup_hot_fingerprint_many_holders(spark):
    """Skew shape: ONE boilerplate shared by 100 docs (a single fp
    group with 100 members — the hot key AQE would skew-split at
    scale). Correctness must be unaffected: the minimum id keeps its
    copy, the other 99 lose exactly the boilerplate tokens."""
    docs = _docs(spark, [
        (i, f"u{i}a u{i}b " + _BOILER + f" u{i}c") for i in range(100)
    ])
    got = {r.doc_id: r for r in D.span_deduped_corpus(docs).collect()}
    assert len(got) == 100
    assert got[0].n_spans_removed == 0
    assert got[0].clean_text == "u0a u0b " + _BOILER + " u0c"
    for i in range(1, 100):
        assert got[i].n_spans_removed == 1, i
        assert got[i].clean_text == f"u{i}a u{i}b u{i}c", i


def test_knn_ivf_pruned_rejects_unbounded_probe_sets(spark):
    """The static-pruning guard, pinned: a query batch whose
    N_PROBE x n_queries exceeds the IN-list bound must fail loudly
    BEFORE collecting probe ids (batch-split or use knn_ivf
    instead), not build a million-element predicate."""
    import pytest as _pytest

    from mapreduce_experiment_spark.operators import similarity as S
    from mapreduce_experiment_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    with _pytest.raises(ValueError, match="static-pruning bound"):
        S.knn_ivf_pruned(spark, emb, "/nonexistent-index-path",
                         n_queries=10_001)


def test_span_dedup_short_and_clean_docs_pass_through(spark):
    docs = _docs(spark, [
        (7, "short"),
        (8, "a perfectly original sentence with eight distinct tokens"),
    ])
    got = {r.doc_id: r for r in D.span_deduped_corpus(docs).collect()}
    assert got[7].n_spans_removed == 0 and got[7].clean_text == "short"
    assert got[8].n_spans_removed == 0
    assert got[8].clean_text == \
        "a perfectly original sentence with eight distinct tokens"


def test_ivf_pruned_index_scan_and_value_parity(spark, sf_smoke, tmp_path,
                                                monkeypatch):
    """The persisted-IVF demo the knn_ivf docstring promises: the
    corpus written partitionBy(centroid_id), the probe served by a
    partition-PRUNED scan (PartitionFilters on centroid_id, probed
    subset only), and the output value-identical to the in-memory
    knn_ivf equi-join."""
    from mapreduce_experiment_spark.operators import similarity as S
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    path = str(tmp_path / "ivf_index")
    S.write_ivf_index(emb, path)

    monkeypatch.setattr(S, "N_PROBE", 1)
    got_df = S.knn_ivf_pruned(spark, emb, path)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    # The index scan must carry a partition filter on centroid_id
    # (static INSET pruning, not a post-scan filter).
    assert any("FileScan parquet" in line
               and "PartitionFilters: [centroid_id" in line
               and (" IN (" in line or "INSET" in line)
               for line in plan.splitlines())
    # ... and the pruned-to set must be a strict subset of the
    # centroids (inputFiles() can't see pruning — it lists the file
    # index; the filter list in the plan is what the scan applies).
    import re
    m = re.search(r"PartitionFilters: \[centroid_id#\d+L? IN \(([\d,]+)\)",
                  plan)
    assert m, "no static IN partition filter on the index scan"
    assert 0 < len(m.group(1).split(",")) < S.N_CENTROIDS

    got = {(r.query_id, r.neighbor_id, r.cos, r.rank)
           for r in got_df.collect()}
    want = {(r.query_id, r.neighbor_id, r.cos, r.rank)
            for r in S.knn_ivf(emb).collect()}
    assert got == want and len(got) > 0


def test_span_dedup_matches_python_reference_property(spark, monkeypatch):
    """Property: on random small-alphabet docs (maximal window
    collisions), the distributed span pipeline equals an independent
    pure-Python reference for BOTH halves — detection regions and
    keep-first removal with ownership protection. The reference
    recomputes everything from first principles (no shared helpers),
    so island merging, keeper selection, protection, and the
    filter-by-index reconstruction are all cross-checked."""
    from hypothesis import given, settings, strategies as st

    N = 3
    monkeypatch.setattr(D, "SPAN_N", N)

    def ref(rows):
        toks = {d: t.split() if t else [] for d, t in rows}
        wins = {d: [(i, " ".join(t[i:i + N])) for i in range(len(t) - N + 1)]
                for d, t in toks.items()}
        docs_of = {}
        for d, ws in wins.items():
            for _, s in ws:
                docs_of.setdefault(s, set()).add(d)
        rep = {s for s, ds in docs_of.items() if len(ds) >= 2}
        keeper = {s: min(docs_of[s]) for s in rep}
        # detection: union of coverage of repeated windows, per doc
        regions = set()
        removed_runs = {}
        clean = {}
        for d, t in toks.items():
            cov = set()
            for i, s in wins[d]:
                if s in rep:
                    cov.update(range(i, i + N))
            for a, b in _runs(cov):
                regions.add((d, a + 1, b - a + 1))  # 1-based start
            rm = set()
            keep = set()
            for i, s in wins[d]:
                if s in rep:
                    (keep if keeper[s] == d else rm).update(range(i, i + N))
            gone = rm - keep
            removed_runs[d] = len(_runs(gone))
            clean[d] = " ".join(tok for j, tok in enumerate(t) if j not in gone)
        return regions, removed_runs, clean

    def _runs(js):
        runs, cur = [], None
        for j in sorted(js):
            if cur and j == cur[1] + 1:
                cur[1] = j
            else:
                cur = [j, j]
                runs.append(cur)
        return [(a, b) for a, b in runs]

    words = ["aa", "bb", "cc"]
    doc = st.lists(st.sampled_from(words), min_size=0, max_size=9)

    @settings(max_examples=12, deadline=None)
    @given(st.lists(doc, min_size=2, max_size=5))
    def prop(docs_words):
        rows = [(i, " ".join(ws)) for i, ws in enumerate(docs_words)]
        docs = _docs(spark, rows)
        want_regions, want_nrm, want_clean = ref(rows)
        got_regions = {(r.doc_id, r.span_start, r.span_len)
                       for r in D.repeated_spans(docs).collect()}
        assert got_regions == want_regions
        got = {r.doc_id: r for r in D.span_deduped_corpus(docs).collect()}
        assert set(got) == set(want_clean)
        for d in want_clean:
            assert got[d].n_spans_removed == want_nrm[d], f"doc {d}"
            assert got[d].clean_text == want_clean[d], f"doc {d}"

    prop()


def test_stateful_sessions_state_eviction(spark, tmp_path):
    """The deployment-mode sessionizer's bounded-state claim, proven
    on the state store's own books: with session_id keyed by start
    timestamp (no per-user counter), a user's state is DROPPED once
    the watermark passes (last event + gap). Five single-file
    batches, gap 30 min, delay 1 h:

    - b1: user 1 @ T0                 -> session A (id = T0) emitted, n=1
    - b2: user 1 @ T0+10m             -> session A AMENDED (same id, n=2)
                                         — cross-batch continuity inside
                                         the window
    - b3: user 2 @ T0+6h              -> watermark after b3 = T0+5h
    - b4: user 3 @ T0+6h              -> user 1: no data, deadline
                                         (T0+40m) < watermark -> state
                                         REMOVED (numRowsRemoved=1; the
                                         store ends holding users 2+3
                                         only)
    - b5: user 1 @ T0+20m (LATE)      -> below the watermark: Spark's
                                         stateful late-record filter
                                         drops it BEFORE the operator —
                                         no output row, no state row, no
                                         session-A amendment. An evicted
                                         session is final; the delay is
                                         the lateness budget.
    """
    import time

    import pandas as pd

    from mapreduce_experiment_spark.streaming.sessions import (
        sessionize_stream_evicting,
    )

    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def ts(minutes=0, hours=0):
        return t0 + pd.Timedelta(minutes=minutes, hours=hours)

    d = tmp_path / "events_evict"
    d.mkdir()
    now = time.time()
    batches = [
        ([1], [100], [ts()], [1.50]),
        ([1], [101], [ts(minutes=10)], [2.25]),
        ([2], [200], [ts(hours=6)], [5.00]),
        ([3], [300], [ts(hours=6)], [7.00]),
        ([1], [102], [ts(minutes=20)], [0.75]),   # late re-touch
    ]
    for i, (users, eids, tss, vals) in enumerate(batches, start=1):
        f = d / f"batch{i}.parquet"
        pd.DataFrame({"user_id": users, "event_id": eids,
                      "ts": tss, "value": vals}) \
            .to_parquet(f, coerce_timestamps="us")
        os.utime(f, (now + i, now + i))

    stream = (spark.readStream
              .schema("user_id long, event_id long, ts timestamp, "
                      "value double")
              .option("maxFilesPerTrigger", 1).parquet(str(d)))
    q = (sessionize_stream_evicting(stream)
         .writeStream.format("memory").queryName("sess_evict_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(fed) == 5, "expected five single-file batches"

    rows = spark.table("sess_evict_test").collect()
    u1 = sorted(((r.session_id, r.n_events, float(r.total_value))
                 for r in rows if r.user_id == 1))
    t0_us = int(t0.value) // 1000
    # session A emitted (n=1) then amended (n=2); the late b5 event —
    # which would have amended A to n=3 were its state alive and the
    # row admitted — produced NOTHING
    assert u1 == [(t0_us, 1, 1.50), (t0_us, 2, 3.75)]
    # users 2 and 3: one session each, keyed by their start micros
    t6h_us = t0_us + 6 * 3600 * 1_000_000
    for uid, val in [(2, 5.00), (3, 7.00)]:
        got = [(r.session_id, r.n_events, float(r.total_value))
               for r in rows if r.user_id == uid]
        assert got == [(t6h_us, 1, val)]
    # the state store's own accounting: user 1's row was REMOVED by
    # the event-time timeout, and the store ends with exactly the two
    # still-open sessions (users 2 and 3)
    removed = sum(op["numRowsRemoved"]
                  for p in q.recentProgress
                  for op in p["stateOperators"])
    final_total = [op["numRowsTotal"]
                   for p in q.recentProgress[-1:]
                   for op in p["stateOperators"]]
    assert removed == 1
    assert final_total == [2]


def test_stateful_sessions_evicting_matches_batch(spark, sf_smoke):
    """Value parity: the evicting sessionizer over the real event
    stream (single availableNow batch — the watermark cannot fire
    mid-drain) produces exactly the batch sessionizer's per-session
    rows, modulo the id scheme (start-micros vs per-user ordinal) —
    compared on (user_id, session_start, session_end, n_events,
    total_value). The retained-counter and evicting variants differ
    ONLY in what they keep, never in what they emit."""
    from mapreduce_experiment_spark.operators import events as EVops
    from mapreduce_experiment_spark.sources.tables import load_table
    from mapreduce_experiment_spark.streaming.pipeline import (
        read_event_stream,
    )
    from mapreduce_experiment_spark.streaming.sessions import (
        sessionize_stream_evicting,
    )

    q = (sessionize_stream_evicting(read_event_stream(spark, sf_smoke))
         .writeStream.format("memory").queryName("sess_parity_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()

    key = ["user_id", "session_start", "session_end",
           "n_events", "total_value"]
    got = {tuple(r) for r in
           spark.table("sess_parity_test").select(*key).collect()}
    want = {tuple(r) for r in
            EVops.session_stats(load_table(spark, sf_smoke, "events"))
            .select(*key).collect()}
    assert got == want and len(got) > 0
    # the id scheme really is start-micros: ids must be unique per user
    sids = spark.table("sess_parity_test") \
        .select("user_id", "session_id").collect()
    assert len(sids) == len({(r.user_id, r.session_id) for r in sids})


def test_stateful_sessions_out_of_order_never_regresses(spark, tmp_path):
    """Out-of-order-but-ADMISSIBLE events (older than the open
    session's last event yet above the watermark — inside the
    advertised lateness budget) must never regress the session's
    bounds, its id, or its eviction deadline. Gap 30 min, delay 1 h:

    - b1: u1 @ T0+60m; u2 @ T0+70m   -> open sessions; watermark
                                        still T0-ish (max ts 70m - 1h)
    - b2: u1 @ T0+50m (out-of-order) -> ABSORBED: same session id
                                        (60m), start widens to 50m,
                                        end STAYS 60m, deadline stays
                                        (60m+gap) — a regressed
                                        deadline would evict early
    - b3: u1 @ T0+85m                -> 85-60=25m <= gap: SAME session
                                        (n=3). Had the end regressed
                                        to 50m, 35m > gap would have
                                        wrongly split the session.
         u2 @ T0+20m (straggler)     -> below u2's session reach
                                        (start 70m - gap = 40m) but
                                        admissible: emitted as its own
                                        closed singleton under the
                                        NEGATIVE orphan id -(ts+1) —
                                        disjoint from session ids, so
                                        it can never clobber a closed
                                        session's final row — with the
                                        open session untouched (no
                                        amendment row)
    """
    import time

    import pandas as pd

    from mapreduce_experiment_spark.streaming.sessions import (
        sessionize_stream_evicting,
    )

    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def ts(minutes):
        return t0 + pd.Timedelta(minutes=minutes)

    d = tmp_path / "events_ooo"
    d.mkdir()
    now = time.time()
    batches = [
        ([1, 2], [100, 200], [ts(60), ts(70)], [1.00, 9.00]),
        ([1], [101], [ts(50)], [2.00]),
        ([1, 2], [102, 201], [ts(85), ts(20)], [4.00, 8.00]),
    ]
    for i, (users, eids, tss, vals) in enumerate(batches, start=1):
        f = d / f"batch{i}.parquet"
        pd.DataFrame({"user_id": users, "event_id": eids,
                      "ts": tss, "value": vals}) \
            .to_parquet(f, coerce_timestamps="us")
        os.utime(f, (now + i, now + i))

    stream = (spark.readStream
              .schema("user_id long, event_id long, ts timestamp, "
                      "value double")
              .option("maxFilesPerTrigger", 1).parquet(str(d)))
    q = (sessionize_stream_evicting(stream)
         .writeStream.format("memory").queryName("sess_ooo_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(fed) == 3, "expected three single-file batches"

    us_of = {m: int(ts(m).value) // 1000 for m in (20, 50, 60, 70, 85)}
    rows = spark.table("sess_ooo_test").collect()

    u1 = [(r.session_id, r.n_events,
           int(r.session_start.timestamp() * 1_000_000),
           int(r.session_end.timestamp() * 1_000_000),
           float(r.total_value))
          for r in rows if r.user_id == 1]
    # one session id throughout — never forked by the regression bug
    assert {sid for sid, *_ in u1} == {us_of[60]}
    assert sorted(u1) == [
        (us_of[60], 1, us_of[60], us_of[60], 1.00),
        (us_of[60], 2, us_of[50], us_of[60], 3.00),   # start widened,
                                                      # end NOT regressed
        (us_of[60], 3, us_of[50], us_of[85], 7.00),
    ]

    u2 = sorted((r.session_id, r.n_events, float(r.total_value))
                for r in rows if r.user_id == 2)
    # open session emitted once in b1 and NOT re-amended by the
    # straggler batch; the straggler is its own closed singleton under
    # the negative orphan id
    assert u2 == [(-(us_of[20] + 1), 1, 8.00), (us_of[70], 1, 9.00)]


def test_retained_sessions_out_of_order_never_regresses(spark, tmp_path):
    """r13 review: the retained-counter sessionizer's per-event loop
    REGRESSED last_us (and never widened start_us) on an out-of-order
    event arriving in a later micro-batch — state [60m,60m] gap 30m
    absorbing a 50m event set last_us=50m, so a following 85m event
    (35m > gap from the regressed end, 25m from the true end) wrongly
    forked a new session, and the 50m amendment row carried a
    session_end earlier than the already-emitted 60m. Both variants
    now classify whole gap-chains; this mirrors
    test_stateful_sessions_out_of_order_never_regresses for the
    ordinal-id variant (no watermark here — NoTimeout admits every
    arrival): same three batches, ordinal ids instead of start-micros,
    straggler emitted under the ts-keyed negative orphan id."""
    import time

    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    from mapreduce_experiment_spark.streaming import sessions as S

    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def ts(minutes):
        return t0 + pd.Timedelta(minutes=minutes)

    d = tmp_path / "events_ooo_ret"
    d.mkdir()
    now = time.time()
    batches = [
        ([1, 2], [100, 200], [ts(60), ts(70)], [1.00, 9.00]),
        ([1], [101], [ts(50)], [2.00]),
        ([1, 2], [102, 201], [ts(85), ts(20)], [4.00, 8.00]),
    ]
    for i, (users, eids, tss, vals) in enumerate(batches, start=1):
        f = d / f"batch{i}.parquet"
        pd.DataFrame({"user_id": users, "event_id": eids,
                      "ts": tss, "value": vals}) \
            .to_parquet(f, coerce_timestamps="us")
        os.utime(f, (now + i, now + i))

    gap_us = 30 * 60 * 1_000_000

    def fn(key, pdfs, state):
        return S._sessionize_group(key, pdfs, state, gap_us)

    stream = (spark.readStream
              .schema("user_id long, event_id long, ts timestamp, "
                      "value double")
              .option("maxFilesPerTrigger", 1).parquet(str(d)))
    q = (stream.groupBy("user_id")
         .applyInPandasWithState(fn, S._OUT_SCHEMA, S._STATE_SCHEMA,
                                 "append", GroupStateTimeout.NoTimeout)
         .writeStream.format("memory").queryName("sess_ooo_ret_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(fed) == 3, "expected three single-file batches"

    us_of = {m: int(ts(m).value) // 1000 for m in (20, 50, 60, 85)}
    rows = spark.table("sess_ooo_ret_test").collect()

    u1 = [(r.session_id, r.n_events,
           int(r.session_start.timestamp() * 1_000_000),
           int(r.session_end.timestamp() * 1_000_000),
           float(r.total_value))
          for r in rows if r.user_id == 1]
    # one ordinal throughout — never forked by the regression bug
    assert {sid for sid, *_ in u1} == {1}
    assert sorted(u1) == [
        (1, 1, us_of[60], us_of[60], 1.00),
        (1, 2, us_of[50], us_of[60], 3.00),   # start widened,
                                              # end NOT regressed
        (1, 3, us_of[50], us_of[85], 7.00),
    ]

    u2 = sorted((r.session_id, r.n_events, float(r.total_value))
                for r in rows if r.user_id == 2)
    # straggler below the open session's reach: its own closed
    # singleton under the negative orphan id, ordinal session untouched
    assert u2 == [(-(us_of[20] + 1), 1, 8.00), (1, 1, 9.00)]


def test_session_cents_round_half_up_like_batch():
    """r13 review: streaming cents used pandas .round() (half-to-even)
    while the batch oracle path uses Spark F.round (HALF_UP), so a
    dyadic half-cent product diverged: value=0.125 -> 12.5 cents ->
    batch 13, old streaming 12. Pinned on _batch_ts_cents directly."""
    import pandas as pd

    from mapreduce_experiment_spark.streaming.sessions import (
        _batch_ts_cents,
    )

    pdf = pd.DataFrame({
        "ts": pd.to_datetime(["2024-01-01", "2024-01-02"]),
        "event_id": [1, 2],
        "value": [0.125, 0.375],   # *100 = 12.5, 37.5 — both exact
    })
    _, cents = _batch_ts_cents(iter([pdf]))
    assert list(cents) == [13, 38]  # HALF_UP, not half-even (12, 38)


def test_session_cents_negative_and_null_values():
    """r14 adversarial events rehearsal, two defects in the same
    quantization line: (1) floor(x+0.5) rounds a NEGATIVE half cent
    UP (-0.5 -> 0) where Spark F.round and DuckDB round() both go
    away from zero (-1) — reproduced as a 2-cent session-total
    divergence; now sign-symmetric. (2) a NULL value sailed through
    astype(int64) as int64-min garbage cents (one NULL-value session
    summed to -1.8e17); NULL value is out of contract for the exact-
    cents accumulator and must fail LOUDLY, not corrupt."""
    import numpy as np
    import pandas as pd
    import pytest

    from mapreduce_experiment_spark.streaming.sessions import (
        _batch_ts_cents,
    )

    pdf = pd.DataFrame({
        "ts": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03",
                              "2024-01-04"]),
        "event_id": [1, 2, 3, 4],
        "value": [-0.125, -0.375, -2.0, 0.0],  # halves exact in binary
    })
    _, cents = _batch_ts_cents(iter([pdf]))
    assert list(cents) == [-13, -38, -200, 0]  # away from zero, not up

    # NaN covers the NULL case; ±Inf is the same silent-garbage class
    # (np.floor(inf).astype(int64) is int64-min) — the guard is
    # isfinite, not just isnan (fix-on-fix review of the r14 guard).
    for hostile in (np.nan, np.inf, -np.inf):
        bad = pd.DataFrame({
            "ts": pd.to_datetime(["2024-01-01"]),
            "event_id": [1],
            "value": [hostile],
        })
        with pytest.raises(ValueError, match="out of contract"):
            _batch_ts_cents(iter([bad]))


def test_streaming_minhash_deadline_never_regresses(spark, tmp_path):
    """An older-but-admissible re-delivery must not move a signature
    group's eviction deadline BACKWARDS — the contract is (group's
    newest ingest_ts + delay) over its whole lifetime, so the max is
    merged against persisted state, not recomputed per batch. Delay
    1 h:

    - b1: doc 1 @ T0+50m        -> emitted; deadline T0+110m
    - b2: doc 1 again @ T0+10m  -> suppressed; deadline MUST stay
                                   T0+110m (per-batch recompute would
                                   regress it to T0+70m)
    - b3: doc 2 @ T0+150m       -> watermark still below T0 (max ts
                                   through b2 = 50m)
    - b4: doc 3 @ T0+150m       -> watermark now T0+90m: under the
                                   regressed deadline doc 1's state
                                   would be evicted HERE
    - b5: doc 1 again @ T0+95m  -> admissible (>= watermark T0+90m)
                                   and inside the true window
                                   (deadline T0+110m): must STAY
                                   suppressed — exactly-once holds
    """
    import time

    import pandas as pd

    from pyspark.sql import types as T

    from mapreduce_experiment_spark.streaming.pipeline import (
        minhash_dedup_over_stream,
        _DOCS_RAW,
    )

    base = "the quick brown fox jumps over the lazy dog " * 3
    other = "pack my box with five dozen liquor jugs " * 3
    third = "sphinx of black quartz judge my vow " * 2
    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def ts(minutes):
        return t0 + pd.Timedelta(minutes=minutes)

    d = tmp_path / "docs_deadline"
    d.mkdir()
    now = time.time()
    for i, (ids, texts, when) in enumerate([
        ([1], [base], ts(50)),
        ([1], [base], ts(10)),
        ([2], [other], ts(150)),
        ([3], [third], ts(150)),
        ([1], [base], ts(95)),
    ], start=1):
        f = d / f"batch{i}.parquet"
        pd.DataFrame({"doc_id": ids, "text": texts,
                      "ingest_ts": [when] * len(ids)}) \
            .to_parquet(f, coerce_timestamps="us")
        os.utime(f, (now + i, now + i))

    sch = T.StructType(
        list(_DOCS_RAW) + [T.StructField("ingest_ts", T.TimestampType())])
    stream = (spark.readStream.schema(sch)
              .option("maxFilesPerTrigger", 1).parquet(str(d)))
    q = (minhash_dedup_over_stream(stream)
         .writeStream.format("memory").queryName("smd_deadline_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(fed) == 5, "expected five single-file batches"

    emitted = sorted(r.doc_id for r in
                     spark.table("smd_deadline_test").collect())
    # doc 1 exactly ONCE — both re-deliveries inside the true
    # event-time window suppressed; docs 2, 3 once each
    assert emitted == [1, 2, 3]


def _prop_config(narrow_batches_max: int) -> tuple[int, int, int]:
    """(max_examples, minute_max, batches_max) for a stateful property
    test — ONE switch for both tests so the wide-stress shape can
    never silently diverge between them (review r9): the committed
    default stays narrow for suite wall time; SPARK_GRAFT_PROP_WIDE=1
    is the re-run-after-any-group-function-edit config (3,000
    examples, 2,000-minute event range, up to 12 micro-batches)."""
    if os.environ.get("SPARK_GRAFT_PROP_WIDE") == "1":
        return 3000, 2000, 12
    return 60, 600, narrow_batches_max


class _FakeGroupState:
    """Mock GroupState shared by the stateful-operator property tests
    below: simulates the engine's state cell, event-time timeout
    registration (a deadline must sit above the watermark — Spark
    rejects it with an error otherwise), timeout firing, and
    max-monotone watermark advancement. ONE implementation so a fix
    to the simulated Spark semantics applies to every property
    harness instead of drifting between per-test copies."""

    def __init__(self):
        self._val, self._deadline_ms, self._wm_ms = None, None, 0
        self.hasTimedOut = False
        self.armed = []          # full deadline history, per epoch

    @property
    def exists(self):
        return self._val is not None

    @property
    def get(self):
        return self._val

    def update(self, v):
        self._val = tuple(v)

    def remove(self):
        self._val, self._deadline_ms = None, None
        self.armed.append(None)  # epoch boundary marker

    def setTimeoutTimestamp(self, ms):
        assert ms > self._wm_ms, "deadline must sit above watermark"
        self._deadline_ms = ms
        self.armed.append(ms)

    def getCurrentWatermarkMs(self):
        return self._wm_ms

    def advance_watermark_ms(self, wm_ms):
        """Engine watermark bookkeeping: max event time minus delay,
        never regressing."""
        self._wm_ms = max(self._wm_ms, wm_ms)

    def should_fire_timeout(self):
        """Whether the engine would invoke the group function with
        ``hasTimedOut`` on a batch carrying no data for this group."""
        return (self.exists and self._deadline_ms is not None
                and self._deadline_ms < self._wm_ms)


def test_evicting_sessionizer_property(spark):
    """Property-test the evicting group function's algebra directly
    (mock GroupState, no streaming engine — engine-level behavior is
    pinned by the multi-batch tests above): over random multi-batch
    event streams with out-of-order arrivals, timeouts, and the
    late-record filter simulated the way Spark applies them,

    1. CONSERVATION — every admitted event lands in exactly one
       session: summing n_events (and cents) over the latest row per
       session_id equals the admitted totals;
    2. MONOTONY — per session_id, successive amendment rows never
       decrease n, never raise session_start, never lower
       session_end;
    3. BATCH PARITY — when deliveries happen to be globally in order,
       the latest rows equal the batch sessionizer's sessions.

    ``spark`` is unused at runtime; requiring the fixture keeps this
    with the other sessionizer tests and their fixture scoping.
    """
    import pandas as pd
    from hypothesis import given, settings, strategies as st

    from mapreduce_experiment_spark.streaming.sessions import (
        _sessionize_group_evicting,
    )

    GAP_US = 30 * 60 * 1_000_000
    DELAY_US = 60 * 60 * 1_000_000

    def drive(batches_min):
        """Run the group fn over micro-batches for ONE user the way
        the engine would: sort within batch, late-filter against the
        watermark, fire the event-time timeout on batches where the
        group has no data, advance the watermark afterwards."""
        state = _FakeGroupState()
        emitted, admitted = [], []
        for batch in batches_min:
            rows = [(m * 60_000_000, 1.0) for m in sorted(batch)]
            wm_us = state.getCurrentWatermarkMs() * 1000
            rows = [r for r in rows if r[0] >= wm_us]       # late filter
            if rows:
                admitted.extend(rows)
                pdf = pd.DataFrame({
                    "ts": pd.to_datetime([us for us, _ in rows], unit="us"),
                    "event_id": range(len(rows)),
                    "value": [v for _, v in rows],
                })
                state.hasTimedOut = False
                emitted.extend(pd.concat(list(
                    _sessionize_group_evicting(
                        (7,), iter([pdf]), state, GAP_US)),
                    ignore_index=True).to_dict("records"))
            elif state.should_fire_timeout():
                state.hasTimedOut = True
                list(_sessionize_group_evicting(
                    (7,), iter([]), state, GAP_US))
                assert not state.exists  # timeout must drop the state
            if batch:
                mx = max(batch) * 60_000_000
                state.advance_watermark_ms((mx - DELAY_US) // 1000)
        return emitted, admitted

    n_examples, minute_max, batches_max = _prop_config(6)
    minutes = st.integers(min_value=0, max_value=minute_max)
    batches = st.lists(
        st.lists(minutes, min_size=0, max_size=5),
        min_size=1, max_size=batches_max)

    @settings(max_examples=n_examples, deadline=None)
    @given(batches)
    def prop(bs):
        # distinct timestamps across the whole example: two events at
        # the IDENTICAL microsecond are merged by batch semantics too,
        # so exact conservation is only claimed for distinct-ts streams
        # (orphan ids are unique per ts by construction)
        seen_min = set()
        bs = [[m for m in b if not (m in seen_min or seen_min.add(m))]
              for b in bs]
        emitted, admitted = drive(bs)
        assert len(emitted) >= bool(admitted)
        latest = {}
        seen_per_sid = {}
        for r in emitted:
            sid = r["session_id"]
            prev = seen_per_sid.get(sid)
            if prev is not None:                       # monotony
                assert r["n_events"] >= prev["n_events"]
                assert r["session_start"] <= prev["session_start"]
                assert r["session_end"] >= prev["session_end"]
            seen_per_sid[sid] = r
            latest[sid] = r
        # conservation over the latest row per session
        assert sum(r["n_events"] for r in latest.values()) == len(admitted)
        total = round(sum(r["total_value"] for r in latest.values()), 2)
        assert total == round(sum(v for _, v in admitted), 2)
        # batch parity on in-order delivery
        flat = [us for b in bs for us in sorted(b)]
        if flat == sorted(flat) and admitted:
            want, cur = [], None
            for us, _ in admitted:
                if cur is None or us - cur[-1] > GAP_US:
                    want.append([us])
                else:
                    cur.append(us)
                cur = want[-1]
            got = sorted((r["session_start"].value // 1000,
                          r["session_end"].value // 1000,
                          r["n_events"]) for r in latest.values())
            assert got == sorted(
                (s[0], s[-1], len(s)) for s in want)

    prop()

    # Deterministic clobber regression: a straggler whose ts EQUALS a
    # closed session's first event (minute 0 here) must come out as a
    # negative-id orphan, leaving the closed session's final n=2 row
    # intact — under ts-keyed singleton ids it would have replaced it
    # with n=1 downstream.
    emitted, admitted = drive([[0, 10], [50], [0]])
    latest = {r["session_id"]: r for r in emitted}
    assert latest[0]["n_events"] == 2            # closed session intact
    assert latest[-1]["n_events"] == 1           # orphan id -(0+1)
    assert sum(r["n_events"] for r in latest.values()) == len(admitted) == 4

    # Same-ts stragglers within one batch MERGE into a single orphan
    # aggregate (batch sessionization would put identical-timestamp
    # events in one session too) — two distinct events at minute 0
    # become one orphan row with n=2, conserving both.
    emitted, admitted = drive([[10], [50], [0, 0]])
    latest = {r["session_id"]: r for r in emitted}
    assert latest[-1]["n_events"] == 2
    assert latest[-1]["total_value"] == 2.0
    assert sum(r["n_events"] for r in latest.values()) == len(admitted) == 4

    # Within-batch chain bridging: an admissible straggler that a
    # LATER event in the same batch chains into the open session's
    # reach must be ABSORBED, not orphaned — state [60, 60], gap 30:
    # the batch {25, 31} is one gap-chain (6 min apart) and 31 sits
    # within gap of start, so the whole chain merges into one session
    # [25, 60] n=3, exactly what batch sessionization of {25, 31, 60}
    # yields. Event-by-event classification would have mis-orphaned
    # 25 against the pre-widening start.
    emitted, admitted = drive([[60], [25, 31]])
    latest = {r["session_id"]: r for r in emitted}
    assert len(latest) == 1 and len(admitted) == 3
    (row,) = latest.values()
    assert row["n_events"] == 3
    assert row["session_start"].value // 60_000_000_000 == 25
    assert row["session_end"].value // 60_000_000_000 == 60

    # Partial-replay safety: orphan EMISSION is keyed per ts (even
    # though classification is per chain), so a later batch
    # re-delivering only PART of an orphan chain replaces exactly its
    # own row — the sibling event's row must survive. A
    # chain-min-keyed orphan row would have been clobbered to n=1
    # here, permanently losing the event at minute 6.
    emitted, admitted = drive([[60], [5, 6], [5]])
    latest = {r["session_id"]: r for r in emitted}
    o5 = -(5 * 60_000_000 + 1)
    o6 = -(6 * 60_000_000 + 1)
    assert latest[o5]["n_events"] == 1
    assert latest[o6]["n_events"] == 1   # sibling survived the replay


def test_retained_sessionizer_property(spark):
    """Property-test the retained-counter group function's algebra
    (mock GroupState, no engine — NoTimeout means no watermark, no
    late filter, no eviction: every arrival is admitted), mirroring
    test_evicting_sessionizer_property since r13, when the gap-chain
    classification became shared between the variants:

    1. CONSERVATION — every event lands in exactly one session;
    2. MONOTONY — per session_id, amendment rows never decrease n,
       never raise session_start, never lower session_end (the r13
       fix: the per-event loop regressed session_end);
    3. BATCH PARITY — on globally in-order delivery the latest rows
       equal batch sessionization, with ids the ordinals 1..k.

    ``spark`` unused at runtime; fixture scoping."""
    import pandas as pd
    from hypothesis import given, settings, strategies as st

    from mapreduce_experiment_spark.streaming.sessions import (
        _sessionize_group,
    )

    GAP_US = 30 * 60 * 1_000_000

    def drive(batches_min):
        state = _FakeGroupState()
        emitted, admitted = [], []
        for batch in batches_min:
            if not batch:
                continue
            rows = [(m * 60_000_000, 1.0) for m in sorted(batch)]
            admitted.extend(rows)
            pdf = pd.DataFrame({
                "ts": pd.to_datetime([us for us, _ in rows], unit="us"),
                "event_id": range(len(rows)),
                "value": [v for _, v in rows],
            })
            emitted.extend(pd.concat(list(
                _sessionize_group((7,), iter([pdf]), state, GAP_US)),
                ignore_index=True).to_dict("records"))
        return emitted, admitted

    n_examples, minute_max, batches_max = _prop_config(6)
    minutes = st.integers(min_value=0, max_value=minute_max)
    batches = st.lists(
        st.lists(minutes, min_size=0, max_size=5),
        min_size=1, max_size=batches_max)

    @settings(max_examples=n_examples, deadline=None)
    @given(batches)
    def prop(bs):
        # distinct timestamps only, as in the evicting property: two
        # events at the identical microsecond merge under batch
        # semantics too (orphan ids are unique per ts by construction)
        seen_min = set()
        bs = [[m for m in b if not (m in seen_min or seen_min.add(m))]
              for b in bs]
        emitted, admitted = drive(bs)
        assert len(emitted) >= bool(admitted)
        latest = {}
        seen_per_sid = {}
        for r in emitted:
            sid = r["session_id"]
            prev = seen_per_sid.get(sid)
            if prev is not None:                       # monotony
                assert r["n_events"] >= prev["n_events"]
                assert r["session_start"] <= prev["session_start"]
                assert r["session_end"] >= prev["session_end"]
            seen_per_sid[sid] = r
            latest[sid] = r
        # conservation over the latest row per session
        assert sum(r["n_events"] for r in latest.values()) == len(admitted)
        total = round(sum(r["total_value"] for r in latest.values()), 2)
        assert total == round(sum(v for _, v in admitted), 2)
        # batch parity on in-order delivery — including the ORDINALS
        flat = [us for b in bs for us in sorted(b)]
        if flat == sorted(flat) and admitted:
            want, cur = [], None
            for us, _ in admitted:
                if cur is None or us - cur[-1] > GAP_US:
                    want.append([us])
                else:
                    cur.append(us)
                cur = want[-1]
            got = sorted((r["session_id"],
                          r["session_start"].value // 1000,
                          r["session_end"].value // 1000,
                          r["n_events"]) for r in latest.values())
            assert got == [(i, s[0], s[-1], len(s))
                           for i, s in enumerate(want, start=1)]

    prop()

    # The r13 regression, deterministically: state [60m], gap 30m —
    # batch {50m} absorbs (widen start, end STAYS 60m, same ordinal),
    # then batch {85m} extends the SAME session (25m from the true
    # end; the regressed end would have put it 35m > gap away and
    # forked ordinal 2).
    emitted, admitted = drive([[60], [50], [85]])
    latest = {r["session_id"]: r for r in emitted}
    assert set(latest) == {1} and len(admitted) == 3
    assert latest[1]["n_events"] == 3
    assert latest[1]["session_start"].value // 60_000_000_000 == 50
    assert latest[1]["session_end"].value // 60_000_000_000 == 85

    # Straggler below the open session's reach: negative ts-keyed
    # orphan id, ordinal session untouched.
    emitted, admitted = drive([[60], [10]])
    latest = {r["session_id"]: r for r in emitted}
    assert latest[1]["n_events"] == 1
    assert latest[-(10 * 60_000_000 + 1)]["n_events"] == 1
    assert sum(r["n_events"] for r in latest.values()) == len(admitted) == 2


def test_retained_sessionizer_rejects_pre_epoch_straggler(spark):
    """The retained variant accepts pre-epoch events in the ordinary
    path (ordinal ids don't care), but a pre-epoch STRAGGLER would
    mint a POSITIVE orphan id -(ts+1) that can collide with a real
    ordinal — it must be rejected loudly at orphan emission (r13;
    the evicting variant guards the whole batch up-front instead
    because its REAL ids are ts-keyed). ``spark`` unused; scoping."""
    import pandas as pd
    import pytest

    from mapreduce_experiment_spark.streaming.sessions import (
        _sessionize_group,
    )

    GAP_US = 30 * 60 * 1_000_000
    state = _FakeGroupState()
    ok = pd.DataFrame({
        "ts": pd.to_datetime([10 * 3_600_000_000], unit="us"),
        "event_id": [0],
        "value": [1.0],
    })
    list(_sessionize_group((7,), iter([ok]), state, GAP_US))
    straggler = pd.DataFrame({
        "ts": pd.to_datetime([-5_000_000], unit="us"),  # 1969-12-31
        "event_id": [1],
        "value": [1.0],
    })
    with pytest.raises(ValueError, match="pre-epoch"):
        list(_sessionize_group((7,), iter([straggler]), state, GAP_US))


def test_evicting_sessionizer_rejects_pre_epoch_ts(spark):
    """The ts-keyed session-id scheme keeps orphan ids (negative)
    disjoint from real ids only when event times are non-negative: a
    pre-epoch event (corrupt producer clock) must be rejected loudly,
    not silently minted as a negative REAL session id that an orphan
    could clobber downstream. ``spark`` unused; fixture scoping."""
    import pandas as pd
    import pytest

    from mapreduce_experiment_spark.streaming.sessions import (
        _sessionize_group_evicting,
    )

    state = _FakeGroupState()
    pdf = pd.DataFrame({
        "ts": pd.to_datetime([-5_000_000], unit="us"),  # 1969-12-31
        "event_id": [0],
        "value": [1.0],
    })
    with pytest.raises(ValueError, match="pre-epoch"):
        list(_sessionize_group_evicting(
            (7,), iter([pdf]), state, 30 * 60 * 1_000_000))


def test_minhash_dedup_group_property(spark):
    """Property-test the streaming minhash dedup's state algebra
    directly (mock GroupState, same harness idea as the sessionizer
    property test): over random multi-batch delivery schedules of
    (doc_id, ingest-minute) pairs for one signature group — with
    re-deliveries, out-of-order batches, watermark advance, the
    late-record filter, and event-time timeouts simulated the way
    Spark applies them —

    1. EXACTLY-ONCE PER EPOCH — between two evictions, a doc_id is
       emitted at most once, and exactly once if delivered;
    2. NO LOSS — every admitted delivery of a doc not currently in
       state produces an emission;
    3. DEADLINE MONOTONE — the armed timeout never decreases within a
       state epoch (the max-merge fix), so an in-window re-delivery
       can never slip through an early eviction.

    ``spark`` is unused at runtime; the fixture keeps this grouped
    with the other streaming tests.
    """
    import pandas as pd
    from hypothesis import given, settings, strategies as st

    from mapreduce_experiment_spark.streaming.pipeline import (
        _minhash_dedup_group,
    )

    DELAY_MS = 60 * 60 * 1000

    def drive(batches):
        """batches: list of lists of (doc_id, minute)."""
        state = _FakeGroupState()
        emitted, epochs, cur_epoch = [], [], []
        for batch in batches:
            wm = state.getCurrentWatermarkMs()
            rows = [(d, m * 60_000) for d, m in batch
                    if m * 60_000 >= wm]                 # late filter
            if rows:
                pdf = pd.DataFrame({
                    "doc_id": [d for d, _ in rows],
                    "ingest_ts": pd.to_datetime(
                        [ms for _, ms in rows], unit="ms"),
                })
                pre_seen = set(state.get[0]) if state.exists else set()
                state.hasTimedOut = False
                batch_emitted = []
                for out in _minhash_dedup_group(
                        ("sig",), iter([pdf]), state, DELAY_MS):
                    emitted.extend(out.to_dict("records"))
                    batch_emitted.extend(int(r) for r in out["doc_id"])
                cur_epoch.extend(batch_emitted)
                # NO LOSS / exactly-once, against the PRE-batch state:
                # a delivered doc not already in the live seen-set
                # must be emitted THIS batch; one already in it must
                # not be re-emitted. (Checking against the post-batch
                # state would be vacuous — the group function always
                # folds every delivered doc into `seen`.)
                for d, _ in rows:
                    if d in pre_seen:
                        assert d not in batch_emitted, (batch, d)
                    else:
                        assert d in batch_emitted, (batch, d)
            elif state.should_fire_timeout():
                state.hasTimedOut = True
                list(_minhash_dedup_group(
                    ("sig",), iter([]), state, DELAY_MS))
                assert not state.exists
                epochs.append(cur_epoch)
                cur_epoch = []
            if batch:
                mx = max(m for _, m in batch) * 60_000
                state.advance_watermark_ms(mx - DELAY_MS)
        epochs.append(cur_epoch)
        return emitted, epochs, state

    n_examples, minute_max, batches_max = _prop_config(7)
    doc = st.integers(min_value=1, max_value=5)
    minute = st.integers(min_value=0, max_value=minute_max)
    batches = st.lists(
        st.lists(st.tuples(doc, minute), min_size=0, max_size=4),
        min_size=1, max_size=batches_max)

    @settings(max_examples=n_examples, deadline=None)
    @given(batches)
    def prop(bs):
        emitted, epochs, state = drive(bs)
        # exactly-once per epoch
        for ep in epochs:
            assert len(ep) == len(set(ep)), (bs, epochs)
        assert len(emitted) == sum(len(ep) for ep in epochs)
        # deadline monotone within each epoch
        run = []
        for ms in state.armed:
            if ms is None:
                run = []
                continue
            assert not run or ms >= run[-1], (bs, state.armed)
            run.append(ms)

    prop()

    # Epoch-0 arming regression: a group whose only admitted rows
    # carry ingest_ts exactly at the Unix epoch (a misconfigured
    # upstream's default timestamp) has max_ts_ms == 0, which a
    # truthiness guard would treat as "never saw a row" — skipping
    # setTimeoutTimestamp forever and leaking the group's state. The
    # None-sentinel guard must still arm the deadline at 0 + delay.
    state = _FakeGroupState()
    pdf = pd.DataFrame({
        "doc_id": [1],
        "ingest_ts": pd.to_datetime([0], unit="ms"),
    })
    list(_minhash_dedup_group(("sig",), iter([pdf]), state, DELAY_MS))
    assert state.armed == [DELAY_MS], \
        "epoch-0 ingest_ts must still arm the eviction deadline"


def test_ratio_queries_survive_zero_denominator_groups(spark, tmp_path):
    """r14 adversarial TPC-H sweep: three divide/domain holes where a
    single in-contract hostile row killed one engine while the other
    returned a value.

    (1) order_scalar_functions ran sqrt/ln UNGUARDED: a negative or
        zero o_totalprice hard-errors DuckDB ("cannot take square root
        of a negative number" kills the WHOLE oracle query) while
        Spark yields NaN/NULL — and the NaN would hash-diverge anyway.
    (2) asia_market_share divided by sum(cents) with no guard: Spark
        4's ANSI mode hard-fails DIVIDE_BY_ZERO even for DOUBLE
        division, so one year whose revenues cancel to zero cents
        kills the job; DuckDB's double division yields NULL.
    (3) price_quantity_correlation's correlation denominator is zero
        for any constant-column group (same crash class as 2), and
        its old per-engine DOUBLE moment arithmetic could round the
        n*sxx - sx² cancellation to a tiny NEGATIVE, feeding sqrt a
        negative (Spark NaN vs DuckDB hard error). Moments are now
        exact integers (decimal / HUGEINT) converted to double once,
        with a CASE guard for zero variance.

    All three are CASE-guarded identically in engine and oracle; all
    dormant on shipped data (prices positive, no zero-revenue year,
    no constant-column returnflag group — verified by query). Prove
    the registered queries match their oracles on fixtures covering
    each class, and demonstrate the old forms dying."""
    import duckdb
    import pyspark.errors
    import pytest

    from mapreduce_experiment_spark.plans.registry import SPECS
    from tests.oracle_util import assert_matches, run_oracle

    sf = str(tmp_path)
    specs = SPECS()
    con = duckdb.connect()

    # (1) orders with negative / zero / tiny / huge prices
    con.execute(f"""
        COPY (SELECT i AS o_orderkey, 1::BIGINT AS o_custkey,
                     'O' AS o_orderstatus,
                     CASE i WHEN 0 THEN -55.5 WHEN 1 THEN 0.0
                            WHEN 2 THEN 1e-9
                            WHEN 3 THEN 123456789.12
                            ELSE 100.0 + i END AS o_totalprice,
                     TIMESTAMP '2024-01-01 00:00:00'
                       + INTERVAL (i) DAY AS o_orderdate,
                     '1-URGENT' AS o_orderpriority
              FROM range(6) t(i))
        TO '{sf}/orders.parquet' (FORMAT parquet)""")
    spec = specs["order_scalar_functions"]
    assert_matches(spec.fn(spark, sf), run_oracle(spec.oracle, sf),
                   "order_scalar_functions")
    # the defect: the unguarded oracle form dies on the negative row
    with pytest.raises(duckdb.Error, match="square root"):
        run_oracle("SELECT sqrt(o_totalprice) FROM orders", sf)

    # (3) lineitem with a constant-quantity group next to a normal one
    con.execute(f"""
        COPY (SELECT 1::BIGINT AS l_orderkey, 1::BIGINT AS l_partkey,
                     1::BIGINT AS l_suppkey, 1::INT AS l_linenumber,
                     CASE WHEN i < 4 THEN 5.0
                          ELSE 1.0 + i END AS l_quantity,
                     10.0 + i AS l_extendedprice,
                     0.0 AS l_discount, 0.0 AS l_tax,
                     CASE WHEN i < 4 THEN 'C' ELSE 'N' END AS l_returnflag,
                     'O' AS l_linestatus,
                     TIMESTAMP '2024-01-01 00:00:00' AS l_shipdate
              FROM range(8) t(i))
        TO '{sf}/lineitem.parquet' (FORMAT parquet)""")
    spec = specs["price_quantity_correlation"]
    assert_matches(spec.fn(spark, sf), run_oracle(spec.oracle, sf),
                   "price_quantity_correlation")

    # (2) one ASIA year whose two line items cancel to zero cents
    con.execute(f"""
        COPY (SELECT i AS c_custkey, 'c' AS c_name, 0::INT AS c_nationkey,
                     0.0 AS c_acctbal, 'BUILDING' AS c_mktsegment
              FROM range(2) t(i))
        TO '{sf}/customer.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT 0::INT AS n_nationkey, 'ZERONATION' AS n_name,
                     0::INT AS n_regionkey)
        TO '{sf}/nation.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT 0::INT AS r_regionkey, 'ASIA' AS r_name)
        TO '{sf}/region.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT i AS o_orderkey, i % 2 AS o_custkey,
                     'O' AS o_orderstatus, 1.0 AS o_totalprice,
                     TIMESTAMP '1996-06-01 00:00:00' AS o_orderdate,
                     '1-URGENT' AS o_orderpriority FROM range(2) t(i))
        TO '{sf}/orders.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT i AS l_orderkey, 1::BIGINT AS l_partkey,
                     1::BIGINT AS l_suppkey, 1::INT AS l_linenumber,
                     1.0 AS l_quantity,
                     CASE WHEN i = 0 THEN 42.0
                          ELSE -42.0 END AS l_extendedprice,
                     0.0 AS l_discount, 0.0 AS l_tax, 'N' AS l_returnflag,
                     'O' AS l_linestatus,
                     TIMESTAMP '1996-06-01 00:00:00' AS l_shipdate
              FROM range(2) t(i))
        TO '{sf}/lineitem.parquet' (FORMAT parquet)""")
    spec = specs["asia_market_share"]
    assert_matches(spec.fn(spark, sf), run_oracle(spec.oracle, sf),
                   "asia_market_share")

    # the crash class behind (2) and (3), demonstrated: ANSI Spark
    # hard-fails DOUBLE division by zero where DuckDB returns NULL
    with pytest.raises(pyspark.errors.PySparkException,
                       match="DIVIDE_BY_ZERO"):
        spark.range(1).select(
            F.col("id").cast("double") / F.lit(0.0)).collect()

    # (2b) share SATURATION (r14 widened-domain sweep): ASIA revenue
    # 1.6e13 cents over a NEAR-cancelling +1-cent total puts
    # |share|*1e6 past int64, where Spark's floor(double) silently
    # saturates at 2^63-1 while DuckDB's floor stays double; the
    # quantization now branches to the raw double on both sides.
    con.execute(f"""
        COPY (SELECT * FROM (VALUES (0, 'ASIA'), (1, 'EUROPE'))
              t(r_regionkey, r_name))
        TO '{sf}/region.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT * FROM (VALUES (0, 'ANATION', 0), (1, 'ENATION', 1))
              t(n_nationkey, n_name, n_regionkey))
        TO '{sf}/nation.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT * FROM (VALUES
                (0::BIGINT, 'a', 0, 0.0, 'BUILDING'),
                (1::BIGINT, 'e', 1, 0.0, 'BUILDING'))
              t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment))
        TO '{sf}/customer.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT i AS o_orderkey, i % 2 AS o_custkey,
                     'O' AS o_orderstatus, 1.0 AS o_totalprice,
                     TIMESTAMP '1993-06-01 00:00:00' AS o_orderdate,
                     '1-URGENT' AS o_orderpriority FROM range(17) t(i))
        TO '{sf}/orders.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT i AS l_orderkey, 1::BIGINT AS l_partkey,
                     1::BIGINT AS l_suppkey, 1::INT AS l_linenumber,
                     1.0 AS l_quantity,
                     CASE WHEN i = 16 THEN 0.01
                          WHEN i % 2 = 0 THEN 2.0e10
                          ELSE -2.0e10 END AS l_extendedprice,
                     0.0 AS l_discount, 0.0 AS l_tax, 'N' AS l_returnflag,
                     'O' AS l_linestatus,
                     TIMESTAMP '1993-06-01 00:00:00' AS l_shipdate
              FROM range(17) t(i))
        TO '{sf}/lineitem.parquet' (FORMAT parquet)""")
    spec = specs["asia_market_share"]
    assert_matches(spec.fn(spark, sf), run_oracle(spec.oracle, sf),
                   "asia_market_share")
    row = spec.fn(spark, sf).collect()[0]
    assert row.asia_share > 9e12, "fixture must exercise the raw branch"


def test_percentile_bounds_and_null_priority_cross_engine(spark, tmp_path):
    """r14 adversarial TPC-H sweep, findings on hostile orders:

    (1) approx_order_percentiles' in-bounds booleans compared the
        sketch's returned ELEMENT against INTERPOLATED quantile
        values at p±0.02 — but the sketch guarantee is about RANKS:
        with a large value gap between adjacent order statistics the
        interpolated band lies strictly between elements, and the
        rank-exact element legitimately falls outside it (the
        booleans went False against the oracle's literal TRUE).
        The check now bounds by the elements at the slack ranks.
    (2) order_scalar_functions' priority_word: DuckDB's
        split_part(NULL, '-', 2) returns '' while Spark propagates
        NULL — the oracle now carries an explicit IS NOT NULL CASE.

    Prove both registered queries match their oracles on a fixture
    with a huge-gap tiny group and NULL priorities, and demonstrate
    both old behaviors."""
    import duckdb

    from mapreduce_experiment_spark.plans.registry import SPECS
    from tests.oracle_util import assert_matches, run_oracle

    sf = str(tmp_path)
    con = duckdb.connect()
    # one 4-row priority group with a ~1e7 gap mid-distribution, plus
    # NULL-priority rows (their own window partition / scalar rows)
    con.execute(f"""
        COPY (SELECT i AS o_orderkey, 1::BIGINT AS o_custkey,
                     'O' AS o_orderstatus,
                     CASE i WHEN 0 THEN 0.00 WHEN 1 THEN 0.01
                            WHEN 2 THEN 10000000.00
                            WHEN 3 THEN 10000000.01
                            ELSE 500.0 + i END AS o_totalprice,
                     TIMESTAMP '2024-01-01 00:00:00' AS o_orderdate,
                     CASE WHEN i >= 4 THEN NULL
                          ELSE '1-URGENT' END AS o_orderpriority
              FROM range(6) t(i))
        TO '{sf}/orders.parquet' (FORMAT parquet)""")

    specs = SPECS()
    for name in ("approx_order_percentiles", "order_scalar_functions"):
        assert_matches(specs[name].fn(spark, sf),
                       run_oracle(specs[name].oracle, sf), name)

    # defect (1), demonstrated: the OLD interpolated-band check fails
    # on the gap group even though the sketch element is rank-exact
    row = (spark.read.parquet(f"{sf}/orders.parquet")
           .where(F.col("o_orderpriority").isNotNull())
           .select(F.round(F.col("o_totalprice") * 100, 0)
                    .cast("long").alias("cents"))
           .agg(F.expr("percentile(cents, array(0.48, 0.52))").alias("band"),
                F.percentile_approx("cents", 0.5, 10_000).alias("ap"))
           ).collect()[0]
    assert not (row.band[0] <= row.ap <= row.band[1]), \
        "expected the old interpolated check to fail on the gap group"

    # defect (2), demonstrated: the engines disagree on NULL input
    duck = con.execute(
        "SELECT split_part(NULL::VARCHAR, '-', 2)").fetchone()[0]
    spark_val = spark.range(1).select(
        F.split_part(F.lit(None).cast("string"), F.lit("-"), F.lit(2))
    ).collect()[0][0]
    assert duck == "" and spark_val is None


def test_param_guards_reject_degenerate_divisors(spark):
    """word_ngrams n < 1 would produce silently meaningless grams, so
    it is rejected at call time."""
    import pytest

    from mapreduce_experiment_spark.functions.textfns import word_ngrams

    with pytest.raises(ValueError, match="n must be"):
        word_ngrams(F.col("x"), 0)
