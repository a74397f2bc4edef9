"""Training-data operator tests: semantics beyond the oracle comparisons
(synthetic duplicates, ANN recall, multimodal plumbing, simhash locality)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from rdflib_r2r_spark.operators import dedup, multimodal, similarity, textstats
from rdflib_r2r_spark.reference_impl import tokens_py

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_exact_dedup_finds_synthetic_dups(spark):
    rows = [
        (1, "the quick brown fox"),
        (2, "The  quick BROWN fox!"),  # same after normalization
        (3, "something else entirely"),
        (4, "the quick brown fox"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.exact_dup_groups(df).collect()
    assert len(out) == 1
    assert out[0]["n_dups"] == 3 and out[0]["keep"] == 1


def test_lsh_pairs_are_near_dups(spark, docs):
    pairs = dedup.lsh_dup_pairs(docs).collect()
    assert len(pairs) > 0
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    # verify with exact jaccard on true shingle sets
    from rdflib_r2r_spark.reference_impl import tokens_py

    def sh(t):
        toks = tokens_py(t)
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    for r in pairs:
        a, b = sh(texts[r["a"]]), sh(texts[r["b"]])
        jac = len(a & b) / len(a | b)
        assert jac > 0.2, (r["a"], r["b"], jac, r["sim_est"])


def test_ngram_jaccard_bounds(spark, docs):
    pairs = dedup.lsh_dup_pairs(docs).select("a", "b")
    out = dedup.ngram_jaccard_pairs(docs, pairs).collect()
    assert len(out) == pairs.count()
    assert all(0.0 <= r["jaccard"] <= 1.0 for r in out)


def test_simhash_locality(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy cat again and again"),
        (3, "completely different words about spark shuffles and partitions"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r["key"]: r["simhash"] for r in dedup.simhash(df).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sigs[1], sigs[2]) < ham(sigs[1], sigs[3])


def test_ann_lsh_recall_vs_brute_force(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    probes = [1, 7, 42]
    exact = similarity.brute_force_topk(emb, probes, k=10).collect()
    approx = similarity.ann_lsh_topk(emb, probes, k=10, bits=4).collect()
    exact_set = {(r["probe_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["probe_id"], r["vec_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 4-bit SRP buckets keep ~1/16 of corpus; same-bucket bias should beat that
    assert recall >= 0.2, recall
    # every approx hit must carry the exact cosine score
    exact_scores = {(r["probe_id"], r["vec_id"]): r["cosine"] for r in exact}
    for r in approx:
        key = (r["probe_id"], r["vec_id"])
        if key in exact_scores:
            assert abs(r["cosine"] - exact_scores[key]) < 1e-9


def test_multimodal_meta_plumbing(spark, docs):
    with_img = multimodal.attach_fake_images(docs)
    meta = multimodal.decode_image_meta(with_img)
    rows = meta.collect()
    assert len(rows) == docs.count()
    for r in rows[:20]:
        assert r["format"] == ("png" if r["doc_id"] % 2 == 0 else "jpeg")
        assert r["width"] == (r["doc_id"] % 64 + 1) * 10
        assert r["height"] == (r["doc_id"] % 48 + 1) * 10
        assert r["n_bytes"] == (
            multimodal.PNG_LEN if r["doc_id"] % 2 == 0 else multimodal.JPEG_LEN
        )
    # the generated bytes really are parseable PNG/JPEG headers
    sample = with_img.orderBy("doc_id").limit(2).collect()
    png_bytes = bytes(sample[0]["image"]) if sample[0]["doc_id"] % 2 == 0 else bytes(sample[1]["image"])
    jpg_bytes = bytes(sample[1]["image"]) if sample[1]["doc_id"] % 2 == 1 else bytes(sample[0]["image"])
    assert png_bytes.startswith(multimodal.PNG_SIG) and png_bytes[12:16] == b"IHDR"
    assert jpg_bytes.startswith(multimodal.JPEG_SOI)
    # corrupt binary -> graceful 'unknown', not a crash
    bad = spark.createDataFrame([(99, bytearray(b"NOTANIMAGE"))], "doc_id long, image binary")
    out = multimodal.decode_image_meta(bad).collect()[0]
    assert out["format"] == "unknown" and out["width"] is None


def test_frame_sample_stub(spark, docs):
    with_img = multimodal.attach_fake_images(docs.limit(5))
    frames = multimodal.frame_sample_stub(with_img, every_n=2).collect()
    assert len(frames) > 0
    assert all(r["frame_idx"] % 2 == 0 for r in frames)


def test_text_stats_sane(spark, docs):
    stats = textstats.text_stats(docs).collect()
    for r in stats[:50]:
        assert r["n_tokens"] > 0
        assert 0 <= r["punct_ratio"] <= 1
        assert 0 <= r["stopword_ratio"] <= 1
        assert 0 <= r["quality_score"] <= 1
        assert len(r["fingerprint"]) == 32


def test_audio_meta_plumbing(spark, docs):
    with_audio = multimodal.attach_fake_audio(docs)
    meta = multimodal.decode_audio_meta(with_audio).collect()
    assert len(meta) == docs.count()
    for r in meta[:20]:
        assert r["format"] == "wav"
        assert r["sample_rate"] == (r["doc_id"] % 5 + 4) * 2000
        assert r["channels"] == r["doc_id"] % 2 + 1
        assert r["bits_per_sample"] == 16
        assert r["n_samples"] == multimodal.WAV_DATA_LEN // (r["channels"] * 2)
    # the bytes really are a canonical RIFF/WAVE stream
    b = bytes(with_audio.limit(1).collect()[0]["audio"])
    assert b[0:4] == b"RIFF" and b[8:12] == b"WAVE" and b[12:16] == b"fmt "
    # corrupt input degrades gracefully
    bad = spark.createDataFrame([(1, bytearray(b"NOTAUDIO"))], "doc_id long, audio binary")
    assert multimodal.decode_audio_meta(bad).collect()[0]["format"] == "unknown"


def test_ann_ivf_recall_vs_brute_force(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    probes = [1, 7, 42]
    exact = similarity.brute_force_topk(emb, probes, k=10).collect()
    approx = similarity.ann_ivf_topk(emb, probes, k=10, n_centroids=16, nprobe=4).collect()
    exact_set = {(r["probe_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["probe_id"], r["vec_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # nprobe/C = 1/4 of lists searched; locality should beat random 0.25
    assert recall >= 0.3, recall
    exact_scores = {(r["probe_id"], r["vec_id"]): r["cosine"] for r in exact}
    for r in approx:
        key = (r["probe_id"], r["vec_id"])
        if key in exact_scores:
            assert abs(r["cosine"] - exact_scores[key]) < 1e-9


def test_dedup_clusters_multi_cluster_fixture(spark):
    # two multi-doc near-dup clusters + two singletons, hand-built so the
    # expected clustering is known exactly: cluster_id = min doc_id in the
    # cluster, keep only for the representative, singletons keep themselves
    base_a = "the quick brown fox jumps over the lazy dog again and again every single day"
    base_b = "completely different content about spark partitions shuffles and broadcast joins at scale"
    rows = [
        (1, base_a),
        (2, base_a + " extra"),          # near-dup of 1
        (4, base_a),                      # exact dup of 1
        (5, base_b),
        (6, base_b + " ok"),             # near-dup of 5
        (3, "a singleton document with its own unique words nothing shared here at all today"),
        (7, "another lonely text talking about entirely unrelated matters like cooking pasta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["cluster_id"], r["keep"])
           for r in dedup.dedup_clusters(df).collect()}
    assert len(out) == 7  # one row per document, singletons included
    assert out[1] == (1, True)
    assert out[2] == (1, False)
    assert out[4] == (1, False)
    assert out[5] == (5, True)
    assert out[6] == (5, False)
    assert out[3] == (3, True)
    assert out[7] == (7, True)


def test_dedup_clusters_matches_duckdb_oracle(spark, docs):
    import duckdb

    got = {
        (r["doc_id"], r["cluster_id"], r["keep"])
        for r in dedup.dedup_clusters(docs).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    want = set(map(tuple, con.execute(dedup.dedup_clusters_sql()).fetchall()))
    assert got == want


def test_embedding_near_dup_pairs_finds_planted_dups(spark):
    # plant two near-identical vector pairs + noise; the SRP-bucketed join
    # must find the planted pairs (tiny angle -> same bucket w.h.p.)
    import math
    dim = 8
    base1 = [math.sin(i * 0.7) for i in range(dim)]
    base2 = [math.cos(i * 1.3) for i in range(dim)]
    rows = [
        (1, base1),
        (2, [v * 1.001 + 0.0005 for v in base1]),   # near-dup of 1
        (3, base2),
        (4, [v * 0.999 - 0.0005 for v in base2]),   # near-dup of 3
        (5, [(-1.0) ** i * (i + 1.0) for i in range(dim)]),  # unrelated
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r["a"], r["b"]): r["cosine"]
           for r in similarity.embedding_near_dup_pairs(df, threshold=0.99, dim=dim).collect()}
    assert (1, 2) in got and (3, 4) in got
    assert all(c >= 0.99 for c in got.values())
    assert (1, 3) not in got and (1, 5) not in got


def test_embedding_near_dup_matches_duckdb(spark):
    import duckdb

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = {
        (r["a"], r["b"], r["cosine"])
        for r in similarity.embedding_near_dup_pairs(emb, threshold=0.3).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{SF}/embeddings.parquet'")
    want = set(map(tuple, con.execute(
        similarity.embedding_near_dup_pairs_sql(threshold=0.3)
    ).fetchall()))
    assert got == want
    assert got, "threshold too high for the synthetic corpus — hollow oracle"


def test_embedding_near_dup_banded_recall_vs_brute_force(spark):
    # plant 150 near-dup pairs at cosine ~0.91/~0.95 among random unit
    # vectors; banded 6x6 SRP must recover >= 0.9 of the brute-force
    # ground-truth pairs at threshold 0.9 (the single 8-bit table's
    # expected recall here is ~0.3 — this is the round-6 banding fix)
    import numpy as np

    rng = np.random.RandomState(0)
    dim, n_base = 64, 150
    rows = []
    for i in range(n_base):
        v = rng.randn(dim)
        v /= np.linalg.norm(v)
        u = rng.randn(dim)
        u -= u.dot(v) * v
        u /= np.linalg.norm(u)
        # cos ~0.905 / ~0.95 (0.905 keeps borderline pairs safely on one
        # side of the 0.9 cut so numpy-vs-Spark float noise can't flip
        # ground-truth membership)
        alpha = 0.47 if i % 2 == 0 else 0.33
        w = v + alpha * u
        w /= np.linalg.norm(w)
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in w]))
    mat = np.array([r[1] for r in rows])
    sims = mat @ mat.T
    truth = {
        (rows[i][0], rows[j][0])
        for i in range(len(rows)) for j in range(i + 1, len(rows))
        if round(sims[i, j], 6) >= 0.9
    }
    assert len(truth) >= n_base  # the planted pairs are all in the truth

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r["a"], r["b"])
           for r in similarity.embedding_near_dup_pairs(
               df, threshold=0.9, dim=dim).collect()}
    assert got <= truth  # exact-cosine verification: no false positives
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"banded SRP recall {recall:.3f} < 0.9"


def test_rolling_fingerprint_matches_duckdb_and_python(spark, docs):
    import duckdb

    got = {
        (r["doc_id"], r["fingerprint"], r["n_windows"])
        for r in textstats.rolling_fingerprint(docs).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    want = set(map(tuple, con.execute(textstats.rolling_fingerprint_sql()).fetchall()))
    assert got == want

    # python mirror on one row pins the algorithm itself
    import hashlib as hl
    row = docs.orderBy("doc_id").first()
    toks = tokens_py(row["text"])
    P, B = textstats.ROLL_P, textstats.ROLL_B
    th = [int(hl.md5(t.encode()).hexdigest()[:15], 16) % P for t in toks]
    acc = 0
    for h in th:
        acc = (acc * B + h) % P
    mine = [r for r in got if r[0] == row["doc_id"]][0]
    assert mine[1] == acc


def test_frame_sample_counts(spark, docs):
    out = multimodal.frame_sample_stub(
        multimodal.attach_fake_images(docs), every_n=10
    )
    per_doc = {r["doc_id"]: r["n"] for r in
               out.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_docs = docs.count()
    assert len(per_doc) == n_docs
    # PNG docs (even id): 65//16 = 4 frames -> idx 0 only... every_n=10 > 4
    # so exactly one sampled frame (idx 0) per doc either format
    assert all(v == 1 for v in per_doc.values())


def test_repetition_stats_fixture(spark):
    rows = [
        (1, "a a a a"),          # 4 tokens 1 distinct; 2-grams all "a a"
        (2, "x y z"),            # no repetition; tie-break min gram "x y"
        (3, ""),                 # empty doc
        (4, "solo"),             # 1 token -> zero 2-grams
        (5, "p q p q p"),        # grams: pq qp pq qp -> 2 groups of 2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in textstats.repetition_stats(df).collect()}
    assert got[1]["n_tokens"] == 4 and got[1]["dup_token_frac"] == 0.75
    assert got[1]["n_ngrams"] == 3 and got[1]["dup_ngram_frac"] == round(2 / 3, 6)
    assert got[1]["top_ngram_frac"] == 1.0 and got[1]["top_ngram"] == "a a"
    assert got[2]["dup_ngram_frac"] == 0.0 and got[2]["top_ngram"] == "x y"
    assert got[2]["top_ngram_frac"] == 0.5
    assert got[3]["n_tokens"] == 0 and got[3]["n_ngrams"] == 0
    assert got[3]["dup_token_frac"] == 0.0 and got[3]["top_ngram"] is None
    assert got[4]["n_ngrams"] == 0 and got[4]["top_ngram"] is None
    assert got[5]["n_ngrams"] == 4 and got[5]["dup_ngram_frac"] == 0.5
    assert got[5]["top_ngram"] == "p q"  # tie with "q p": lexicographic min


def test_repetition_stats_matches_duckdb(spark, docs):
    import duckdb

    got = {tuple(r) for r in textstats.repetition_stats(docs).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    want = set(map(tuple, con.execute(textstats.repetition_stats_sql()).fetchall()))
    assert got == want


def test_decontaminate_fixture(spark):
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),   # benchmark doc (id % 5 == 0)
            (1, "x alpha beta gamma y"),     # shares 3-gram "alpha beta gamma"
            (2, "one two three four"),       # shares nothing
            (3, "tiny doc"),                 # < 3 tokens -> zero grams
        ],
        "doc_id long, text string",
    )
    bench = docs.filter(F.col("doc_id") % 5 == 0)
    got = {r["doc_id"]: r.asDict()
           for r in textstats.decontaminate(docs, bench).collect()}
    assert len(got) == 4  # every doc survives, even the gram-less one
    assert got[0]["contaminated"] and got[0]["hit_ratio"] == 1.0
    assert got[1]["contaminated"] and got[1]["n_hit"] == 1 and got[1]["n_grams"] == 3
    assert not got[2]["contaminated"] and got[2]["n_hit"] == 0
    assert got[3]["n_grams"] == 0 and not got[3]["contaminated"]


def test_decontaminate_matches_duckdb(spark, docs):
    import duckdb

    bench = docs.filter(F.col("doc_id") % 25 == 0)
    got = {tuple(r) for r in textstats.decontaminate(docs, bench).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    want = set(map(tuple, con.execute(textstats.decontaminate_sql()).fetchall()))
    assert got == want


def test_quality_filter_fixture(spark):
    rows = [
        # clean: 40 distinct-ish tokens incl. stopwords, no punct
        (1, " ".join(f"the data w{i}" for i in range(14))),
        (2, "short doc"),                          # too_short (+low_stopword)
        (3, " ".join(["spam"] * 60)),              # repetitive + low_stopword
        (4, " ".join(f"the b{i}" for i in range(20)) + " " + "!?;#&%" * 10),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in textstats.quality_filter(df).collect()}
    assert got[1]["keep"] and got[1]["reasons"] == ""
    assert not got[2]["keep"] and "too_short" in got[2]["reasons"]
    assert set(got[3]["reasons"].split(",")) == {"repetitive", "low_stopword"}
    # fixed rule order in the reasons string, not set order
    assert got[3]["reasons"] == "low_stopword,repetitive"
    assert "high_punct" in got[4]["reasons"]


def test_quality_filter_matches_duckdb(spark, docs):
    import duckdb

    got = {tuple(r) for r in textstats.quality_filter(docs).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    want = set(map(tuple, con.execute(textstats.quality_filter_sql()).fetchall()))
    assert got == want


def test_segment_dedup_fixture(spark):
    # seg_tokens=2 -> segments: doc1 [ab, cd], doc2 [ab, ef], doc3 [gh]
    # "a b" occurs in docs 1 and 2 -> duplicate everywhere it appears
    rows = [
        (1, "a b c d"),
        (2, "a b e f"),
        (3, "g h"),
        (4, ""),  # empty doc: zero segments, md5('') fingerprint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in dedup.segment_dedup(df, seg_tokens=2).collect()}
    assert got[1]["n_segs"] == 2 and got[1]["n_dup_segs"] == 1
    assert got[1]["dup_seg_frac"] == 0.5
    assert got[2]["n_dup_segs"] == 1
    assert got[3]["n_dup_segs"] == 0 and got[3]["dup_seg_frac"] == 0.0
    assert got[4]["n_segs"] == 0
    import hashlib

    assert got[4]["kept_fingerprint"] == hashlib.md5(b"").hexdigest()
    # doc1 keeps "c d" only; fingerprint = md5("c d")
    assert got[1]["kept_fingerprint"] == hashlib.md5(b"c d").hexdigest()
    # odd-length doc: trailing short segment still counts
    got5 = {r["doc_id"]: r.asDict()
            for r in dedup.segment_dedup(
                spark.createDataFrame([(5, "x y z")], "doc_id long, text string"),
                seg_tokens=2).collect()}
    assert got5[5]["n_segs"] == 2  # ["x y", "z"]


def test_segment_dedup_matches_duckdb(spark, docs):
    import duckdb

    got = {tuple(r) for r in dedup.segment_dedup(docs).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    want = set(map(tuple, con.execute(dedup.segment_dedup_sql()).fetchall()))
    assert got == want


def test_pii_stats_fixture(spark):
    from rdflib_r2r_spark.operators import pii

    rows = [
        (1, "mail me at jane.doe+x@sub.example.org today"),
        (2, "call 415-555-0199 or 415.555.0198"),
        (3, "server at 192.168.0.1 and 10.0.0.255"),
        (4, "clean text with no contact info"),
        (5, "combo a@b.io 212-555-1234 127.0.0.1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in pii.pii_stats(df).collect()}
    assert got[1]["n_emails"] == 1 and got[1]["any_pii"]
    assert got[2]["n_phones"] == 2
    assert got[3]["n_ipv4"] == 2 and got[3]["n_emails"] == 0
    assert not got[4]["any_pii"]
    assert (got[5]["n_emails"], got[5]["n_phones"], got[5]["n_ipv4"]) == (1, 1, 1)
    # redaction fingerprint changes text iff pii present
    import hashlib

    assert got[4]["redacted_fingerprint"] == hashlib.md5(rows[3][1].encode()).hexdigest()
    red5 = "combo <EMAIL> <PHONE> <IP>"
    assert got[5]["redacted_fingerprint"] == hashlib.md5(red5.encode()).hexdigest()


def test_pii_v2_checksum_gated_counts(spark):
    # valid card/IBAN/SSN must count; shape-matched checksum-failing
    # near-misses must NOT count (they still redact, by design)
    from rdflib_r2r_spark.operators import pii

    def _py_luhn(d):
        tot = 0
        for i, ch in enumerate(reversed(d)):
            v = int(ch)
            if i % 2 == 1:
                v *= 2
                if v > 9:
                    v -= 9
            tot += v
        return tot % 10 == 0

    def _py_iban(x):
        r = x[4:] + x[:4]
        acc = 0
        for c in r:
            acc = (acc * 10 + int(c)) % 97 if c.isdigit() \
                else (acc * 100 + ord(c) - 55) % 97
        return acc == 1

    # the committed literals really are what they claim
    for c in pii.CC_VALID:
        assert _py_luhn(c.replace(" ", "").replace("-", "")), c
    for c in pii.CC_NEAR_MISS:
        assert not _py_luhn(c.replace(" ", "").replace("-", "")), c
    for i in pii.IBAN_VALID:
        assert _py_iban(i), i
    for i in pii.IBAN_NEAR_MISS:
        assert not _py_iban(i), i

    rows = (
        [(100 + k, f"pay with {c} now") for k, c in enumerate(pii.CC_VALID)]
        + [(200 + k, f"pay with {c} now") for k, c in enumerate(pii.CC_NEAR_MISS)]
        + [(300 + k, f"wire to {i} ok") for k, i in enumerate(pii.IBAN_VALID)]
        + [(400 + k, f"wire to {i} ok") for k, i in enumerate(pii.IBAN_NEAR_MISS)]
        + [(500 + k, f"ssn is {s} .") for k, s in enumerate(pii.SSN_VALID)]
        + [(600 + k, f"ssn is {s} .") for k, s in enumerate(pii.SSN_NEAR_MISS)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in pii.pii_stats(df).collect()}
    for k in range(5):
        assert got[100 + k]["n_ccn"] == 1 and got[100 + k]["any_pii"]
        assert got[200 + k]["n_ccn"] == 0 and not got[200 + k]["any_pii"]
        assert got[300 + k]["n_iban"] == 1
        assert got[400 + k]["n_iban"] == 0 and not got[400 + k]["any_pii"]
        assert got[500 + k]["n_ssn"] == 1
        assert got[600 + k]["n_ssn"] == 0 and not got[600 + k]["any_pii"]
    # near-misses are still redacted (conservative shape-based scrub)
    import hashlib

    assert got[200]["redacted_fingerprint"] == hashlib.md5(
        b"pay with <CCN> now").hexdigest()
    assert got[600]["redacted_fingerprint"] == hashlib.md5(
        b"ssn is <SSN> .").hexdigest()

    # DuckDB twin agrees on the checksum-gated columns
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, '{t}')" for i, t in rows)
        + ") t(doc_id, text)"
    )
    want = {r[0]: r for r in con.execute(pii.pii_stats_sql()).fetchall()}
    for i, _ in rows:
        g = got[i]
        assert (g["n_ccn"], g["n_iban"], g["n_ssn"], g["any_pii"],
                g["redacted_fingerprint"]) == \
            (want[i][4], want[i][5], want[i][6], want[i][7], want[i][8])


def test_pii_stats_matches_duckdb(spark, docs):
    import duckdb

    from rdflib_r2r_spark.operators import pii

    withpii = docs.select(
        "doc_id",
        pii.synthetic_pii_col(F.col("text"), F.col("doc_id")).alias("text"),
    )
    got = {tuple(r) for r in pii.pii_stats(withpii).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    con.execute(
        f"CREATE VIEW docs_pii AS SELECT doc_id, {pii.synthetic_pii_sql()} AS text FROM documents"
    )
    want = set(map(tuple, con.execute(pii.pii_stats_sql(table="docs_pii")).fetchall()))
    assert got == want


def test_mixture_sample_deterministic(spark, docs):
    from rdflib_r2r_spark.operators import sampling

    rates = {"en": 0.9, "zh": 0.1}
    out = sampling.mixture_sample(docs, rates, default_rate=0.0)
    a = {tuple(r) for r in out.collect()}
    # stable under repartitioning — the property sampleBy() lacks
    b = {tuple(r) for r in sampling.mixture_sample(
        docs.repartition(13), rates, default_rate=0.0).collect()}
    assert a == b
    rows = {r["doc_id"]: r for r in out.collect()}
    langs = {r["doc_id"]: r["lang"] for r in docs.select("doc_id", "lang").collect()}
    kept_en = sum(1 for d, r in rows.items() if langs[d] == "en" and r["keep"])
    n_en = sum(1 for l in langs.values() if l == "en")
    assert 0.7 * n_en <= kept_en <= n_en  # ~0.9 rate
    # default 0.0: non-en/zh strata keep nothing
    assert all(not r["keep"] for d, r in rows.items() if langs[d] not in rates)


def test_mixture_sample_matches_duckdb(spark, docs):
    import duckdb

    from rdflib_r2r_spark.operators import sampling

    rates = {"en": 0.9, "de": 0.5, "fr": 0.25, "zh": 0.1}
    got = {tuple(r) for r in sampling.mixture_sample(docs, rates, 0.05).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    want = set(map(tuple, con.execute(
        sampling.mixture_sample_sql(rates, 0.05)).fetchall()))
    assert got == want


def test_mixture_sample_tokens_budget_semantics(spark, docs):
    from rdflib_r2r_spark.operators import sampling

    budgets = {"en": 3000.0, "zh": 1.0}
    out = sampling.mixture_sample_tokens(docs, budgets, default_budget=0.0)
    rows = sorted(out.collect(), key=lambda r: (r["stratum"], r["draw"],
                                                r["doc_id"]))
    by_stratum: dict = {}
    for r in rows:
        by_stratum.setdefault(r["stratum"], []).append(r)
    for stratum, rs in by_stratum.items():
        budget = budgets.get(stratum, 0.0)
        cum = 0
        for r in rs:
            # keep iff the running total BEFORE this doc is under budget:
            # kept docs are a prefix of the draw order, the crossing doc
            # is kept, overshoot < 1 doc
            assert r["keep"] == (cum < budget), (stratum, r)
            cum += r["n_subword_tokens"]
        if budget > 0 and rs:
            assert rs[0]["keep"]  # >=1 doc per funded stratum
        kept_tokens = sum(r["n_subword_tokens"] for r in rs if r["keep"])
        if budget > 0 and cum > budget:
            # saturated stratum: budget reached, overshoot bounded by the
            # crossing doc
            assert kept_tokens >= budget
            assert kept_tokens - budget < max(
                r["n_subword_tokens"] for r in rs)
    # default budget 0: unfunded strata keep nothing
    assert all(not r["keep"] for r in rows
               if r["stratum"] not in budgets)
    # stable under repartitioning
    again = sorted(
        sampling.mixture_sample_tokens(
            docs.repartition(13), budgets, default_budget=0.0).collect(),
        key=lambda r: (r["stratum"], r["draw"], r["doc_id"]))
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_mixture_sample_tokens_matches_duckdb(spark, docs):
    import duckdb

    from rdflib_r2r_spark.operators import sampling

    budgets = {"en": 20000.0, "de": 4000.0, "fr": 1500.0, "zh": 300.0}
    got = {tuple(r) for r in sampling.mixture_sample_tokens(
        docs, budgets, 500.0).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    want = set(map(tuple, con.execute(
        sampling.mixture_sample_tokens_sql(budgets, 500.0)).fetchall()))
    assert got == want


def test_chunk_documents_fixture(spark):
    rows = [
        (1, " ".join(f"w{i}" for i in range(10))),  # 10 toks, 1 chunk @ seq 32
        (2, " ".join(f"w{i}" for i in range(40))),  # 40 toks: chunks @1, @25
        (3, ""),                                     # tokenless -> no chunks
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = textstats.chunk_documents(df).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc.get(1, [])) == 1 and by_doc[1][0]["n_tokens"] == 10
    c2 = sorted(by_doc[2], key=lambda r: r["chunk_idx"])
    assert [r["start_tok"] for r in c2] == [1, 25]
    assert [r["n_tokens"] for r in c2] == [32, 16]
    assert 3 not in by_doc
    # overlap: chunk 1 starts at token 25, inside chunk 0's [1, 32] window
    import hashlib

    toks = rows[1][1].split()
    assert c2[1]["chunk_hash"] == hashlib.md5(
        " ".join(toks[24:56]).encode()).hexdigest()


def test_chunk_documents_matches_duckdb(spark, docs):
    import duckdb

    got = {tuple(r) for r in textstats.chunk_documents(docs).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    want = set(map(tuple, con.execute(textstats.chunk_documents_sql()).fetchall()))
    assert got == want


def test_normalize_url_rules(spark):
    from rdflib_r2r_spark.operators import urls

    cases = [
        ("HTTP://Example.COM:80/Path?b=2&a=1#frag", "http://example.com/Path?a=1&b=2"),
        ("https://h:443/x/", "https://h/x"),
        ("http://h/p?utm_source=x&utm_campaign=y", "http://h/p"),
        ("http://h/p?fbclid=z", "http://h/p"),
        ("http://h/p?fbclid", "http://h/p"),        # valueless tracking param
        ("http://h/p?utm_source&a=1", "http://h/p?a=1"),
        ("http://h/p?utm=1&gclid", "http://h/p?utm=1"),  # bare "utm" is NOT utm_*
        ("http://h/", "http://h/"),          # root slash survives
        ("http://h:8080/p", "http://h:8080/p"),  # non-default port kept
        ("http://h/P?Z=1&a=2", "http://h/P?Z=1&a=2"),  # byte-wise sort: Z < a
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)],
                               "doc_id long, url string")
    got = {r["doc_id"]: r["norm"] for r in df.select(
        "doc_id", urls.normalize_url(F.col("url")).alias("norm")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i], want)


def test_url_dedup_matches_duckdb(spark, docs):
    import duckdb

    from rdflib_r2r_spark.operators import urls

    d = docs.select("doc_id",
                    urls.synthetic_url_col(F.col("doc_id")).alias("url"))
    got = {tuple(r) for r in urls.url_dedup(d).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    want = set(map(tuple, con.execute(
        urls.url_dedup_sql(url_expr=urls.synthetic_url_sql())).fetchall()))
    assert got == want
    # every canonical group keeps exactly one representative
    import collections

    per = collections.Counter(r[1] for r in got if r[3])
    assert all(v == 1 for v in per.values())


# -- char-bigram LM perplexity (operators/lm.py) ---------------------------------


def test_lm_score_fixture(spark):
    import math

    from rdflib_r2r_spark.operators import lm

    rows = [
        (0, "ababab"),   # training slice (doc_id % 5 == 0)
        (5, "ababab"),   # training slice
        (1, "ababab"),   # fluent wrt the LM -> low bits, keep
        (2, "qqq"),      # every context unseen -> log2(37) bits/gram, drop
        (3, ""),         # no bigrams -> zero cost, keep
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in lm.lm_score(df).collect()}

    def mu(c, cc):
        # same half-up micro-bit rounding as both engines (values positive)
        return int(1e6 * (math.log2(cc + 37) - math.log2(c + 1)) + 0.5)

    # training counts over docs 0 and 5: ab=6, ba=4; ctx a=6, b=4
    lp_ab, lp_ba = mu(6, 6), mu(4, 4)
    assert got[1]["n_bigrams"] == 5
    assert got[1]["lp_e6_sum"] == 3 * lp_ab + 2 * lp_ba
    assert got[1]["ppl_keep"] is (
        got[1]["lp_e6_sum"] <= lm.THRESH_BITS_E6 * 5
    )
    unseen = mu(0, 0)  # log2(37) micro-bits
    assert got[2]["lp_e6_sum"] == 2 * unseen
    assert got[2]["ppl_keep"] is False  # unseen-context cost >> threshold
    assert got[3] == {"doc_id": 3, "n_bigrams": 0, "lp_e6_sum": 0,
                      "ppl_keep": True}
    # training docs are scored too (CCNet self-scoring)
    assert got[0] == got[5] | {"doc_id": 0}


# NULL, empty, 1-char and odd-whitespace docs next to fluent ones
LM_EDGE_ROWS = [
    (0, "the quick brown fox"),
    (1, None),
    (2, ""),
    (3, "a"),
    (4, "ab"),
    (5, "Tabs\tand\x0bvertical"),
    (10, "numbers 123 456 mixed"),
    (15, "REPEAT " * 40),
]


def test_lm_score_matches_duckdb(spark, docs):
    import duckdb

    from rdflib_r2r_spark.operators import lm

    got = {tuple(r) for r in lm.lm_score(docs).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    want = set(map(tuple, con.execute(lm.lm_score_sql()).fetchall()))
    assert got == want
    # the gate must discriminate on real fixture docs
    keeps = {k for *_, k in got}
    assert keeps == {True} or len(keeps) == 2

    edge = spark.createDataFrame(LM_EDGE_ROWS, "doc_id long, text string")
    got = {tuple(r) for r in lm.lm_score(edge).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", LM_EDGE_ROWS)
    want = set(map(tuple, con.execute(lm.lm_score_sql()).fetchall()))
    assert got == want
    assert (1, None, 0, None) in got  # NULL text: NULL count and verdict


# -- per-source quota (operators/sampling.py source_cap) -------------------------


def test_source_cap_fixture(spark):
    from rdflib_r2r_spark.operators import sampling

    rows = [(i, "s%d" % (i % 2), 1000 - i) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = sampling.source_cap(df, k=20).collect()
    assert len(out) == 40
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        assert len(rs) == 20
        rs.sort(key=lambda r: r["rk"])
        # rank order = n_chars DESC -> lowest doc_ids of that source
        assert [r["doc_id"] for r in rs] == sorted(
            i for i in range(40) if "s%d" % (i % 2) == src
        )
        assert [r["rk"] for r in rs] == list(range(1, 21))


def test_source_cap_two_stage_equals_single_window(spark, docs):
    from pyspark.sql import Window

    from rdflib_r2r_spark.operators import sampling

    got = {tuple(r) for r in sampling.source_cap(docs, k=7).collect()}
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    want = {
        tuple(r)
        for r in docs.select(
            "doc_id", "source", F.col("n_chars").cast("bigint").alias("n_chars"),
            F.row_number().over(w).cast("bigint").alias("rk"),
        ).filter(F.col("rk") <= 7).collect()
    }
    assert got == want


def test_source_cap_matches_duckdb(spark, docs):
    import duckdb

    from rdflib_r2r_spark.operators import sampling

    got = {tuple(r) for r in sampling.source_cap(docs).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    want = set(map(tuple, con.execute(sampling.source_cap_sql()).fetchall()))
    assert got == want


# -- rare-term keywords (textstats.tfidf_keywords) -------------------------------


def test_tfidf_keywords_fixture(spark):
    rows = [
        (1, "the cat sat"),
        (2, "the dog sat"),
        (3, "the bird flew quickly"),
        (4, "!!!"),  # no tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in textstats.tfidf_keywords(df).collect()}
    # df: the=3 sat=2 cat/dog/bird/flew/quickly=1; rarest-first, token tiebreak
    assert got[1] == {"doc_id": 1, "n_distinct_tokens": 3, "keywords": "cat,sat,the"}
    assert got[2] == {"doc_id": 2, "n_distinct_tokens": 3, "keywords": "dog,sat,the"}
    assert got[3]["keywords"] == "bird,flew,quickly,the"
    assert got[4] == {"doc_id": 4, "n_distinct_tokens": 0, "keywords": ""}


def test_tfidf_keywords_matches_duckdb(spark, docs):
    import duckdb

    got = {tuple(r) for r in textstats.tfidf_keywords(docs).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    want = set(map(tuple, con.execute(textstats.tfidf_keywords_sql()).fetchall()))
    assert got == want


def test_corpus_stats_matches_duckdb(spark, docs):
    import duckdb

    got = [tuple(r) for r in textstats.corpus_stats(docs).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    want = con.execute(textstats.corpus_stats_sql()).fetchall()
    assert got == want
    assert got[0][0] > 0  # n_docs


# -- incremental snapshot diff (dedup.snapshot_diff) ------------------------------


def test_snapshot_diff_fixture(spark):
    rows = [
        (0, "shared doc"),     # old (0%2) AND new (0%3==0 -> NOT new)
        (2, "shared doc"),     # old and new -> retained
        (4, "old only text"),  # old and new? 4%3=1 -> new too; make removed via 6
        (6, "removed text"),   # old only (6%3==0 excludes from new)
        (1, "brand new text"), # new only
        (3, "old odd text"),   # neither old (odd) nor new (3%3==0)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    old = df.filter(F.col("doc_id") % 2 == 0)
    new = df.filter(F.col("doc_id") % 3 != 0)
    by_status = {}
    for r in dedup.snapshot_diff(old, new).collect():
        by_status.setdefault(r["status"], []).append(r)
    # "shared doc": old = {0, 2}, new = {2} -> retained, old_n=2, new_n=1;
    # "old only text" (doc 4) is in both sides too -> retained
    ret = by_status["retained"]
    assert len(ret) == 2
    shared = next(r for r in ret if r["old_n"] == 2)
    assert shared["new_n"] == 1 and shared["old_min_key"] == 0 \
        and shared["new_min_key"] == 2
    assert [r["new_min_key"] for r in by_status["added"]] == [1]
    assert by_status["added"][0]["old_min_key"] is None
    assert by_status["added"][0]["old_n"] == 0
    assert [r["old_min_key"] for r in by_status["removed"]] == [6]
    assert by_status["removed"][0]["new_n"] == 0


def test_snapshot_diff_matches_duckdb(spark, docs):
    import duckdb

    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 3 != 0)
    got = {tuple(r) for r in dedup.snapshot_diff(old, new).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    want = set(map(tuple, con.execute(dedup.snapshot_diff_sql()).fetchall()))
    assert got == want
