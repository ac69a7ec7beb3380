"""LLM-pipeline operator tests: dedup, similarity, text, multimodal —
exercised on constructed data with known duplicates/neighbors."""

import math

import pytest
from pyspark.sql import functions as F

from kafka_connect_morphlines_spark.functions import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = "the quick brown fox jumps over the lazy dog near the river bank tonight"  # 1-word diff
    other = "completely different content about spark query engines and columnar formats"
    rows = [(1, base), (2, base), (3, near), (4, other), (5, "short text"), (6, "")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, dup_docs):
    kept = dedup.exact_dedup(dup_docs).select("doc_id").orderBy("doc_id").collect()
    assert [r["doc_id"] for r in kept] == [1, 3, 4, 5, 6]  # doc 2 == doc 1 dropped


def test_minhash_finds_near_dupes(spark, dup_docs):
    pairs = dedup.minhash_dedup_pairs(dup_docs, threshold=0.5, num_hashes=64, bands=16)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # exact dup always collides
    assert (1, 3) in got or (2, 3) in got  # near dup found
    assert all({a, b} <= {1, 2, 3} for a, b in got)  # no false positives


def test_minhash_deterministic(spark, dup_docs):
    a = sorted(map(tuple, dedup.minhash_dedup_pairs(dup_docs, threshold=0.5).collect()))
    b = sorted(map(tuple, dedup.minhash_dedup_pairs(dup_docs, threshold=0.5).collect()))
    assert a == b


def test_simhash_near_dupes(spark, dup_docs):
    pairs = dedup.simhash_near_dupes(dup_docs, bits=48, max_hamming=6)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert not any(4 in p for p in got)  # unrelated doc stays out


def test_ngram_jaccard_exact_values(spark, dup_docs):
    pairs = dedup.ngram_jaccard_pairs(dup_docs, threshold=0.5)
    vals = {(r["id_a"], r["id_b"]): r["jacc"] for r in pairs.collect()}
    assert vals[(1, 2)] == 1.0
    assert 0.7 < vals[(1, 3)] < 1.0


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),  # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
        (4, [0.7, 0.7, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_exact(spark, vectors):
    out = similarity.brute_force_topk(vectors.filter("vec_id != 0"), [1.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in out] == [1, 4]
    assert out[0]["score"] == pytest.approx(0.9 / math.sqrt(0.81 + 0.01), rel=1e-9)


def test_knn_join_ranks(spark, vectors):
    q = vectors.filter("vec_id = 0")
    c = vectors.filter("vec_id != 0")
    out = similarity.knn_join_topk(q, c, k=3).orderBy("rank").collect()
    assert [(r["query_id"], r["neighbor_id"], r["rank"]) for r in out] == [(0, 1, 1), (0, 4, 2), (0, 2, 3)]


def test_ann_lsh_recall_on_clustered_data(spark):
    # two tight clusters; ANN must return the query's own cluster
    import random

    rnd = random.Random(42)
    rows = []
    for i in range(50):
        rows.append((i, [1.0 + rnd.uniform(-0.05, 0.05), 0.1 * rnd.random(), 0.0, 0.0]))
    for i in range(50, 100):
        rows.append((i, [0.0, 0.0, 1.0 + rnd.uniform(-0.05, 0.05), 0.1 * rnd.random()]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    query = [1.0, 0.05, 0.0, 0.0]
    ann = {r["vec_id"] for r in similarity.ann_topk(df, query, k=10, n_planes=6).collect()}
    brute = {r["vec_id"] for r in similarity.brute_force_topk(df, query, k=10).collect()}
    assert len(ann & brute) >= 8  # high recall on separable clusters
    assert all(v < 50 for v in ann)


def test_embedding_near_dupes(spark):
    rows = [(0, [1.0, 0.0]), (1, [0.999, 0.001]), (2, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = similarity.embedding_near_dupes(df, threshold=0.99, n_planes=4)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(0, 1)}


def test_quality_features_df_matches_column_variant(spark, dup_docs):
    a = textstats.quality_features_df(dup_docs).orderBy("doc_id").collect()
    feats = textstats.quality_features(F.col("text"))
    b = dup_docs.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["unique_token_ratio"].alias("unique_token_ratio"),
        feats["avg_token_len"].alias("avg_token_len"),
    ).orderBy("doc_id").collect()
    for ra, rb in zip(a, b):
        assert ra["n_tokens"] == rb["n_tokens"]
        assert ra["stopword_ratio"] == pytest.approx(rb["stopword_ratio"])
        assert ra["unique_token_ratio"] == pytest.approx(rb["unique_token_ratio"])
        assert ra["avg_token_len"] == pytest.approx(rb["avg_token_len"])


def test_fingerprint_df_matches_column_variant(spark, dup_docs):
    a = {r["doc_id"]: r["fp"] for r in textstats.fingerprint_df(dup_docs, n=4).collect()}
    b = {r["doc_id"]: r["fp"] for r in dup_docs.select("doc_id", textstats.fingerprint(F.col("text"), 4).alias("fp")).collect()}
    assert a == b


def _make_wav(freq_hz: float = 440.0, rate: int = 8000, seconds: float = 0.25, channels: int = 1) -> bytes:
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    n = int(rate * seconds)
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        samples = [int(0.5 * 32767 * math.sin(2 * math.pi * freq_hz * i / rate)) for i in range(n)]
        frames = b"".join(struct.pack("<h", s) * channels for s in samples)
        w.writeframes(frames)
    return buf.getvalue()


def test_extract_audio_features_wav(spark):
    """Real stdlib WAV decode: sample rate / duration from the header, RMS
    and zero-crossing rate from the PCM samples (a 440 Hz sine at 8 kHz
    crosses zero ~2*440 times per second)."""
    from kafka_connect_morphlines_spark.functions.multimodal import extract_audio_features

    df = spark.createDataFrame([(1, _make_wav()), (2, _make_wav(freq_hz=880.0, channels=2))], "media_id long, payload binary")
    got = {r["media_id"]: r for r in extract_audio_features(df).collect()}
    assert got[1]["sample_rate"] == 8000 and got[1]["channels"] == 1
    assert got[1]["duration_s"] == pytest.approx(0.25)
    assert got[1]["rms"] == pytest.approx(0.5 / 2**0.5, rel=0.01)  # sine RMS = A/sqrt(2)
    assert got[1]["zero_crossing_rate"] == pytest.approx(2 * 440 / 8000, rel=0.02)
    assert got[2]["channels"] == 2
    assert got[2]["zero_crossing_rate"] == pytest.approx(2 * 880 / 8000, rel=0.02)


def test_extract_audio_features_non_wav_raises(spark):
    from kafka_connect_morphlines_spark.functions.multimodal import _decode_audio

    with pytest.raises(NotImplementedError):
        _decode_audio(b"\xff\xfb\x90\x00 not a wav")


def test_redact_pii(spark):
    from kafka_connect_morphlines_spark.functions import textclean

    rows = [
        (1, "mail bob.smith+x@example.co.uk or call 555-867-5309 now"),
        (2, "ssn 123-45-6789 from host 192.168.1.77"),
        (3, "nothing sensitive here 12345"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["clean"] for r in df.select("doc_id", textclean.redact_pii(F.col("text")).alias("clean")).collect()}
    assert got[1] == "mail <EMAIL> or call <PHONE> now"
    assert got[2] == "ssn <SSN> from host <IP>"
    assert got[3] == "nothing sensitive here 12345"


def test_strip_html(spark):
    from kafka_connect_morphlines_spark.functions import textclean

    rows = [(1, '<html><body><p class="x">Hello <b>world</b></p>\n<br/>bye</body></html>')]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = df.select(textclean.strip_html(F.col("text")).alias("c")).collect()[0]["c"]
    assert got == "Hello world bye"


def test_repetition_stats(spark):
    from kafka_connect_morphlines_spark.functions import textclean

    rows = [
        (1, "a b a b a b"),       # grams: [a b, b a, a b, b a, a b] -> 2 distinct of 5
        (2, "all words differ ok"),  # 3 grams, all distinct
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_grams"], round(r["dup_gram_frac"], 6)) for r in textclean.repetition_stats_df(df).collect()}
    assert got[1] == (5, round(1 - 2 / 5, 6))
    assert got[2] == (3, 0.0)


def test_word_entropy(spark):
    import math

    from kafka_connect_morphlines_spark.functions import textclean

    rows = [(1, "x x x x"), (2, "a b c d")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["entropy"] for r in textclean.word_entropy_df(df).collect()}
    assert got[1] == pytest.approx(0.0)
    assert got[2] == pytest.approx(math.log(4))


def test_lang_id_markers(spark):
    rows = [
        (1, "the cat sat on the mat and it is happy"),
        (2, "el gato y la casa de los perros"),
        (3, "xyzzy qwerty plugh"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["pred"] for r in df.select("doc_id", textstats.lang_id(F.col("text")).alias("pred")).collect()}
    assert out == {1: "en", 2: "es", 3: "und"}


def test_tokens_contract(spark):
    """Java ``\\s`` separators on both ends and inside, empty tokens
    dropped, NULL stays NULL — all in codegen, no lambda function."""
    cases = [
        ("\talpha beta\n", ["alpha", "beta"]),
        ("\n", []),
        ("", []),
        (" \t\r\n\f\x0b ", []),
        ("a  \t\n b\r\nc", ["a", "b", "c"]),
        ("  lead and trail  ", ["lead", "and", "trail"]),
        ("\xa0nbsp\xa0", ["\xa0nbsp\xa0"]),  # not in Java \s
        (None, None),
    ]
    df = spark.createDataFrame([(i, t) for i, (t, _) in enumerate(cases)], "i int, t string")
    proj = df.select("i", textstats.tokens(F.col("t")).alias("toks"))
    got = {r["i"]: r["toks"] for r in proj.collect()}
    assert [got[i] for i in range(len(cases))] == [want for _, want in cases]
    plan = proj._jdf.queryExecution().executedPlan().toString().lower()
    assert "lambdafunction" not in plan


def test_split_words_matches_tokens(spark):
    """The Python-worker splitter cuts where ``tokens`` does: on Java
    ``\\s`` only, never on Unicode spaces such as U+00A0 or U+3000."""
    texts = ["\talpha beta\n", "\n", "", " \t\r\n\f\x0b ", "a  \t\n b\r\nc", "a\xa0b c", "\u3000x\u2003y\x1c"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    got = {r["i"]: r["toks"] for r in df.select("i", textstats.tokens(F.col("t")).alias("toks")).collect()}
    assert [textstats.split_words(t) for t in texts] == [got[i] for i in range(len(texts))]
    assert textstats.split_words(None) == []


def test_bpe_ish_tokens(spark):
    df = spark.createDataFrame([("hello, world42!",)], "t string")
    out = df.select(textstats.bpe_ish_tokens(F.col("t")).alias("toks")).collect()[0]["toks"]
    assert out == ["hello", ",", "world", "42", "!"]


def test_multimodal_features_deterministic_stub(spark):
    df = spark.createDataFrame([(1, "image/fake", b"payload-bytes")], "media_id long, mime string, payload binary")
    out = multimodal.extract_features(df).collect()[0]
    assert out["byte_len"] == 13
    import hashlib

    digest = hashlib.sha256(b"payload-bytes").digest()
    assert out["sha256"] == hashlib.sha256(b"payload-bytes").hexdigest()
    assert out["feature"] == pytest.approx([b / 255.0 for b in digest[:8]])


def test_multimodal_frame_sampling(spark):
    payload = bytes(range(256)) * 10  # 2560 bytes -> 3 frames at 1024
    df = spark.createDataFrame([(7, payload)], "media_id long, payload binary")
    out = multimodal.sample_frames(df, every_n_bytes=1024).orderBy("frame_idx").collect()
    assert [r["frame_idx"] for r in out] == [0, 1, 2]
    assert bytes(out[0]["frame_payload"]) == payload[:1024]
    assert bytes(out[2]["frame_payload"]) == payload[2048:]


def test_media_metadata_columnar(spark):
    df = spark.createDataFrame([(1, b"abc")], "media_id long, payload binary")
    out = multimodal.media_metadata(df).collect()[0]
    assert out["byte_len"] == 3
    import hashlib

    assert out["sha256"] == hashlib.sha256(b"abc").hexdigest()


def test_ivf_topk_matches_brute_force_on_clusters(spark):
    import random

    rnd = random.Random(7)
    rows = []
    for i in range(60):
        rows.append((i, [1.0 + rnd.uniform(-0.02, 0.02), rnd.uniform(0, 0.05), 0.0]))
    for i in range(60, 120):
        rows.append((i, [0.0, rnd.uniform(0, 0.05), 1.0 + rnd.uniform(-0.02, 0.02)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    query = [1.0, 0.02, 0.0]
    ivf = [r["vec_id"] for r in similarity.ivf_topk(df, query, k=10, n_centroids=8, nprobe=4).collect()]
    brute = [r["vec_id"] for r in similarity.brute_force_topk(df, query, k=10).collect()]
    assert len(set(ivf) & set(brute)) >= 8


def test_resize_images_shape_and_determinism(spark):
    """resize_images: 1->1 Arrow plumbing, fixed-size output buffers,
    deterministic bytes for identical payloads."""
    from kafka_connect_morphlines_spark.functions import multimodal

    df = spark.createDataFrame(
        [(1, bytearray(b"imgdata-a")), (2, bytearray(b"imgdata-a")), (3, bytearray(b"other"))],
        "media_id long, payload binary",
    )
    out = multimodal.resize_images(df, width=16, height=8).collect()
    assert len(out) == 3
    by_id = {r["media_id"]: r for r in out}
    assert all(len(r["resized"]) == 16 * 8 for r in out)
    assert all((r["width"], r["height"]) == (16, 8) for r in out)
    assert bytes(by_id[1]["resized"]) == bytes(by_id[2]["resized"])  # same payload -> same bytes
    assert bytes(by_id[1]["resized"]) != bytes(by_id[3]["resized"])


def test_hashed_linear_score_derived_and_weight_table(spark):
    """hashed_linear_score_df: derived weights are deterministic; a supplied
    (bucket, weight_milli) table overrides them; empty docs keep a row with
    score 0 / label false; sums are exact integer arithmetic."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha alpha"), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textstats.hashed_linear_score_df(df).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[3]["n_tokens"] == 0 and out[3]["score"] == 0.0 and out[3]["label"] is False
    assert out[4]["n_tokens"] == 0 and out[4]["score"] == 0.0
    # deterministic across runs
    again = {r["doc_id"]: r for r in textstats.hashed_linear_score_df(df).collect()}
    assert out[1]["score"] == again[1]["score"]
    # doc 2 repeats one token: its score must equal that token's weight
    assert abs(out[2]["score"] * 2 * 1000 - round(out[2]["score"] * 2 * 1000)) < 1e-9

    # supplied model: every bucket weight +1000 -> every token votes +1
    dim = 4096
    w = spark.createDataFrame([(b, 1000) for b in range(dim)], "bucket long, weight_milli long")
    scored = {r["doc_id"]: r for r in textstats.hashed_linear_score_df(df, weights=w).collect()}
    assert scored[1]["score"] == 1.0 and scored[1]["label"] is True
    assert scored[2]["score"] == 1.0
    assert scored[3]["score"] == 0.0 and scored[3]["label"] is False


def test_canonicalize_url_rules(spark):
    """canonicalize_url: fragment, case, www, default ports, tracking params,
    separator repair, trailing slash; schemeless and null pass-through."""
    from kafka_connect_morphlines_spark.functions import web

    cases = [
        ("HTTP://WWW.Example.COM:80/Path/?utm_source=x&id=3&fbclid=9#frag", "http://example.com/Path?id=3"),
        ("https://Example.com:443/a/", "https://example.com/a"),
        ("https://example.com:8443/a", "https://example.com:8443/a"),  # non-default port kept
        ("http://a.com/?utm_a=1&utm_b=2&utm_c=3", "http://a.com"),
        ("http://a.com/x?gclid=1", "http://a.com/x"),
        ("http://a.com/", "http://a.com"),
        ("http://a.com//", "http://a.com//"),  # '//' tail left alone (scheme guard)
        ("no-scheme/path/?utm_x=1", "no-scheme/path"),
        (None, None),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], "i long, url string")
    got = {r["i"]: r["c"] for r in df.select("i", web.canonicalize_url(F.col("url")).alias("c")).collect()}
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, f"{u!r}: got {got[i]!r}, want {want!r}"


def test_url_dedup_keeps_first(spark):
    from kafka_connect_morphlines_spark.functions import web

    df = spark.createDataFrame(
        [
            (5, "http://A.com/x?utm_s=1"),
            (2, "http://a.com/x/"),
            (9, "http://a.com/x#top"),
            (7, "http://b.com/y"),
        ],
        "doc_id long, url string",
    )
    kept = sorted(r["doc_id"] for r in web.url_dedup(df).collect())
    assert kept == [2, 7]
    keys = {r["canonical_url"]: r for r in web.url_dedup_keys(df).collect()}
    assert keys["http://a.com/x"]["n_copies"] == 3


def test_remove_duplicate_spans(spark):
    """remove_duplicate_spans: corpus-wide first occurrence survives, later
    occurrences (cross-doc and within-doc) are removed, docs rebuild in span
    order, empty docs keep a row."""
    from kafka_connect_morphlines_spark.functions import traindata

    boiler = "a b c d"  # 4-token span, duplicated everywhere
    rows = [
        (1, boiler + " x1 x2 x3 x4"),            # first occurrence of boiler
        (2, boiler + " y1 y2 y3 y4"),            # boiler removed
        (3, "z1 z2 z3 z4 " + boiler),            # boiler at pos 1 removed
        (4, boiler + " " + boiler),              # within-doc repeat: keep pos 0? no - doc 1 owns it
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in traindata.remove_duplicate_spans(df, span_tokens=4).collect()}
    assert out[1]["clean_text"] == boiler + " x1 x2 x3 x4" and out[1]["n_removed"] == 0
    assert out[2]["clean_text"] == "y1 y2 y3 y4" and out[2]["n_removed"] == 1
    assert out[3]["clean_text"] == "z1 z2 z3 z4" and out[3]["n_removed"] == 1
    assert out[4]["clean_text"] == "" and out[4]["n_removed"] == 2
    assert out[5]["clean_text"] == "" and out[5]["n_spans"] == 0 and out[5]["n_removed"] == 0
    assert set(out) == {1, 2, 3, 4, 5}


def test_stratified_sample_exact_k(spark):
    from kafka_connect_morphlines_spark.functions import traindata

    rows = [(i, "g%d" % (i % 3)) for i in range(60)] + [(100, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = traindata.stratified_sample_exact(df, "source", k=5).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["source"], []).append(r["doc_id"])
    assert all(len(v) == 5 for g, v in by_group.items() if g != "tiny")
    assert len(by_group["tiny"]) == 1  # min(k, |group|)
    again = traindata.stratified_sample_exact(df, "source", k=5).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))  # deterministic


def test_zipf_slope_negative_on_skewed_corpus(spark):
    # a corpus with frequencies 32,16,8,4,2,1 has slope ~ -ln2-ish; the
    # operator just needs to see a clearly negative slope and exact vocab
    words = []
    for rank, (w, c) in enumerate([("a", 32), ("b", 16), ("c", 8), ("d", 4), ("e", 2), ("f", 1)]):
        words += [w] * c
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    row = textstats.zipf_slope_df(df).collect()[0]
    assert row["n_vocab"] == 6
    assert row["zipf_slope"] < -1.0


def test_canonicalize_url_idempotent(spark):
    """A canonicalizer must be a projection: canon(canon(x)) == canon(x).
    Fuzz with a combinatorial corpus of adversarial URL fragments (repeated
    separators, tracking runs, ports, fragments) in one job."""
    import itertools

    from kafka_connect_morphlines_spark.functions import web

    schemes = ["http://", "HTTPS://WWW.", "", "ftp://"]
    hosts = ["A.com", "a.com:80", "a.com:443", "a.com:8080"]
    paths = ["", "/", "/x", "/x/", "/x//", "/x/?", "/??", "/?&", "///"]
    queries = ["", "?utm_a=1", "?utm_a=1&utm_b=2&id=3", "?id=1&gclid=2&", "?&", "????", "?a=1&&b=2"]
    frags = ["", "#f", "#a#b"]
    urls = ["".join(p) for p in itertools.product(schemes, hosts, paths, queries, frags)]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i long, url string")
    once = web.canonicalize_url(F.col("url"))
    twice = web.canonicalize_url(once)
    bad = df.select("url", once.alias("c1"), twice.alias("c2")).filter(F.col("c1") != F.col("c2")).collect()
    assert not bad, [(r["url"], r["c1"], r["c2"]) for r in bad[:10]]


# ---------------------------------------------------------------------------
# semantic (k-means + SemDeDup)
# ---------------------------------------------------------------------------


def _toy_embeddings(spark):
    """Two tight clusters on orthogonal axes plus one outlier."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.05, 0.0, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.05, 0.99, 0.0, 0.0]),   # near-dup of 2
        (4, [0.0, 0.0, 1.0, 0.0]),     # lone axis
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_fit_deterministic_and_converged(spark):
    from kafka_connect_morphlines_spark.functions import semantic

    df = _toy_embeddings(spark)
    c1 = semantic.kmeans_fit(df, k=3, n_iter=4, seed=7)
    c2 = semantic.kmeans_fit(df, k=3, n_iter=4, seed=7)
    assert c1 == c2, "same seed must reproduce the exact fit"
    # every point should sit close to its centroid after convergence on
    # this trivially-separable set: mean cosine distance well under the
    # cross-cluster distance (~1.0)
    stats = semantic.kmeans_inertia(df, c1).collect()
    assert sum(r["cluster_size"] for r in stats) == 5
    assert all(r["mean_cos_dist"] < 0.1 for r in stats)


def test_semantic_dedup_drops_lower_id_neighbors(spark):
    from kafka_connect_morphlines_spark.functions import semantic

    df = _toy_embeddings(spark)
    # one centroid per axis: near-dup pairs land in the same cluster.
    # (Centroids ON the dup points would split a pair across clusters —
    # that's the documented SemDeDup blocking approximation.)
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0]), (2, [0.0, 0.0, 1.0, 0.0])]
    pairs = semantic.semantic_dup_pairs(df, cents, threshold=0.95).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(0, 1), (2, 3)}
    kept = semantic.semantic_dedup_keep(df, cents, threshold=0.95)
    assert sorted(r["vec_id"] for r in kept.collect()) == [0, 2, 4]


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    from kafka_connect_morphlines_spark.functions import semantic

    # k larger than the number of distinct directions: some centroid keeps
    # its init vector instead of collapsing to NaN
    df = _toy_embeddings(spark)
    cents = semantic.kmeans_fit(df, k=5, n_iter=3, seed=1)
    assert len(cents) == 5
    assert all(all(v == v for v in vec) for _, vec in cents)  # no NaNs


# ---------------------------------------------------------------------------
# bloom (incremental dedup)
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_bounded_fp(spark):
    from kafka_connect_morphlines_spark.functions import bloom

    keys = spark.range(0, 1000).select(F.col("id").alias("k"))
    m, k = bloom.bloom_parameters(1000, fpp=0.01)
    words = bloom.bloom_words(keys, F.col("k"), m, k)
    # members: every inserted key must probe maybe=True (no false negatives)
    probed = bloom.probe_bloom(keys, F.col("k"), words, m, k)
    assert probed.filter(~F.col("_maybe")).count() == 0
    # non-members: false-positive rate near the design point (well under 5x)
    outside = spark.range(10_000, 20_000).select(F.col("id").alias("k"))
    fp = bloom.probe_bloom(outside, F.col("k"), words, m, k).filter(F.col("_maybe")).count()
    assert fp < 500, f"fp rate {fp / 10_000} far above design 0.01"


def test_incremental_dedup_matches_exact_anti_join(spark):
    from kafka_connect_morphlines_spark.functions import bloom

    corpus = spark.range(0, 500).select((F.col("id") * 3).alias("k"))        # 0,3,...,1497
    new = spark.range(0, 300).select(F.col("id").alias("nk"), (F.col("id") * 2).alias("payload"))
    got = bloom.incremental_dedup(new, corpus, F.col("nk"), F.col("k"), fpp=0.05)
    expect = new.join(corpus, new["nk"] == corpus["k"], "left_anti")
    assert sorted(r["nk"] for r in got.collect()) == sorted(r["nk"] for r in expect.collect())
    assert set(got.columns) == {"nk", "payload"}


def test_bloom_parameters_sane(spark):
    from kafka_connect_morphlines_spark.functions import bloom

    m, k = bloom.bloom_parameters(1_000_000, 0.01)
    assert m % 64 == 0 and 9_000_000 < m < 11_000_000 and 6 <= k <= 8
    m2, k2 = bloom.bloom_parameters(0, 0.01)
    assert m2 >= 64 and k2 >= 1


# ---------------------------------------------------------------------------
# validation (Deequ-style quality gates)
# ---------------------------------------------------------------------------


def test_check_constraint_suite(spark):
    from kafka_connect_morphlines_spark.functions import validation as V

    df = spark.createDataFrame(
        [(1, 10.0, "A-ok"), (2, 55.0, "B-ok"), (2, None, "bad"), (4, -1.0, None)],
        "k long, v double, s string",
    )
    ref = spark.createDataFrame([(1,), (2,)], "rk long")
    out = V.check(
        df,
        [
            V.NotNull("v"),
            V.InRange("v", 0.0, 50.0),
            V.Matches("s", "^[A-Z]-"),
            V.Unique("k"),
            V.SubsetOf("k", ref, "rk"),
        ],
    ).collect()
    got = {(r["constraint"], r["column"]): (r["violations"], r["passed"]) for r in out}
    assert got[("not_null", "v")] == (1, False)
    assert got[("in_range[0.0,50.0]", "v")] == (3, False)  # 55, null, -1
    assert got[("matches[^[A-Z]-]", "s")] == (2, False)  # "bad", null
    assert got[("unique", "k")] == (1, False)  # k=2 twice
    assert got[("subset_of", "k")] == (1, False)  # k=4 not in ref


def test_expect_raises_with_detail(spark):
    from kafka_connect_morphlines_spark.functions import validation as V

    df = spark.createDataFrame([(1,), (None,)], "k long")
    with pytest.raises(V.ConstraintViolation, match="not_null"):
        V.expect(df, [V.NotNull("k")])
    clean = spark.createDataFrame([(1,), (2,)], "k long")
    assert V.expect(clean, [V.NotNull("k"), V.Unique("k")]).count() == 2


def test_single_unique_plans_without_expand(spark):
    """One distinct aggregate must not trigger the Expand multi-distinct
    plan — the whole suite stays a single-scan Aggregate."""
    from kafka_connect_morphlines_spark.functions import validation as V

    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    aggs = [V._violations(c).alias(f"v{i}") for i, c in enumerate([V.NotNull("v"), V.InRange("v", 0, 3), V.Unique("k")])]
    plan = df.agg(*aggs)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan


def test_profile_exact_values(spark):
    from kafka_connect_morphlines_spark.functions import validation as V

    df = spark.createDataFrame([(1.0,), (2.0,), (2.0,), (None,)], "x double")
    got = {(r["column"], r["metric"]): r["value"] for r in V.profile(df, ["x"], exact_distinct=True).collect()}
    assert got[("x", "row_count")] == 4.0
    assert got[("x", "completeness")] == 0.75
    assert got[("x", "n_distinct")] == 2.0
    assert got[("x", "min")] == 1.0 and got[("x", "max")] == 2.0
    assert got[("x", "mean")] == pytest.approx(5.0 / 3.0)


def test_hll_rollup_tracks_exact(spark):
    """Merged HLL union over group sketches must track the exact global
    distinct count within the sketch's error envelope."""
    df = spark.range(50_000).select((F.col("id") % 23).alias("g"), (F.col("id") % 4999).alias("k"))
    sk = df.groupBy("g").agg(F.hll_sketch_agg("k").alias("sk"))
    merged = sk.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e")).collect()[0]["e"]
    assert abs(merged - 4999) / 4999 < 0.05


# ---------------------------------------------------------------------------
# timeseries (resample + gap fill, rolling stats)
# ---------------------------------------------------------------------------


def test_resample_ffill_fills_gaps(spark):
    from kafka_connect_morphlines_spark.functions import timeseries

    rows = [
        ("a", "2024-01-01 00:10:00", 1.0),
        ("a", "2024-01-01 00:40:00", 2.0),   # later obs in same bucket wins
        ("a", "2024-01-01 03:05:00", 9.0),   # hours 1,2 are gaps
        ("b", "2024-01-01 05:00:00", 7.0),   # single-bucket key
    ]
    df = spark.createDataFrame(rows, "event_type string, ts_s string, value double").select(
        "event_type", F.to_timestamp("ts_s").alias("ts"), "value"
    )
    out = timeseries.resample_ffill(df, unit="hour")
    got = {(r["event_type"], str(r["bucket"])): (r["value"], r["n_obs"]) for r in out.collect()}
    assert got[("a", "2024-01-01 00:00:00")] == (2.0, 2)
    assert got[("a", "2024-01-01 01:00:00")] == (2.0, 0)  # gap carries last value
    assert got[("a", "2024-01-01 02:00:00")] == (2.0, 0)
    assert got[("a", "2024-01-01 03:00:00")] == (9.0, 1)
    assert got[("b", "2024-01-01 05:00:00")] == (7.0, 1)
    assert len(got) == 5  # b has no gap rows outside its span


def test_rolling_stats_window_frame(spark):
    from kafka_connect_morphlines_spark.functions import timeseries

    rows = [("a", "2024-01-01 00:0%d:00" % i, float(i)) for i in range(4)]
    df = spark.createDataFrame(rows, "event_type string, ts_s string, value double").select(
        "event_type", F.to_timestamp("ts_s").alias("ts"), "value"
    )
    out = timeseries.rolling_stats(df, window_rows=2).orderBy("ts").collect()
    assert [r["roll_avg"] for r in out] == [0.0, 0.5, 1.5, 2.5]
    assert [r["roll_min"] for r in out] == [0.0, 0.0, 1.0, 2.0]
    assert [r["roll_max"] for r in out] == [0.0, 1.0, 2.0, 3.0]


def test_resample_rejects_unknown_unit(spark):
    from kafka_connect_morphlines_spark.functions import timeseries

    with pytest.raises(ValueError, match="unsupported unit"):
        timeseries.resample_ffill(spark.range(1), unit="fortnight")


# ---------------------------------------------------------------------------
# pq (product quantization + ADC search)
# ---------------------------------------------------------------------------


def test_pq_roundtrip_recall_on_clustered_data(spark):
    """PQ-ADC top-k must recover most of the brute-force neighbors on
    separable clusters, and encoding must be deterministic."""
    import random

    from kafka_connect_morphlines_spark.functions import pq

    rnd = random.Random(7)
    rows = []
    for i in range(60):
        base = [1.0, 0.0, 0.0, 0.0] if i < 30 else [0.0, 0.0, 1.0, 0.0]
        rows.append((i, [b + rnd.uniform(-0.05, 0.05) for b in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = pq.pq_fit(df, m_subspaces=2, k_codes=4, n_iter=2, seed=1)
    assert len(books) == 2 and len(books[0]) == 4 and len(books[0][0]) == 2
    codes = pq.pq_encode(df, books)
    c1 = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    c2 = {r["vec_id"]: list(r["codes"]) for r in pq.pq_encode(df, books).collect()}
    assert c1 == c2
    query = [1.0, 0.0, 0.0, 0.0]
    hits = pq.pq_topk(codes, books, query, k=10).collect()
    # quantization at this granularity collapses a tight cluster onto one
    # code word, so ranking *within* the cluster is tied (ids ascending);
    # what PQ must get right is the cluster itself and the score scale
    assert all(r["vec_id"] < 30 for r in hits)
    assert all(r["score"] > 0.7 for r in hits)  # ~cosine of query vs (shrunk) reconstruction
    # ...and the wrong cluster must score far lower
    far = pq.pq_topk(codes, books, [0.0, 0.0, 1.0, 0.0], k=10).collect()
    assert all(r["vec_id"] >= 30 for r in far)


def test_pq_fit_rejects_indivisible_dim(spark):
    from kafka_connect_morphlines_spark.functions import pq

    df = spark.createDataFrame([(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="not divisible"):
        pq.pq_fit(df, m_subspaces=2)


def test_pagerank_ring_uniform_and_mass(spark):
    from pyspark.sql import functions as F
    from kafka_connect_morphlines_spark.functions import web

    # symmetric ring of 10 nodes: stationary distribution is uniform, and
    # with no dangling nodes total mass stays 1 every iteration
    n = 10
    e = spark.range(n).select(F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst"))
    edges = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    ranks = web.pagerank(edges, iters=4).collect()
    vals = [r["rank"] for r in ranks]
    assert len(vals) == n
    assert all(abs(v - 0.1) < 1e-9 for v in vals)
    assert abs(sum(vals) - 1.0) < 1e-8


def test_pagerank_hub_outranks_leaves(spark):
    from pyspark.sql import functions as F
    from kafka_connect_morphlines_spark.functions import web

    # star: hub 0 <-> leaves 1..9; hub must outrank every leaf
    e = spark.range(1, 10).select(F.lit(0).alias("src"), F.col("id").alias("dst"))
    edges = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    ranks = {r["id"]: r["rank"] for r in web.pagerank(edges, iters=5).collect()}
    assert ranks[0] > max(v for k, v in ranks.items() if k != 0) * 3


def test_pagerank_trade_graph_rejects_custkey_at_supplier_offset(spark, tmp_path):
    from kafka_connect_morphlines_spark.plans.queries import QUERIES

    # a customer id at the 1,000,000 supplier-id offset would make its
    # edges collide with supplier edges; the query must refuse, not mis-rank
    spark.createDataFrame([(1, 1000000)], "o_orderkey long, o_custkey long").write.parquet(
        str(tmp_path / "orders.parquet")
    )
    spark.createDataFrame([(1, 7)], "l_orderkey long, l_suppkey long").write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    with pytest.raises(Exception, match="o_custkey >= 1000000"):
        QUERIES["pagerank_trade_graph"].build(spark, str(tmp_path)).collect()


def test_zscore_anomalies_flags_spike(spark):
    from pyspark.sql import functions as F
    from kafka_connect_morphlines_spark.functions import timeseries

    # 47 quiet hours at ~10 plus one 1000-value spike hour
    base = spark.range(48).select(
        F.lit("m").alias("event_type"),
        F.timestamp_millis(1700000000000 + F.col("id") * 3600 * 1000).alias("ts"),
        F.when(F.col("id") == 30, 1000.0).otherwise(10.0 + (F.col("id") % 3).cast("double")).alias("value"),
    )
    out = timeseries.zscore_anomalies(base, z_threshold=3.0).collect()
    assert len(out) == 1 and out[0]["x"] == 1000.0 and out[0]["z"] > 3.0


def test_kn_prefers_plausible_order(spark):
    """KN bigram logprob must score natural word order above shuffled salad
    built from the same tokens (unigram stats identical by construction)."""
    from kafka_connect_morphlines_spark.functions import textstats

    natural = "the cat sat on the mat and the dog sat on the rug"
    salad = "rug the on dog mat sat the and cat the on sat the"
    corpus = [(i, natural) for i in range(20)] + [(100, salad)]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    out = {r["doc_id"]: r["logprob"] for r in textstats.kn_bigram_logprob_df(df).collect()}
    assert out[0] > out[100]


def test_kn_probabilities_sum_to_one(spark):
    """For any seen context w1, sum over seen w2 of P_KN(w2|w1) plus the
    backed-off mass must be <= 1 (sanity of the discount algebra): here we
    check the seen-mass part is < 1 and > 0."""
    import math
    from kafka_connect_morphlines_spark.functions import textstats

    df = spark.createDataFrame(
        [(1, "a b a c a b a d"), (2, "b a b c")], "doc_id long, text string"
    )
    out = textstats.kn_bigram_logprob_df(df).collect()
    assert all(math.isfinite(r["logprob"]) and r["logprob"] < 0 for r in out)


def test_random_projection_preserves_distances(spark):
    import numpy as np
    from pyspark.sql import functions as F
    from kafka_connect_morphlines_spark.functions import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.first()["embedding"])
    out = similarity.random_projection(emb, dim, out_dim=24).limit(200).collect()
    X = np.array([r["embedding"] for r in out])
    Y = np.array([r["embedding_rp"] for r in out])
    rng = np.random.RandomState(0)
    ratios = []
    for _ in range(300):
        i, j = rng.randint(0, len(X), 2)
        dx = np.linalg.norm(X[i] - X[j])
        if dx < 1e-9:
            continue
        ratios.append(np.linalg.norm(Y[i] - Y[j]) / dx)
    r = np.array(ratios)
    # JL with out_dim=24: distances preserved in distribution (mean ~1)
    assert 0.85 < r.mean() < 1.15
    assert (np.abs(r - 1) < 0.6).mean() > 0.95
    # determinism: same projection on re-run
    again = similarity.random_projection(emb, dim, out_dim=24).limit(200).collect()
    assert again[0]["embedding_rp"] == out[0]["embedding_rp"]


def test_zscore_single_bucket_key_is_not_anomalous(spark):
    """A key with one bucket (or zero variance) has no distribution to
    deviate from — must yield no flags, not an ANSI divide-by-zero."""
    from pyspark.sql import functions as F
    from kafka_connect_morphlines_spark.functions import timeseries

    df = spark.createDataFrame(
        [("only", 1700000000000, 5.0)] + [("flat", 1700000000000 + i * 3600_000, 7.0) for i in range(10)],
        "event_type string, ms long, value double",
    ).withColumn("ts", F.timestamp_millis("ms"))
    assert timeseries.zscore_anomalies(df).collect() == []


def test_udtf_split_sentences_lateral(spark):
    from kafka_connect_morphlines_spark.functions import udtfs

    udtfs.register(spark)
    spark.createDataFrame(
        [(1, "One. Two! Three?"), (2, "No punctuation here"), (3, None)],
        "doc_id long, text string",
    ).createOrReplaceTempView("_udtf_t")
    rows = spark.sql(
        "SELECT d.doc_id, s.pos, s.sentence FROM _udtf_t d, "
        "LATERAL split_sentences(d.text) s ORDER BY doc_id, pos"
    ).collect()
    got = [(r["doc_id"], r["pos"], r["sentence"]) for r in rows]
    assert got == [
        (1, 0, "One."), (1, 1, "Two!"), (1, 2, "Three?"),
        (2, 0, "No punctuation here"),
    ]


def test_psi_drift_detects_shift(spark):
    from pyspark.sql import functions as F
    from kafka_connect_morphlines_spark.functions import validation

    base = spark.range(10_000).select((F.col("id") % 100).cast("double").alias("v"))
    same = spark.range(10_000).select(((F.col("id") + 7) % 100).cast("double").alias("v"))
    shifted = spark.range(10_000).select((F.col("id") % 100 + 60.0).alias("v"))
    stable = validation.psi_drift(base, same, F.col("v")).collect()[0]["psi"]
    drifted = validation.psi_drift(base, shifted, F.col("v")).collect()[0]["psi"]
    assert stable < 0.01
    assert drifted > 0.25


def test_rank_buckets_exact_terciles(spark):
    from kafka_connect_morphlines_spark.functions import traindata

    # group g: 9 distinct scores -> buckets of exactly 3; group h: ties
    # spanning a boundary share the value row and therefore the bucket
    rows = [("g", float(v)) for v in range(9, 0, -1)] + [
        ("h", 5.0), ("h", 5.0), ("h", 5.0), ("h", 1.0)
    ]
    df = spark.createDataFrame(rows, "lang string, score double")
    out = traindata.rank_buckets(df, value_col="score", group_col="lang", n_buckets=3, out_col="b")
    got = sorted((r["lang"], r["score"], r["b"]) for r in out.collect())
    g = [b for lang, v, b in got if lang == "g"]
    # descending: top 3 values bucket 1, middle 3 bucket 2, bottom 3 bucket 3
    want_g = sorted([1, 1, 1, 2, 2, 2, 3, 3, 3])
    assert sorted(g) == want_g
    by_val = {(lang, v) for lang, v, b in got if lang == "g" and b == 1}
    assert by_val == {("g", 9.0), ("g", 8.0), ("g", 7.0)}
    # h: n=4, thresholds ceil(4/3)=2, ceil(8/3)=3; the three tied 5.0 rows
    # have cb=0 -> bucket 1; the 1.0 row has cb=3 -> bucket 3
    h = {(v, b) for lang, v, b in got if lang == "h"}
    assert h == {(5.0, 1), (1.0, 3)}


def test_keep_best_representative(spark):
    from kafka_connect_morphlines_spark.functions import dedup

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)],
        "doc_id int, component int",
    )
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, 0.1), (5, 0.5), (6, 0.5)],
        "doc_id int, score double",
    )
    out = {r["doc_id"]: r["keep"] for r in dedup.keep_best_representative(clusters, scores).collect()}
    # cluster 1: docs 2 and 3 tie at 0.9 -> lower id 2 wins; cluster 4 is a
    # singleton; cluster 5: tie at 0.5 -> doc 5 wins
    assert out == {1: False, 2: True, 3: False, 4: True, 5: True, 6: False}


def test_line_frequency_dedup(spark):
    from kafka_connect_morphlines_spark.functions import textclean

    docs = spark.createDataFrame(
        [
            (1, "cookie banner\nreal content one\nfooter"),
            (2, "cookie banner\nreal content two\nfooter"),
            (3, "unique document\n  \nreal content three"),
            (4, ""),
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_lines"], r["n_removed"])
        for r in textclean.line_frequency_dedup(docs, min_docs=2).collect()
    }
    # 'cookie banner' and 'footer' appear in 2 docs -> removed everywhere;
    # blank lines don't count; empty doc keeps a row
    assert out[1] == ("real content one", 3, 2)
    assert out[2] == ("real content two", 3, 2)
    assert out[3] == ("unique document\nreal content three", 2, 0)
    assert out[4] == ("", 0, 0)


def test_cap_per_group(spark):
    from kafka_connect_morphlines_spark.functions import traindata

    df = spark.createDataFrame(
        [(1, "a", 0.5), (2, "a", 0.9), (3, "a", 0.9), (4, "b", 0.1)],
        "doc_id int, source string, score double",
    )
    out = {
        r["doc_id"]: (r["grp_rank"], r["keep"])
        for r in traindata.cap_per_group(df, group_col="source", cap=2, score_col="score").collect()
    }
    # source a: 2 and 3 tie at 0.9 -> id order ranks 2 first; 1 is rank 3, cut
    assert out == {2: (1, True), 3: (2, True), 1: (3, False), 4: (1, True)}
    # prefilter keeps exactly the kept set (keep-only semantics)
    pf = traindata.cap_per_group(
        df.repartition(4), group_col="source", cap=2, score_col="score", prefilter=True
    )
    kept = {r["doc_id"] for r in pf.filter("keep").collect()}
    assert kept == {2, 3, 4}


def test_vocab_growth(spark):
    from kafka_connect_morphlines_spark.functions import textstats

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b"), (3, "c d"), (4, "d e f")],
        "doc_id int, text string",
    )
    rows = {r["bucket"]: r.asDict() for r in textstats.vocab_growth(docs, n_buckets=2).collect()}
    # bucket 1 = docs {1,2}: 5 tokens, new types {a,b,c}; bucket 2 = docs
    # {3,4}: 5 tokens, new types {d,e,f}
    assert rows[1]["n_docs"] == 2 and rows[1]["n_tokens"] == 5
    assert rows[1]["new_types"] == 3 and rows[1]["cum_types"] == 3
    assert rows[2]["new_types"] == 3 and rows[2]["cum_types"] == 6
    assert rows[2]["cum_tokens"] == 10


def test_hard_negatives(spark):
    from kafka_connect_morphlines_spark.functions import similarity

    qs = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id int, embedding array<float>")
    corpus = spark.createDataFrame(
        [
            (10, [1.0, 0.001]),   # near-duplicate, cosine ~1 -> excluded
            (11, [1.0, 1.0]),     # cosine ~0.707 -> hardest negative
            (12, [0.0, 1.0]),     # cosine 0
            (13, [-1.0, 0.0]),    # cosine -1
        ],
        "vec_id int, embedding array<float>",
    )
    out = similarity.hard_negatives(qs, corpus, k=2, dup_threshold=0.9).collect()
    assert [(r["neighbor_id"], r["rank"]) for r in out] == [(11, 1), (12, 2)]


def test_int8_quantization_roundtrip_and_adc(spark):
    import math

    from kafka_connect_morphlines_spark.functions import similarity

    vecs = [
        (0, [1.0, -0.5, 0.25, 0.0]),
        (1, [0.1, 0.2, -0.3, 0.4]),
        (2, [0.0, 0.0, 0.0, 0.0]),   # all-zero: scale 0, zero codes
        (3, [1.0, 1.0, 1.0, 1.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<float>")
    q = {r["vec_id"]: (r["qvec"], r["scale"]) for r in similarity.quantize_int8(df).collect()}
    assert q[0][0] == [127, -63, 32, 0]  # floor(x/scale+0.5), scale=1/127
    assert q[2] == ([0, 0, 0, 0], 0.0)
    # dequantized values stay within scale/2 of the original
    for vid, vec in vecs:
        codes, scale = q[vid]
        for orig, code in zip(vec, codes):
            assert abs(orig - code * scale) <= scale / 2 + 1e-12

    top = similarity.int8_topk_adc(similarity.quantize_int8(df), [1.0, -0.5, 0.25, 0.0], k=2).collect()
    # vec 0 is the query itself -> top score; exact int dot * scales
    assert [r["vec_id"] for r in top] == [0, 3]
    d0 = sum(a * b for a, b in zip([127, -63, 32, 0], [127, -63, 32, 0]))
    assert math.isclose(top[0]["score"], d0 * (1 / 127.0) ** 2, rel_tol=1e-9)


def test_leakage_safe_split_clusters_never_straddle(spark):
    from kafka_connect_morphlines_spark.functions import traindata

    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id int")
    # chain 0-1-2 is one cluster; 10-11 another; rest singletons
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id_a int, id_b int"
    )
    out = traindata.leakage_safe_split(docs, edges).collect()
    by_comp = {}
    for r in out:
        by_comp.setdefault(r["component"], set()).add(r["split"])
    # every cluster gets exactly one split
    assert all(len(s) == 1 for s in by_comp.values())
    assert {r["doc_id"]: r["component"] for r in out}[2] == 0
    # singletons still spread across splits deterministically
    assert len({r["split"] for r in out}) >= 2


def test_dedup_lines_within_doc(spark):
    from kafka_connect_morphlines_spark.functions import textclean

    docs = spark.createDataFrame(
        [
            (1, "nav\ncontent a\nnav\ncontent b\nnav"),
            (2, "only once\nand again"),
            (3, ""),
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_lines"], r["n_removed"])
        for r in textclean.dedup_lines_within_doc(docs).collect()
    }
    # first 'nav' survives in place, repeats dropped; order preserved
    assert out[1] == ("nav\ncontent a\ncontent b", 5, 2)
    assert out[2] == ("only once\nand again", 2, 0)
    assert out[3] == ("", 0, 0)


def test_pii_scan_counts(spark):
    from kafka_connect_morphlines_spark.functions import textclean

    docs = spark.createDataFrame(
        [
            (1, "mail me at a.b@example.com or c@d.org, call 555-123-4567"),
            (2, "ssn 123-45-6789 from host 10.0.0.1"),
            (3, "nothing sensitive here"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in textclean.pii_scan(docs).collect()}
    assert out[1]["n_email"] == 2 and out[1]["n_phone"] == 1
    # the SSN is counted as SSN, not phone (redaction-order attribution)
    assert out[2]["n_ssn"] == 1 and out[2]["n_phone"] == 0 and out[2]["n_ip"] == 1
    assert all(v == 0 for k, v in out[3].items() if k != "doc_id")


def test_blocklist_filter_subdomain_semantics(spark):
    from kafka_connect_morphlines_spark.functions import web

    urls = spark.createDataFrame(
        [
            (1, "http://tracker.net/a"),
            (2, "http://ads.tracker.net:8080/b"),
            (3, "http://safe-tracker.net/c"),   # suffix without label boundary
            (4, "https://news.org/d"),
        ],
        "doc_id int, url string",
    )
    bl = spark.createDataFrame([("tracker.net",)], "domain string")
    out = {r["doc_id"]: r["blocked"] for r in web.blocklist_filter(urls, bl).collect()}
    assert out == {1: True, 2: True, 3: False, 4: False}


def test_bloom_semi_join_matches_exact_semi_join(spark):
    from kafka_connect_morphlines_spark.functions import bloom

    big = spark.createDataFrame([(i, i % 7) for i in range(500)], "row_id long, k long")
    dim = spark.createDataFrame([(0,), (3,), (5,)], "k long")
    got = bloom.semi_join_prefilter(big, F.col("k"), dim, F.col("k"), fpp=0.05)
    expect = big.join(dim.withColumnRenamed("k", "_dk"), big["k"] == F.col("_dk"), "left_semi")
    assert sorted(r["row_id"] for r in got.collect()) == sorted(
        r["row_id"] for r in expect.collect()
    )


def test_bloom_semi_join_empty_dim_keeps_nothing(spark):
    from kafka_connect_morphlines_spark.functions import bloom

    big = spark.createDataFrame([(i,) for i in range(50)], "k long")
    dim = spark.createDataFrame([], "k long")
    assert bloom.semi_join_prefilter(big, F.col("k"), dim, F.col("k")).count() == 0


def test_prototype_prune_drops_nearest_to_centroid(spark):
    from kafka_connect_morphlines_spark.functions import semantic

    # one cluster on the x axis: ids 0,1 are prototypical (cos 1.0/0.999),
    # id 9 sits at 45 degrees (least prototypical)
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.999, 0.04]),
        (5, [0.9, 0.3]),
        (9, [0.7, 0.7]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [(0, [1.0, 0.0])]
    kept = semantic.prototype_prune(df, cents, frac=0.25).collect()
    ids = sorted(r["vec_id"] for r in kept)
    # ceil(0.25*4) = 1 pruned: the single closest-to-centroid row (id 0)
    assert ids == [1, 5, 9]
    assert all(r["centroid"] == 0 for r in kept)


def test_prototype_prune_frac_zero_keeps_all(spark):
    from kafka_connect_morphlines_spark.functions import semantic

    df = _toy_embeddings(spark)
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    assert semantic.prototype_prune(df, cents, frac=0.0).count() == df.count()


def test_pca_whiten_properties(spark):
    import numpy as np

    from kafka_connect_morphlines_spark.functions import similarity as sim

    rng = np.random.default_rng(7)
    # anisotropic gaussian: one dominant direction
    base = rng.normal(size=(400, 6)) * np.array([5.0, 2.0, 1.0, 0.5, 0.2, 0.1])
    rows = [(i, [float(v) for v in base[i]]) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sim.pca_whiten(df, out_dim=3, sample_n=400)
    y = np.array([r["embedding_pca"] for r in out.orderBy("vec_id").collect()])
    assert y.shape == (400, 3)
    # whitened: each kept component has ~unit variance, near-zero covariance
    cov = np.cov(y.T)
    assert np.allclose(np.diag(cov), 1.0, atol=0.15)
    off = cov - np.diag(np.diag(cov))
    assert np.abs(off).max() < 0.1
    # deterministic across reruns
    y2 = np.array([r["embedding_pca"] for r in sim.pca_whiten(df, out_dim=3, sample_n=400).orderBy("vec_id").collect()])
    assert np.array_equal(y, y2)
