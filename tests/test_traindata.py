"""Unit tests for the corpus-preparation operators (functions/traindata.py)."""

import pytest
from pyspark.sql import functions as F

from kafka_connect_morphlines_spark.functions import traindata


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_word_ngrams_exploded(spark):
    df = _docs(spark, [(1, "a b c d", "s"), (2, "x y", "s"), (3, "", "s")])
    out = traindata.word_ngrams_exploded(df, n=3).orderBy("doc_id", "gram").collect()
    assert [(r.doc_id, r.gram) for r in out] == [(1, "a b c"), (1, "b c d")]


def test_decontaminate_bounds(spark):
    corpus = _docs(
        spark,
        [
            (1, "the quick brown fox jumps", "s"),  # identical to benchmark doc
            (2, "completely different words here now", "s"),  # disjoint
            (3, "so short", "s"),  # < 3 tokens -> 0 grams
        ],
    )
    bench = _docs(spark, [(100, "the quick brown fox jumps", "s")])
    out = {r.doc_id: r for r in traindata.decontaminate(corpus, bench, n=3).collect()}
    assert out[1].contamination == 1.0 and out[1].n_grams == 3
    assert out[2].contamination == 0.0 and out[2].n_contaminated == 0
    assert out[3].n_grams == 0 and out[3].contamination == 0.0


def test_hash_split_deterministic_and_total(spark, tables):
    docs = tables("documents")
    a = traindata.hash_split(docs).groupBy("split").count().collect()
    b = traindata.hash_split(docs).groupBy("split").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    total = sum(r["count"] for r in a)
    assert total == docs.count()
    by = {r["split"]: r["count"] for r in a}
    # 90/5/5 within loose tolerance at n=500
    assert by.get("train", 0) > 0.8 * total


def test_mixture_sample_subset_and_rate(spark, tables):
    docs = tables("documents")
    kept = traindata.mixture_sample(docs, rates={"src0": 0.0, "src1": 1.0})
    by = {r["source"]: r["count"] for r in kept.groupBy("source").count().collect()}
    n_src1 = docs.filter("source = 'src1'").count()
    assert "src0" not in by  # rate 0 drops everything
    assert by["src1"] == n_src1  # rate 1 keeps everything
    # determinism: same rows both runs
    ids1 = sorted(r.doc_id for r in kept.select("doc_id").collect())
    ids2 = sorted(r.doc_id for r in traindata.mixture_sample(docs, rates={"src0": 0.0, "src1": 1.0}).select("doc_id").collect())
    assert ids1 == ids2


def test_pack_sequences_running_fill(spark):
    # token counts: 3, 4, 5 with budget 6 -> start offsets 0, 3, 7 -> bins 0, 0, 1
    df = _docs(spark, [(1, "a b c", "s"), (2, "a b c d", "s"), (3, "a b c d e", "s")])
    out = {r.doc_id: r.bin_id for r in traindata.pack_sequences(df, budget=6).collect()}
    assert out == {1: 0, 2: 0, 3: 1}


def test_chunk_documents_roundtrip(spark):
    text = " ".join(f"t{i}" for i in range(150))
    df = _docs(spark, [(1, text, "s"), (2, "", "s")])
    out = traindata.chunk_documents(df, window=64).orderBy("doc_id", "chunk_id").collect()
    assert [r.doc_id for r in out] == [1, 1, 1]  # empty doc -> no rows
    assert [r.n_tokens for r in out] == [64, 64, 22]
    assert " ".join(r.chunk_text for r in out) == text


def test_edge_whitespace_is_not_a_token(spark):
    """Leading/trailing tabs and newlines are separators, never empty
    tokens: ``"\talpha beta\n"`` has 2 tokens and ``"\n"`` none, in every
    operator that tokenizes."""
    df = _docs(spark, [(1, "\talpha beta\n", "s"), (2, "\n", "s")])
    chunks = traindata.sliding_window_chunks(df, window=4, stride=4).collect()
    assert [(r.doc_id, r.n_tokens, r.chunk_text) for r in chunks] == [(1, 2, "alpha beta")]
    rates = traindata.temperature_rates(df, alpha=1.0).collect()
    assert [r.n_tokens for r in rates] == [2]


def test_connected_components_transitive(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (6, 7)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id long")
    out = {r.doc_id: r.component for r in traindata.connected_components(edges, nodes).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 6, 7: 6, 8: 8}


def test_connected_components_long_chain(spark):
    """A 200-node path converges well inside max_iter=10: pointer jumping
    doubles label reach per round (plain neighbor propagation would need
    ~200 rounds and silently return a partial labeling)."""
    n = 200
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    out = traindata.connected_components(edges, nodes, max_iter=10)
    comps = {r.component for r in out.collect()}
    assert comps == {0}  # one component, fully collapsed to the min id


def test_encode_documents_order_and_oov(spark):
    """Token ids come back in document order; OOV tokens map to unk_id=0."""
    from kafka_connect_morphlines_spark.functions import traindata

    docs = spark.createDataFrame(
        [(1, "b a b c"), (2, "a a zz"), (3, "   ")],
        "doc_id int, text string",
    )
    vocab = traindata.build_vocab(docs, vocab_size=2)  # keeps a(3), b(3) -> drops c, zz
    v = {r["tok"]: r["token_id"] for r in vocab.collect()}
    assert set(v) == {"a", "b"} and sorted(v.values()) == [1, 2]
    out = {r["doc_id"]: r for r in traindata.encode_documents(docs, vocab).collect()}
    assert out[1]["token_ids"] == [v["b"], v["a"], v["b"], 0]
    assert out[2]["token_ids"] == [v["a"], v["a"], 0]
    assert out[1]["n_tokens"] == 4
    assert 3 not in out  # whitespace-only doc has nothing to encode


def test_temperature_rates_flatten_toward_uniform(spark):
    from kafka_connect_morphlines_spark.functions import traindata

    docs = spark.createDataFrame(
        [(i, "big " * 99 + "big", "large") for i in range(9)]
        + [(100, "small word two three", "tiny")],
        "doc_id long, text string, source string",
    )
    hot = {r["source"]: r for r in traindata.temperature_rates(docs, alpha=1.0).collect()}
    cool = {r["source"]: r for r in traindata.temperature_rates(docs, alpha=0.3).collect()}
    # alpha=1: p proportional to raw token mass
    assert hot["large"]["n_tokens"] == 900 and hot["tiny"]["n_tokens"] == 4
    assert hot["large"]["p"] == pytest.approx(900 / 904, abs=1e-6)
    # lower temperature flattens: the small source's share must rise
    assert cool["tiny"]["p"] > hot["tiny"]["p"]
    # rate is capped at 1 even when the budget exceeds the source size
    caps = traindata.temperature_rates(docs, alpha=1.0, token_budget=10_000_000)
    assert all(r["rate"] == 1.0 for r in caps.collect())


def test_weighted_sample_exact_k_and_bias(spark):
    from pyspark.sql import functions as F
    from kafka_connect_morphlines_spark.functions import traindata

    # 500 light rows (w=1) + 500 heavy rows (w=50)
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") >= 500, F.lit(50.0)).otherwise(F.lit(1.0)).alias("w"),
    )
    out = traindata.weighted_sample(df, F.col("w"), k=100).collect()
    assert len(out) == 100
    heavy = sum(1 for r in out if r["doc_id"] >= 500)
    assert heavy > 80  # heavy rows are 50x likelier; expect ~98
    # deterministic across reruns
    again = traindata.weighted_sample(df, F.col("w"), k=100).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(r["doc_id"] for r in again)


def _ref_bpe(texts, n_merges, end="</w>"):
    """Pure-Python reference BPE (Sennrich-style) for exact comparison."""
    from collections import Counter

    freqs = Counter()
    for t in texts:
        for w in t.split():
            freqs[w] += 1
    words = {w: list(w) + [end] for w in freqs}
    rules = []
    for rank in range(n_merges):
        pc = Counter()
        for w, syms in words.items():
            f = freqs[w]
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        (l, r), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        rules.append((rank, l, r, cnt))
        m = l + r
        for w, syms in words.items():
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    res.append(m)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            words[w] = res
    return rules


def test_bpe_train_matches_reference(spark):
    from kafka_connect_morphlines_spark.functions import traindata

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the lazy dog sleeps all the long day",
        "quick foxes and lazy dogs the the the",
        "lower lowest newer newest wider widest",
    ] * 3
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in traindata.bpe_train(df, n_merges=12).orderBy("rank").collect()
    ]
    want = _ref_bpe(texts, 12)
    assert got == want and len(got) == 12


def test_bpe_encode_applies_merges_greedily(spark):
    from kafka_connect_morphlines_spark.functions import traindata

    texts = ["low lower lowest low low", "new newer newest new new"] * 5
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    rules = traindata.bpe_train(df, n_merges=8)
    enc = {r["doc_id"]: r for r in traindata.bpe_encode(df, rules).collect()}
    # every doc encodes; tokens reassemble to the original text (merge
    # concatenation is lossless modulo the end marker)
    for i, t in enumerate(texts):
        toks = enc[i]["tokens"]
        rebuilt = "".join(toks).replace("</w>", " ").strip()
        assert rebuilt == t.replace(" ", " ").strip()
        assert enc[i]["n_tokens"] == len(toks)
    # merges actually fired: fewer symbols than raw chars+markers
    raw_syms = sum(len(w) + 1 for w in texts[0].split())
    assert enc[0]["n_tokens"] < raw_syms


def test_bpe_encode_splits_words_like_tokens(spark):
    """Encoding splits words where training does (``textstats.tokens``,
    Java ``\\s``): a no-break space stays inside its word."""
    from kafka_connect_morphlines_spark.functions import textstats

    df = spark.createDataFrame([(0, "a\xa0b c")], "doc_id long, text string")
    rules = traindata.bpe_train(df, n_merges=8)
    toks = traindata.bpe_encode(df, rules).collect()[0]["tokens"]
    words = df.select(textstats.tokens(F.col("text"))).first()[0]
    assert words == ["a\xa0b", "c"]
    assert "".join(toks).split("</w>")[:-1] == words


def test_normalize_scores_rank_semantics(spark):
    from kafka_connect_morphlines_spark.functions import traindata

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "a", 20.0), (4, "a", 30.0),
         (5, "b", 1000.0), (6, "b", 2000.0)],
        "doc_id long, source string, score double",
    )
    got = {r["doc_id"]: r["score_pct"] for r in
           traindata.normalize_scores(df, "score").collect()}
    assert got[1] == 0.0 and got[4] == 1.0
    assert got[2] == got[3]                      # ties share a rank
    assert got[5] == 0.0 and got[6] == 1.0       # per-source calibration


def test_diff_snapshots_statuses(spark):
    from kafka_connect_morphlines_spark.functions import traindata

    old = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "y"), (3, "z2"), (4, "w")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["status"] for r in traindata.diff_snapshots(old, new).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_unigram_lm_train_matches_reference(spark):
    from collections import Counter

    from kafka_connect_morphlines_spark.functions import traindata

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the lazy dog sleeps all the long day",
        "quick foxes and lazy dogs the the the",
        "lower lowest newer newest wider widest",
    ] * 3
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r["piece"], r["count"], round(r["logprob"], 6))
        for r in traindata.unigram_lm_train(df, vocab_size=48, n_iter=2)
        .orderBy("rank")
        .collect()
    ]
    wf = Counter(w for t in texts for w in t.split())
    want = [
        (p, c, round(lp, 6))
        for p, c, lp in traindata.unigram_lm_reference(
            sorted(wf.items()), vocab_size=48, n_iter=2
        )
    ]
    assert got == want
    # multi-char pieces were actually learned ("the" is the dominant word)
    assert any(len(p) > 1 for p, _, _ in got)


def test_unigram_lm_encode_covers_and_segments(spark):
    from kafka_connect_morphlines_spark.functions import traindata

    texts = ["low lower lowest low low", "new newer newest new new"] * 5
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    vocab = traindata.unigram_lm_train(df, vocab_size=32, n_iter=2)
    enc = {r["doc_id"]: r for r in traindata.unigram_lm_encode(df, vocab).collect()}
    for i, t in enumerate(texts):
        rebuilt = "".join(enc[i]["pieces"])
        assert rebuilt == t.replace(" ", "")
        assert enc[i]["n_pieces"] == len(enc[i]["pieces"])
    # unknown characters surface as <unk>, known runs still segment
    odd = spark.createDataFrame([(0, "low low§low")], "doc_id long, text string")
    pieces = traindata.unigram_lm_encode(odd, vocab).collect()[0]["pieces"]
    assert "<unk>" in pieces
    assert "".join(p for p in pieces if p != "<unk>") == "lowlowlow"
