"""Unit tests for ops/quality.py (Gopher filter, PII), ops/decontam.py
(benchmark n-gram decontamination), and pack_chunks (ops/sampling.py).

The gate queries check these against DuckDB oracles on the sf0.01
fixture; here we pin hand-computable values on tiny frames so failures
localize to an operator, not a pipeline.
"""

import pytest
from pyspark.sql import functions as F

from whylogs_spark.core.plan import Plan, named
from whylogs_spark.ops import decontam, quality, sampling


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (0, "a a a b c\ndup line\ndup line\n- bullet\nend..."),
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "x " * 60),
            (3, "write to bob@example.com or https://x.test/a "
                "from 10.0.0.1 call +1-555-123-4567"),
            (4, ""),
        ],
        ["doc_id", "text"],
    )


def _row(df, doc_id):
    return {r["doc_id"]: r for r in df.collect()}[doc_id]


class TestRepetition:
    def test_dup_line_frac(self, docs):
        out = quality.with_repetition_stats(docs)
        r = _row(out, 0)
        # 5 non-blank lines, 'dup line' repeated once -> 1 - 4/5
        assert r["n_lines"] == 5
        assert r["dup_line_frac"] == pytest.approx(0.2)
        assert _row(out, 1)["dup_line_frac"] == 0.0

    def test_dup_ngram_frac_repeated_token(self, docs):
        out = quality.with_repetition_stats(docs)
        r = _row(out, 2)  # 60 identical tokens -> 58 grams, 1 distinct
        assert r["dup_ngram_frac"] == pytest.approx(1 - 1 / 58)

    def test_top_unigram_frac(self, docs):
        out = quality.with_repetition_stats(docs)
        # doc 0: 12 tokens, modal 'a' x3
        assert _row(out, 0)["top_unigram_frac"] == pytest.approx(3 / 12)
        # doc 1: 'the' x2 of 9
        assert _row(out, 1)["top_unigram_frac"] == pytest.approx(2 / 9)

    def test_empty_text_is_zero_not_null(self, docs):
        out = quality.with_repetition_stats(docs)
        r = _row(out, 4)
        assert r["dup_line_frac"] == 0.0
        assert r["dup_ngram_frac"] == 0.0
        assert r["top_unigram_frac"] == 0.0


class TestSymbolsAndFilter:
    def test_symbol_and_line_fracs(self, docs):
        out = quality.with_symbol_stats(docs)
        r = _row(out, 0)  # one '...' over 12 tokens
        assert r["symbol_word_ratio"] == pytest.approx(1 / 12)
        assert r["ellipsis_line_frac"] == pytest.approx(1 / 5)
        assert r["bullet_line_frac"] == pytest.approx(1 / 5)

    def test_gopher_filter_rules_and_verdict(self, docs):
        out = quality.gopher_filter(docs, min_tokens=2)
        rows = {r["doc_id"]: r for r in out.collect()}
        # doc 2 fails repetition rules
        assert not rows[2]["rule_dup_ngram_ok"]
        assert not rows[2]["rule_top_unigram_ok"]
        assert not rows[2]["gopher_pass"]
        assert rows[1]["gopher_pass"]
        # doc 4 fails the length window only
        assert not rows[4]["rule_len_ok"]
        assert not rows[4]["gopher_pass"]


class TestPii:
    def test_counts_and_redaction(self, docs):
        out = quality.with_pii_stats(docs, redact=True)
        r = _row(out, 3)
        assert (r["n_email"], r["n_url"], r["n_ipv4"], r["n_phone"]) \
            == (1, 1, 1, 1)
        assert r["n_pii"] == 4
        red = r["text_redacted"]
        for token in ("<EMAIL>", "<URL>", "<IPV4>", "<PHONE>"):
            assert token in red
        assert "bob@example.com" not in red
        assert _row(out, 1)["n_pii"] == 0


class TestDecontam:
    def test_overlap_counts(self, docs, spark):
        bench = docs.filter(F.col("doc_id") == 1)
        corpus = docs.filter(F.col("doc_id") != 1)
        exact_copy = spark.createDataFrame(
            [(9, "the quick brown fox jumps over the lazy dog and more")],
            ["doc_id", "text"])
        out = decontam.ngram_decontaminate(
            corpus.union(exact_copy), bench, n=4)
        rows = {r["doc_id"]: r for r in out.collect()}
        # doc 9 shares all 6 4-grams of the 9-token benchmark doc
        assert rows[9]["contaminated_ngrams"] == 6
        assert rows[9]["is_contaminated"]
        assert not rows[0]["is_contaminated"]
        assert rows[0]["contaminated_ngrams"] == 0

    def test_short_docs_produce_no_grams(self, docs, spark):
        bench = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
        out = decontam.ngram_decontaminate(docs, bench, n=8)
        assert out.filter(F.col("is_contaminated")).count() == 0


class TestUnigramLm:
    def test_lm_and_scores_hand_computed(self, spark):
        import math

        df = spark.createDataFrame(
            [(1, "the cat sat on the mat"), (2, "the dog"),
             (3, "zz unknownword qq"), (4, "   ")],
            ["doc_id", "text"])
        # N=11 tokens, v_all=9, V=min(9,5)=5 -> denom = 11 + 0.5*6 = 14
        lm = quality.train_unigram_lm(df, vocab_size=5, smoothing=0.5)
        lm_rows = {r["word"]: r for r in lm.collect()}
        assert set(lm_rows) == {"the", "cat", "dog", "mat", "on"}
        assert lm_rows["the"]["logprob"] == pytest.approx(
            math.log(3.5 / 14))
        assert lm_rows["cat"]["oov_logprob"] == pytest.approx(
            math.log(0.5 / 14))

        out = quality.unigram_lm_scores(df, vocab_size=5, smoothing=0.5)
        rows = {r["doc_id"]: r for r in out.collect()}
        exp2 = (math.log(3.5 / 14) + math.log(1.5 / 14)) / 2
        assert rows[2]["avg_logprob"] == pytest.approx(exp2)
        assert rows[2]["n_oov"] == 0
        assert rows[3]["n_oov"] == 3  # fully OOV doc
        assert rows[3]["avg_logprob"] == pytest.approx(math.log(0.5 / 14))
        assert rows[3]["ppl_proxy"] == pytest.approx(28.0)
        assert 4 not in rows  # blank doc has no tokens -> no row

    def test_external_lm_requires_metadata(self, spark):
        df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
        bad_lm = spark.createDataFrame(
            [("a", -1.0)], ["word", "logprob"])
        with pytest.raises(ValueError):
            quality.unigram_lm_scores(df, lm=bad_lm)


class TestPackChunks:
    def test_sequential_fill(self, spark):
        df = spark.createDataFrame(
            [(i, "s", 40) for i in range(5)], ["id", "shard", "sz"])
        out = sampling.pack_chunks(df, "sz", budget=100,
                                   shard_cols=["shard"],
                                   order_cols=["id"])
        rows = {r["id"]: r for r in out.collect()}
        # starts: 0,40,80,120,160 -> chunks 0,0,0,1,1
        assert [rows[i]["chunk_offset"] for i in range(5)] \
            == [0, 40, 80, 120, 160]
        assert [rows[i]["chunk_id"] for i in range(5)] == [0, 0, 0, 1, 1]

    def test_shards_pack_independently(self, spark):
        df = spark.createDataFrame(
            [(0, "a", 90), (1, "a", 90), (0, "b", 90)],
            ["id", "shard", "sz"])
        out = sampling.pack_chunks(df, "sz", budget=100,
                                   shard_cols=["shard"],
                                   order_cols=["id"])
        rows = {(r["shard"], r["id"]): r["chunk_id"] for r in out.collect()}
        assert rows[("a", 0)] == 0 and rows[("a", 1)] == 0
        assert rows[("b", 0)] == 0
        offs = {(r["shard"], r["id"]): r["chunk_offset"]
                for r in out.collect()}
        assert offs[("b", 0)] == 0  # shard b restarts at offset 0

    def test_budget_validation(self, spark):
        df = spark.createDataFrame([(1, 1)], ["id", "sz"])
        with pytest.raises(ValueError):
            sampling.pack_chunks(df, "sz", budget=0)


# ------------------------------------------------------ bigram LM

def test_bigram_lm_matches_python_model(spark):
    import math
    import re

    from whylogs_spark.ops import quality as Q

    rows = [(0, "the cat sat on the mat"),
            (1, "the cat ran"),
            (2, "the dog sat on the cat"),
            (3, "one"),          # single token: no transitions
            (4, ""),             # empty
            (5, "zz qq zz qq zz qq")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in Q.bigram_lm_scores(
        df, vocab_size=50, max_bigrams=100, backoff=0.4).collect()}
    assert 3 not in out and 4 not in out

    def toks(t):
        t = (t or "").strip().lower()
        return re.split(r"\s+", t) if t else []

    uni, N = {}, 0
    for _, t in rows:
        for w in toks(t):
            uni[w] = uni.get(w, 0) + 1
            N += 1
    k, V = 0.5, 50
    denom = N + k * (min(len(uni), V) + 1)
    lp = {w: math.log((c + k) / denom) for w, c in uni.items()}
    oov = math.log(k / denom)
    bi = {}
    for _, t in rows:
        ws = toks(t)
        for p in zip(ws, ws[1:]):
            bi[p] = bi.get(p, 0) + 1
    bs = {p: math.log(c / uni[p[0]]) for p, c in bi.items()}
    for did, t in rows:
        ws = toks(t)
        prs = list(zip(ws, ws[1:]))
        if not prs:
            continue
        s = sum(bs[p] if p in bs
                else math.log(0.4) + lp.get(p[1], oov) for p in prs)
        assert out[did].avg_logscore == pytest.approx(
            s / len(prs), abs=1e-9)
        assert out[did].n_pairs == len(prs)
    # every pair here fits the cap: no backoff anywhere
    assert all(r.n_backoff == 0 for r in out.values())


def test_bigram_lm_backoff_on_unseen_pairs(spark):
    from whylogs_spark.ops import quality as Q

    train = spark.createDataFrame(
        [(0, "a b a b a b")], "doc_id long, text string")
    blm = Q.train_bigram_lm(train)
    ulm = Q.train_unigram_lm(train, vocab_size=10)
    test = spark.createDataFrame(
        [(1, "b a x y")], "doc_id long, text string")
    r = Q.bigram_lm_scores(test, bigram_lm=blm, unigram_lm=ulm).collect()[0]
    # transitions: b->a (seen), a->x (backoff), x->y (backoff)
    assert r.n_pairs == 3 and r.n_backoff == 2


def test_bigram_lm_plan_is_broadcast_no_window(spark):
    from whylogs_spark.ops import quality as Q

    df = spark.createDataFrame(
        [(0, "a b c")], "doc_id long, text string")
    out = Q.bigram_lm_scores(df, vocab_size=10, max_bigrams=100)
    plan = Plan.of(out)
    assert plan.has("BroadcastHashJoin")
    assert not plan.has(named("Window"))
    assert plan.has("TakeOrderedAndProject")  # the bigram cap


# ---------------------------------------------------- text normalization

def test_normalize_text_nfc_and_nfkc(spark):
    from whylogs_spark.ops import text as T_ops

    rows = [
        (0, "café"),          # decomposed e + combining acute
        (1, "ﬁle"),            # fi ligature
        (2, "abc\x00\x07def\t\n"),  # control chars, keep tab/newline
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    nfc = {r.doc_id: r.text for r in
           T_ops.normalize_text(df, form="NFC").collect()}
    assert nfc[0] == "café"
    assert nfc[1] == "ﬁle"       # NFC keeps compatibility chars
    assert nfc[2] == "abcdef\t\n"     # controls stripped, ws kept
    assert nfc[3] is None
    nfkc = {r.doc_id: r.text for r in
            T_ops.normalize_text(df, form="NFKC").collect()}
    assert nfkc[1] == "file"          # ligature folded


def test_fix_mojibake_repairs_double_encoding(spark):
    from whylogs_spark.ops.text import fix_mojibake

    assert fix_mojibake("cafÃ©") == "café"   # Ã© -> é
    # double-mojibake repairs twice
    twice = "café".encode("utf-8").decode("latin-1") \
        .encode("utf-8").decode("latin-1")
    assert fix_mojibake(twice) == "café"
    # legitimate text containing the marker survives (no strict
    # round-trip improvement)
    assert fix_mojibake("São Paulo") == "São Paulo"
    assert fix_mojibake("") == ""
    # plain ascii untouched
    assert fix_mojibake("hello world") == "hello world"


def test_normalize_text_fix_encoding_in_dataframe(spark):
    from whylogs_spark.ops import text as T_ops

    broken = "café bar".encode("utf-8").decode("latin-1")
    df = spark.createDataFrame(
        [(0, broken), (1, "ok text")], "doc_id long, text string")
    out = {r.doc_id: r.text for r in T_ops.normalize_text(
        df, fix_encoding=True).collect()}
    assert out[0] == "café bar"
    assert out[1] == "ok text"


def test_normalize_text_out_col_and_bad_form(spark):
    from whylogs_spark.ops import text as T_ops

    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    out = T_ops.normalize_text(df, out_col="clean").collect()[0]
    assert out.text == "x" and out.clean == "x"
    with pytest.raises(ValueError):
        T_ops.normalize_text(df, form="NFX")


def test_normalize_text_preserves_column_order(spark):
    from whylogs_spark.ops import text as T_ops

    df = spark.createDataFrame(
        [(1, "café", "en")], "doc_id long, text string, lang string")
    out = T_ops.normalize_text(df)
    assert out.columns == ["doc_id", "text", "lang"]
    new = T_ops.normalize_text(df, out_col="clean")
    assert new.columns == ["doc_id", "text", "lang", "clean"]


# ---------------------------------------------- sentence-aware chunking

def test_chunk_text_sentences_packs_at_boundaries(spark):
    from whylogs_spark.ops.text import chunk_text_sentences

    rows = [(1, "One two three. Four five! Six seven eight nine? Ten."),
            (2, "no enders just words"),
            (3, ""), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.doc_id, r.chunk_idx): r for r in
           chunk_text_sentences(df, max_tokens=5).collect()}
    assert out[(1, 0)].chunk == "One two three. Four five! "
    assert out[(1, 0)].n_sentences == 2 and out[(1, 0)].n_tokens == 5
    assert out[(1, 1)].chunk == "Six seven eight nine? Ten."
    assert out[(2, 0)].n_tokens == 4
    assert not any(k[0] in (3, 4) for k in out)  # empty/null: no chunks
    # reassembled chunks concatenate back to the full sentence stream
    assert out[(1, 0)].chunk + out[(1, 1)].chunk == rows[0][1]


def test_chunk_text_sentences_boundary_overflow_contract(spark):
    from whylogs_spark.ops.text import chunk_text_sentences

    text = "tiny. " + " ".join(f"w{i}" for i in range(30)) + ". end."
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(chunk_text_sentences(df, max_tokens=10).collect(),
                  key=lambda r: r.chunk_idx)
    # pack_chunks contract: a sentence belongs to the chunk its offset
    # starts in — the 30-token sentence starts at offset 1, overflows
    # chunk 0 (with 'tiny.'), and 'end.' starts at offset 31 -> chunk 3
    assert [(r.chunk_idx, r.n_sentences, r.n_tokens) for r in rows] \
        == [(0, 2, 31), (3, 1, 1)]
    # no sentence is ever split across chunks
    assert sum(r.n_sentences for r in rows) == 3


def test_split_sentences_delimiter_glyph_and_vertical_tab(spark):
    from pyspark.sql import functions as F

    from whylogs_spark.ops.text import split_sentences

    df = spark.createDataFrame(
        [(1, "pre␞mid. after.\x0Bnext one.")], "id long, text string")
    sents = df.select(split_sentences(F.col("text"))).collect()[0][0]
    # pre-existing delimiter glyph stripped, never splits mid-sentence;
    # \x0B after punctuation IS a boundary (explicit class, both engines)
    assert sents == ["premid. ", "after.\x0B", "next one."]


class TestCompressionStats:
    def test_matches_direct_zlib_and_flags_repetition(self, spark):
        import zlib

        prose = ("The quick brown fox jumps over the lazy dog while "
                 "seventeen distinct ideas compete for attention in "
                 "this otherwise unremarkable paragraph of text.")
        spam = "buy now " * 200
        df = spark.createDataFrame(
            [(1, prose), (2, spam), (3, ""), (4, None)],
            "doc_id long, text string")
        got = {r.doc_id: r for r in
               quality.with_compression_stats(df).collect()}
        for i, txt in ((1, prose), (2, spam)):
            want = len(zlib.compress(txt.encode("utf-8"), 6))
            assert got[i].compressed_len == want
            assert got[i].compression_ratio == pytest.approx(
                want / len(txt.encode("utf-8")))
        # the repetitive doc compresses far better than prose
        assert got[2].compression_ratio < 0.1 < got[1].compression_ratio
        assert got[3].compression_ratio == 0.0
        assert got[4].compressed_len is None
        assert got[4].compression_ratio is None

    def test_level_parameter(self, spark):
        import zlib

        txt = "some moderately compressible text " * 30
        df = spark.createDataFrame([(1, txt)], "doc_id long, text string")
        r = quality.with_compression_stats(df, level=1).collect()[0]
        assert r.compressed_len == len(
            zlib.compress(txt.encode("utf-8"), 1))


class TestBlocklistStats:
    def test_word_hits_are_whole_word_and_case_insensitive(self, spark):
        df = spark.createDataFrame(
            [(1, "Spam! spam, SPAM and more spam."),
             (2, "A classy passage about classification."),
             (3, "clean text entirely"),
             (4, "")],
            "doc_id long, text string")
        got = {r.doc_id: r for r in quality.with_blocklist_stats(
            df, words=["spam", "ass"]).collect()}
        assert got[1].blocklist_count == 4
        assert not got[1].blocklist_ok
        # "classy"/"classification" must NOT hit "ass" (no substrings)
        assert got[2].blocklist_count == 0
        assert got[2].blocklist_ok
        assert got[3].blocklist_ok and got[4].blocklist_ok

    def test_phrases_count_adjacent_repeats(self, spark):
        df = spark.createDataFrame(
            [(1, "click here click here to win"),
             (2, "please do not click. Here is fine text"),
             (3, "Click, HERE!")],
            "doc_id long, text string")
        got = {r.doc_id: r for r in quality.with_blocklist_stats(
            df, words=["win"], phrases=["click here"]).collect()}
        assert got[1].blocklist_phrase_count == 2
        assert got[1].blocklist_count == 1
        assert not got[1].blocklist_ok
        # punctuation between tokens still matches the token run:
        # "click. Here" normalizes to ("click","here")
        assert got[2].blocklist_phrase_count == 1
        assert got[3].blocklist_phrase_count == 1

    def test_validation(self, spark):
        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="non-empty"):
            quality.with_blocklist_stats(df, words=[])
        with pytest.raises(ValueError, match="fewer than 2"):
            quality.with_blocklist_stats(df, words=["a"], phrases=["solo"])


class TestFuzzyDecontaminate:
    def test_max_jaccard_matches_python(self, spark):
        bench_rows = [(100, "alpha beta gamma delta epsilon zeta"),
                      (101, "one two three four five six seven")]
        docs_rows = [
            (1, "alpha beta gamma delta epsilon zeta"),          # exact
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "one two three four five six UNRELATED tail"),
            (4, "totally different content with no overlap here"),
        ]
        n = 3
        docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
        bench = spark.createDataFrame(
            bench_rows, "doc_id long, text string")
        out = {r.doc_id: r for r in decontam.fuzzy_decontaminate(
            docs, bench, n=n, threshold=0.5).collect()}

        def grams(t):
            toks = t.lower().split()
            return {" ".join(toks[i:i + n])
                    for i in range(len(toks) - n + 1)}

        for did, dtxt in docs_rows:
            best_j, best_b = 0.0, None
            for bid_, btxt in bench_rows:
                a, b = grams(dtxt), grams(btxt)
                j = len(a & b) / len(a | b) if a | b else 0.0
                if j > best_j:
                    best_j, best_b = j, bid_
            assert out[did].max_jaccard == pytest.approx(best_j), did
            if best_j > 0:
                assert out[did].matched_benchmark == best_b
            else:
                assert out[did].matched_benchmark is None
            assert out[did].is_contaminated == (best_j >= 0.5)

    def test_annotates_every_corpus_row_and_validates(self, spark):
        docs = spark.createDataFrame(
            [(i, f"doc {i} words here") for i in range(5)],
            "doc_id long, text string")
        bench = spark.createDataFrame(
            [(0, "entirely disjoint benchmark text")],
            "doc_id long, text string")
        out = decontam.fuzzy_decontaminate(docs, bench, n=2)
        assert out.count() == 5
        assert out.filter("is_contaminated").count() == 0
        with pytest.raises(ValueError, match="threshold"):
            decontam.fuzzy_decontaminate(docs, bench, threshold=0.0)


def test_blocklist_random_corpus_vs_python_model(spark):
    """200 random documents over a tiny alphabet (high collision rate
    -> adjacent/overlapping phrase repeats occur naturally): Spark
    counts must equal a direct Python token-window model for every
    document."""
    import random
    import re as _re

    rng = random.Random(77)
    vocab = ["ab", "cd", "ef", "Ab,", "x9", "-", "??", "cd."]
    words = ["ab", "x9"]
    phrases = ["cd ef", "ab ab"]
    docs = []
    for i in range(200):
        n = rng.randint(0, 25)
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in quality.with_blocklist_stats(
        df, words=words, phrases=phrases).collect()}

    split = _re.compile(r"[^a-z0-9]+")
    for did, txt in docs:
        toks = [t for t in split.split(txt.lower()) if t]
        w = sum(1 for t in toks if t in words)
        p = 0
        for ph in phrases:
            pt = ph.split()
            k = len(pt)
            p += sum(1 for j in range(len(toks) - k + 1)
                     if toks[j:j + k] == pt)
        assert got[did].blocklist_count == w, (did, txt)
        assert got[did].blocklist_phrase_count == p, (did, txt)
        assert got[did].blocklist_ok == (w + p == 0)


def test_fuzzy_decontam_random_corpus_vs_python_model(spark):
    """150 random docs over a colliding vocabulary vs a direct Python
    max-Jaccard model: max_jaccard, argmax benchmark (min-id ties),
    and the verdict must match for every corpus doc."""
    import random

    rng = random.Random(55)
    vocab = [f"w{i}" for i in range(12)]
    docs, bench = [], []
    for i in range(150):
        n = rng.randint(0, 15)
        txt = " ".join(rng.choice(vocab) for _ in range(n))
        (bench if i % 5 == 0 else docs).append((i, txt))
    n = 2
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    bdf = spark.createDataFrame(bench, "doc_id long, text string")
    got = {r.doc_id: r for r in decontam.fuzzy_decontaminate(
        ddf, bdf, n=n, threshold=0.3).collect()}

    def grams(t):
        toks = t.lower().split()
        return {" ".join(toks[j:j + n])
                for j in range(len(toks) - n + 1)}

    for did, dtxt in docs:
        best = (0.0, None)
        for bid, btxt in bench:
            a, b = grams(dtxt), grams(btxt)
            if not a or not b:
                continue
            j = len(a & b) / len(a | b)
            if j > best[0] or (j == best[0] and j > 0
                               and (best[1] is None or bid < best[1])):
                best = (j, bid)
        r = got[did]
        assert r.max_jaccard == pytest.approx(best[0]), (did, dtxt)
        assert r.matched_benchmark == best[1], (did, dtxt)
        assert r.is_contaminated == (best[0] >= 0.3)
